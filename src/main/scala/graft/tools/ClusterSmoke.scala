package graft.tools

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{EventStreams, ShardStream}

/** Full-set `local-cluster` smoke — run in its OWN JVM (gate step).
  *
  * `local[n]` runs every task in the driver JVM, so a closure that
  * accidentally captures a non-serializable object (or an executor-side
  * class that never registered with the serializer) passes every local test
  * and dies on a real cluster. `local-cluster[2,2,2048]` starts an
  * in-process Master with two real Worker child JVMs: every task closure,
  * broadcast, and shuffle block crosses an actual process boundary — the
  * cheapest possible rehearsal of the 1000-executor deployment. This main
  * executes EVERY registered query once at the given scale, writing its
  * full result to the `noop` sink, and fails nonzero on any error; row
  * counts are the correctness gate's job, not this one's.
  *
  * Run: `runMain graft.tools.ClusterSmoke [sfDir] [query]`. Prints
  * `[clustersmoke] ok <query>` per success, `[clustersmoke] <query> failed:
  * <root cause>` per failure, and one parseable summary line:
  *   [clustersmoke] total=<n> failed=<n>
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Option[String] = args.drop(1).headOption
    val spark = Harness.session("local-cluster[2,2,2048]", 8)
    val queries = Harness.runEach(spark, "clustersmoke", sfDir, Harness.registry(only.map(Set(_)))) {
      (name, df) => Harness.writeNoop(df); println(s"[clustersmoke] ok $name")
    }
    // Streaming surface: stateful operators run their state stores and
    // user functions ON EXECUTORS — a closure-capture bug inside a
    // mapGroupsWithState / flatMapGroupsWithState function is invisible to
    // local[n] for exactly the same reason as the batch cases above. One
    // micro-batch each of the KV fold and the shard-migration control
    // stream crosses the boundary; each must settle at least one row.
    // Skipped when a single query is selected for debugging.
    val streamChecks: Seq[(String, Harness.Builder)] = Seq(
      "stream_kv" -> (EventStreams.runKvStream _),
      "stream_shard_census" -> (shardCensus _))
    val streams = Harness.runEach(spark, "clustersmoke", sfDir, streamChecks.filter(_ => only.isEmpty)) {
      (name, df) =>
        if (df.count() == 0L) throw new IllegalStateException("produced 0 rows")
        println(s"[clustersmoke] ok $name")
    }
    val turns = queries ++ streams
    val failed = turns.count(_.result.isLeft)
    println(s"[clustersmoke] total=${turns.size} failed=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  private def shardCensus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // deleted at JVM exit, unlike a bare temp directory
    val base = graft.sources.ArtifactCache.sessionPath(spark, "cs_shard")
    val (in, ckpt) = (s"$base/in", s"$base/ckpt")
    ShardStream.opRows(graft.Tables.events(spark, sfDir)
        .select(graft.Tables.eventMs.as("ms"), col("user_id").cast("string").as("key"))
        .as[(Long, String)])
      .unionAll(ShardStream.configRows(spark, 1, Long.MaxValue / 2))
      .write.mode("append").parquet(in)
    val schema = Encoders.product[ShardStream.ShardIn].schema
    val stream = spark.readStream.schema(schema).parquet(in).as[ShardStream.ShardIn]
    val q = ShardStream.shardKvStream(stream, graft.shard.Sharding.configScript).toDF()
      .writeStream.format("memory").queryName("cs_shard")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    spark.table("cs_shard")
  }
}
