package graft.tools

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{CapStream, EventStreams, ShardStream}

/** STREAMING chaos gate (VERDICT r12 #5): the batch sweep proves every
  * registered QUERY deterministic under injected task deaths, but the
  * stateful streaming twins — state stores, checkpoint commits, foreachBatch
  * sinks — claim retry/restart safety without ever having run under
  * injection. [[ChaosSweep]] drives these five stateful twins end-to-end
  * twice (fault-free `local[8]` truth vs [[ChaosPlugin]] on local-cluster)
  * through [[Harness.chaosCompare]] and requires the SETTLED result
  * byte-equal.
  *
  * Each runner mirrors its parity spec's choreography (same slicing, same
  * micro-batch structure — deterministic in both sessions) and returns the
  * batch-boundary-INVARIANT settled frame (final state per key / the full
  * append set), so the comparison asserts end-state determinism, not
  * emission timing. */
object ChaosStreamSweep {

  private def scratch(spark: SparkSession, name: String): String =
    graft.sources.ArtifactCache.sessionPath(spark, s"chstream_$name")

  /** Streaming KV append-fold (K3/R4): exactly-once under retry. */
  private def kv(spark: SparkSession, dir: String): DataFrame =
    EventStreams.runKvStream(spark, dir)

  /** CDC argmax state, disordered arrival across 3 micro-batches; settled
    * snapshot = last emission per user. */
  private def cdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = scratch(spark, "cdc")
    val real = graft.Tables.events(spark, dir)
      .select(col("user_id"), graft.Tables.eventMs.as("ms"), col("event_id"),
        col("event_type"), col("value"))
      .as[EventStreams.CdcIn].collect()
    val shuffled = real.sortBy(e => (e.event_id * 2654435761L) % 1000003)
    val k = shuffled.length / 3
    Seq(shuffled.take(k), shuffled.slice(k, 2 * k), shuffled.drop(2 * k))
      .zipWithIndex.foreach { case (slice, i) =>
        slice.toSeq.toDS().coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
    val schema = Encoders.product[EventStreams.CdcIn].schema
    val q = EventStreams.cdcStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in/f*").as[EventStreams.CdcIn]).toDF()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Update())
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id)).write.mode("append").parquet(s"$base/out")
      }.start()
    try q.processAllAvailable() finally q.stop()
    val e = spark.read.parquet(s"$base/out")
    val payload = struct(e.columns.filter(c => c != "user_id" && c != "batch_id")
      .map(col).toIndexedSeq: _*)
    e.groupBy(col("user_id"))
      .agg(max_by(payload, col("batch_id")).as("s"))
      .select(col("user_id") +: spark.read.parquet(s"$base/out").columns
        .filter(c => c != "user_id" && c != "batch_id")
        .map(c => col(s"s.$c").as(c)).toIndexedSeq: _*)
  }

  /** On-arrival attribution across time-sliced micro-batches (append mode:
    * the emitted set IS the settled result). */
  private def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = scratch(spark, "attr")
    val real = graft.Tables.events(spark, dir)
      .select(col("user_id"), graft.Tables.eventMs.as("ms"), col("event_id"),
        col("event_type"), col("value"))
      .as[EventStreams.AttrIn].collect()
      .sortBy(e => (e.ms, e.event_id))
    val k = real.length / 3
    Seq(real.take(k), real.slice(k, 2 * k), real.drop(2 * k))
      .zipWithIndex.foreach { case (slice, i) =>
        slice.toSeq.toDS().coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
    val schema = Encoders.product[EventStreams.AttrIn].schema
    val q = EventStreams.attributionStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in/f*").as[EventStreams.AttrIn]).toDF()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(s"$base/out")
      }.start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$base/out")
  }

  /** Per-source cap with cross-batch eviction; settled = each source's
    * highest-generation emissions. */
  private def cap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = scratch(spark, "cap")
    val docs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        graft.functions.Fnv32.fnv32(
          concat(col("doc_id").cast("string"), lit(":cap"))).as("h"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.mode("append").parquet(s"$base/in")
    val q = CapStream.sourceCapStream(
        spark.readStream.schema(docs.schema).parquet(s"$base/in").as[CapStream.CapDoc]).toDF()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Update())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(s"$base/out")
      }.start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(s"$base/in")
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.read.parquet(s"$base/out")
    val lastGen = emitted.groupBy(col("source")).agg(max(col("gen")).as("gmax"))
    emitted.join(lastGen, "source").filter(col("gen") === col("gmax")).drop("gmax", "gen")
  }

  /** Sharded KV with in-stream config hops (migration census + serving);
    * append output = the settled hop/op record. */
  private def shard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.shard.Sharding
    val base = scratch(spark, "shard")
    val schema = Encoders.product[ShardStream.ShardIn].schema
    val ops = ShardStream.opRows(
      graft.Tables.events(spark, dir)
        .select(graft.Tables.eventMs.as("ms"), col("user_id").cast("string").as("key"))
        .as[(Long, String)])
    ops.write.mode("append").parquet(s"$base/in")
    val configs = Sharding.configScript :+
      Sharding.join(Sharding.configScript.last, Map(7 -> Seq("g7a")))
    val stream = spark.readStream.schema(schema).parquet(s"$base/in")
      .as[ShardStream.ShardIn]
    val q = ShardStream.shardKvStream(stream, configs).toDF()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(s"$base/out")
      }.start()
    try {
      q.processAllAvailable()
      val cfgMs = Long.MaxValue / 2
      for (t <- 1 to 6) {
        ShardStream.configRows(spark, t, cfgMs + t).write.mode("append").parquet(s"$base/in")
        q.processAllAvailable()
      }
      val extra = Seq((cfgMs + 10, "5x"), (cfgMs + 11, "5y"))
      ShardStream.opRows(spark.createDataset(extra)).write.mode("append").parquet(s"$base/in")
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(s"$base/out")
  }

  val runners: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "stream_kv_store" -> (kv _),
    "stream_cdc" -> (cdc _),
    "stream_attribution" -> (attribution _),
    "stream_source_cap" -> (cap _),
    "stream_shard_kv" -> (shard _))
}
