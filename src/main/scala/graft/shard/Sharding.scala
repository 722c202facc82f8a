package graft.shard

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shard configuration — mirror of
  * /root/reference/src/shardmaster/common.go:21-29: `NShards` fixed shards,
  * each mapped to a replica-group id; config 0 maps everything to the
  * invalid group 0. */
final case class ShardConfig(num: Int, shards: Vector[Int], groups: Map[Int, Seq[String]])

/** The shardmaster's query surface (K4-K5) + the shardkv router (P6, K6).
  *
  * The config state machine is deterministic, tiny (NShards entries), and
  * driver-side by design — only the *routing* of keyed data by shard is a
  * distributed concern, expressed as a column function so Catalyst folds it
  * into scans/exchanges.
  */
object Sharding {
  val NShards = 10 // /root/reference/src/shardmaster/common.go:21

  /** `key2shard`: first byte of the key mod NShards
    * (/root/reference/src/shardkv/client.go:22-29). Note this is a second,
    * different partitioner from the MR FNV bucket hash. */
  def key2shard(key: String): Int =
    if (key == null || key.isEmpty) 0 else key.charAt(0).toInt % NShards

  /** Column form of [[key2shard]] — pure built-ins, codegen'd. */
  def shardCol(key: Column): Column =
    when(key.isNull || length(key) === 0, 0).otherwise(ascii(substring(key, 1, 1)) % NShards)

  val initial: ShardConfig = ShardConfig(0, Vector.fill(NShards)(0), Map.empty)

  /** Rebalance invariant (/root/reference/src/shardmaster/test_test.go:25-52):
    * every shard on a live group; per-group counts satisfy max-min <= 1.
    * Deterministic: groups are processed in sorted-gid order; moves pick the
    * lowest-indexed shard from the most-loaded group. */
  private def rebalance(shards: Vector[Int], gids: Seq[Int]): Vector[Int] = {
    if (gids.isEmpty) return Vector.fill(NShards)(0)
    val sorted = gids.sorted
    var cur = shards.map(g => if (sorted.contains(g)) g else 0)
    // place orphaned shards on least-loaded groups
    def counts = sorted.map(g => g -> cur.count(_ == g)).toMap
    for (i <- cur.indices if cur(i) == 0) {
      val tgt = sorted.minBy(g => (counts(g), g))
      cur = cur.updated(i, tgt)
    }
    // level until max-min <= 1
    var done = false
    while (!done) {
      val c = counts
      val maxG = sorted.maxBy(g => (c(g), -g))
      val minG = sorted.minBy(g => (c(g), g))
      if (c(maxG) - c(minG) <= 1) done = true
      else cur = cur.updated(cur.indexOf(maxG), minG)
    }
    cur
  }

  /** Join (K5): add groups, rebalance. */
  def join(c: ShardConfig, servers: Map[Int, Seq[String]]): ShardConfig = {
    val groups = c.groups ++ servers
    ShardConfig(c.num + 1, rebalance(c.shards, groups.keys.toSeq), groups)
  }

  /** Leave (K5): drop groups, rebalance. */
  def leave(c: ShardConfig, gids: Seq[Int]): ShardConfig = {
    val groups = c.groups -- gids
    ShardConfig(c.num + 1, rebalance(c.shards, groups.keys.toSeq), groups)
  }

  /** Move (K5): explicit shard placement, no rebalance
    * (/root/reference/src/shardmaster/common.go:53-57). */
  def move(c: ShardConfig, shard: Int, gid: Int): ShardConfig =
    ShardConfig(c.num + 1, c.shards.updated(shard, gid), c.groups)

  /** Query (K4): config #num, or latest for -1
    * (/root/reference/src/shardmaster/client.go:31-46). */
  def query(history: Seq[ShardConfig], num: Int): ShardConfig =
    if (num < 0 || num >= history.length) history.last else history(num)

  /** Oracle-checked routing query: events keyed by user_id string, counted
    * per shard — the data-plane half of K6 (partition pruning by shard). */
  def shardRouting(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(shardCol(col("user_id").cast("string")).as("shard"), col("value"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_events"))

  /** The deterministic Join/Join/Join/Leave/Move/Leave script (from config
    * 0) every config-plane query and the migration pipeline share. */
  val configScript: Seq[ShardConfig] = Seq[ShardConfig => ShardConfig](
    c => join(c, Map(1 -> Seq("g1a", "g1b"))),
    c => join(c, Map(2 -> Seq("g2a"), 3 -> Seq("g3a"))),
    c => join(c, Map(4 -> Seq("g4a"))),
    c => leave(c, Seq(2)),
    c => move(c, 3, 1),
    c => leave(c, Seq(1))).scanLeft(initial)((c, f) => f(c))

  /** Config state machine exercised end-to-end (K4-K5): the script emitted as
    * one row per (config, shard). Every intermediate config satisfies the
    * balance invariant (spec-checked); `n_groups` tracks live replica groups.
    * The config table is tiny by construction — it stays a driver-side value
    * and only its *application* (routing/migration) is distributed. */
  def configHistory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    configScript
      .flatMap(c => c.shards.zipWithIndex.map { case (gid, s) =>
        (c.num.toLong, s.toLong, gid.toLong, c.groups.size.toLong)
      })
      .toDF("config_num", "shard", "gid", "n_groups")
  }

  /** Shard migration plan between two configs (K7): which shards move where.
    * Tiny by construction (<= NShards rows) — drives the data movement in
    * [[migrateDF]] / [[migrateTable]]. */
  def migrationPlan(from: ShardConfig, to: ShardConfig): Seq[(Int, Int, Int)] =
    (0 until NShards).collect {
      case s if from.shards(s) != to.shards(s) => (s, from.shards(s), to.shards(s))
    }

  /** gid of each row's `shard` under config `c`, as a codegen'd column. */
  def gidCol(c: ShardConfig, shard: Column): Column =
    c.shards.zipWithIndex.foldLeft(lit(0)) { case (acc, (gid, s)) =>
      when(shard === s, lit(gid)).otherwise(acc)
    }

  /** K7 data plane, in-flight form: apply a config change to gid-tagged
    * state. Rows in moved shards are re-tagged to their new gid; rows in
    * unaffected shards pass through BIT-IDENTICAL and unshuffled — the
    * rewrite is one narrow codegen'd projection over the migration plan
    * (Challenge-2 semantics: unaffected shards never stop serving,
    * /root/reference/src/shardkv/test_test.go:817,887). */
  def migrateDF(state: DataFrame, from: ShardConfig, to: ShardConfig): DataFrame = {
    val plan = migrationPlan(from, to)
    if (plan.isEmpty) state
    else state.withColumn("gid",
      plan.foldLeft(col("gid")) { case (acc, (s, _, toGid)) =>
        when(col("shard") === s, lit(toGid)).otherwise(acc)
      })
  }

  /** K7 data plane, at-rest form: migrate a gid-PARTITIONED parquet state
    * table across a config change, moving ONLY the bytes that must move:
    *
    *   1. read just the affected gid partitions (partition pruning — the
    *      unaffected majority of the store is never opened),
    *   2. re-tag moved shards to their new gid ([[migrateDF]]),
    *   3. dynamic-partition-overwrite exactly the affected gid directories,
    *   4. delete gid directories the change emptied — the reference's shard
    *      garbage collection (challenge 1,
    *      /root/reference/src/shardkv/test_test.go:663,744).
    *
    * Unaffected partitions keep their physical files byte-for-byte (the
    * spec asserts file paths + sizes are untouched). At 100 TB this is the
    * difference between shipping the moved shards and rewriting the world. */
  def migrateTable(spark: SparkSession, path: String,
                   from: ShardConfig, to: ShardConfig): Unit = {
    val plan = migrationPlan(from, to)
    if (plan.isEmpty) return
    val affectedGids = (plan.map(_._2) ++ plan.map(_._3)).distinct
    val affected = spark.read.parquet(path)
      .filter(col("gid").isin(affectedGids.map(Int.box): _*))
    val retagged = migrateDF(affected, from, to)
      // eager checkpoint: breaks lineage so the overwrite below can't race
      // its own input (Spark refuses to overwrite a path it is reading)
      .localCheckpoint(true)
    val writtenGids = try {
      retagged.write
        // per-write option, not a session conf mutation: later
        // mode("overwrite").partitionBy writes in this session keep their
        // own semantics
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("gid").parquet(path)
      // retagged is checkpointed, so the distinct is a cheap bounded scan
      retagged.select(col("gid")).distinct().collect().map(_.getInt(0)).toSet
    } finally graft.Checkpoints.release(retagged)
    // GC: dynamic overwrite only replaces partitions PRESENT in the output,
    // so any affected gid that ends up with zero rows — whether it lost all
    // its shards, or still owns shards but every row it held moved away —
    // keeps a stale directory (its rows now duplicated under the new gid).
    // The emptied set is exactly affectedGids minus the gids the retagged
    // output actually wrote.
    affectedGids.filterNot(writtenGids).foreach { g =>
      val dir = new org.apache.hadoop.fs.Path(path, s"gid=$g")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(dir, true)
    }
  }

  /** Oracle-checked K7 query: keyed state derived from `events` (key =
    * user_id, value = its event count) is carried through EVERY config
    * change of [[configScript]] via chained [[migrateDF]] re-tags; after
    * each migration the per-(shard, gid) census is emitted. The oracle
    * recomputes the census from events in SQL and joins it to the pinned
    * config trajectory — so both the routing and every migration hop are
    * value-checked. */
  def migrationCensus(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.events(spark, dir)
      .select(col("user_id").cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n_events"))
      .withColumn("shard", shardCol(col("key")))
      // one keyed-state table feeds all six census branches: materialize it
      // once instead of re-scanning events per config hop
      .localCheckpoint(true)
    graft.Checkpoints.track(base) // the returned census union reads it
    val c1 = configScript(1)
    var state = base.withColumn("gid", gidCol(c1, col("shard")))
    val censuses = Seq.newBuilder[DataFrame]
    def census(cfgNum: Int, st: DataFrame): DataFrame =
      st.groupBy(col("shard"), col("gid"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n_events")).as("n_events"))
        .select(lit(cfgNum.toLong).as("config_num"), col("shard").cast("bigint").as("shard"),
          col("gid").cast("bigint").as("gid"), col("n_keys"), col("n_events"))
    censuses += census(1, state)
    for (t <- 2 until configScript.length) {
      state = migrateDF(state, configScript(t - 1), configScript(t))
      censuses += census(t, state)
    }
    censuses.result().reduce(_ unionAll _)
  }
}
