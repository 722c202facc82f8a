package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lifetime census of pinned intermediates (see [[Checkpoints]]): every
  * query that pins a checkpoint or a cache is built with its returned frame
  * kept referenced (so no ContextCleaner GC can hide a leak), read twice,
  * drained, and must leave behind no RDD it persisted. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private val census = Seq(
    // Q × k results that were persisted and returned
    "sim_topk_ivf", "sim_topk_ivf_stored", "sim_topk_mmr_ivf", "sim_index_upsert",
    "sim_topk_sq8",
    // checkpoints that the returned plan reads
    "dedup_components", "dedup_lsh_components", "dedup_lsh_components_prod",
    "pipeline_training_set", "ev_forecast", "ev_gap_fill", "pack_sequences",
    "pack_greedy_bins", "sample_dsir", "shard_migration", "text_bm25",
    "sim_hybrid_rrf", "text_heavy_hitters", "text_unigram_apply", "text_unigram_soft",
    // frames that several consumers of one query reuse
    "text_lm_quality", "sim_topk_pq", "sim_topk_ivfpq", "sim_ivf_recall",
    "sim_radius_search")

  census.foreach { name =>
    test(s"$name: the result reads the same until the drain, which frees all it pinned") {
      // trained models are memoized per fixture: drop them so the training
      // passes, and whatever they pin, run inside this call
      graft.sources.ArtifactCache.clear()
      Checkpoints.releaseTracked()
      val sc = spark.sparkContext
      val held = sc.getPersistentRDDs.keySet
      val df = SparkEntry.queries(name)(spark, sf)
      def rows: Seq[String] = df.collect().map(_.toString).toSeq.sorted
      val first = rows
      assert(first.nonEmpty, s"$name returned no rows")
      assert(rows == first, s"$name read differently the second time")
      Checkpoints.releaseTracked()
      val left = sc.getPersistentRDDs -- held
      assert(left.isEmpty, s"$name left ${left.size} persisted RDDs: " +
        left.values.map(r => s"${r.id} ${r.name}").mkString(", "))
      // the frame stays referenced up to here
      assert(df.columns.nonEmpty)
    }
  }

  test("checkpointCounting: the changed-row count of the checkpointed blocks, 0 iff none") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // seed 4 changes nothing: the zero must come back as an exact 0
      val rows = Seq.fill(1 + rnd.nextInt(200)) {
        val label = rnd.nextInt(50).toLong
        (label, if (seed == 4) label else rnd.nextInt(50).toLong)
      }
      val df = rows.toDF("label", "prev").repartition(1 + rnd.nextInt(5))
      val changed = col("label") =!= col("prev")
      val (chk, n) = Checkpoints.checkpointCounting(df, changed)
      try {
        assert(n == df.filter(changed).count(), s"seed $seed")
        assert(n == chk.filter(changed).count(), s"seed $seed")
        assert((n == 0L) == chk.filter(changed).isEmpty, s"seed $seed")
        assert(chk.count() == rows.size.toLong, s"seed $seed")
      } finally Checkpoints.release(chk)
    }
    val (empty, n) = Checkpoints.checkpointCounting(spark.range(0).toDF("id"), col("id") > 0)
    Checkpoints.release(empty)
    assert(n == 0L)
  }

  test("release takes exactly one checkpoint leaf and frees its blocks") {
    val sc = spark.sparkContext
    val chk = spark.range(16).toDF("id").localCheckpoint(true)
    val id = sc.getPersistentRDDs.keySet.max
    Seq(chk.filter("id > 3"), chk.union(chk), spark.range(4).toDF("id")).foreach { df =>
      intercept[IllegalArgumentException](Checkpoints.release(df))
    }
    assert(sc.getPersistentRDDs.contains(id), "a rejected release freed the blocks")
    assert(chk.count() == 16L)
    Checkpoints.release(chk)
    assert(!sc.getPersistentRDDs.contains(id))
  }

  test("release logs nothing: no truncated-lineage WARN for a tracked checkpoint") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("checkpoints-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(capture)
    def truncated = lines.toArray.map(_.toString).filter(_.contains("lineage has been truncated"))
    try {
      // positive control: the plain RDD unpersist does log the line here
      val probe = spark.range(4).toDF("id").localCheckpoint(true)
      probe.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        .rdd.unpersist(blocking = false)
      assert(truncated.nonEmpty, "the capture saw no truncated-lineage WARN from RDD.unpersist")
      lines.clear()
      Checkpoints.releaseTracked()
      val chk = Checkpoints.track(spark.range(16).toDF("id").localCheckpoint(true))
      assert(chk.count() == 16L)
      Checkpoints.releaseTracked()
      assert(truncated.isEmpty, truncated.mkString("\n"))
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }
}
