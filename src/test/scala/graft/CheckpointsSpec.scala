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
}
