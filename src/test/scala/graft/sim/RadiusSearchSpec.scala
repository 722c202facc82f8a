package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkTestSession

/** Radius search beyond the value oracle: the IVF-ball-pruned scan must
  * equal the driver-local brute ε-ball exactly (pruning is only allowed
  * to skip provably-below-τ lists), at more than one list count. */
class RadiusSearchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  test("sim_radius_search == driver-local brute ε-ball at nlist 16 and 4") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tau = 0.3
    val queries = vecs.filter(_._1 < 8)
    val want = (for {
      (qid, qe) <- queries
      (id, e) <- vecs if id != qid
      c = Similarity.cosine6(qe, e) if c >= tau
    } yield ((qid, id), c)).toMap
    for (nlist <- Seq(16, 4)) {
      val got = Similarity.radiusSearch(spark, sf, 8, tau, nlist).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got == want, {
        val missing = (want.keySet -- got.keySet).take(3)
        s"nlist=$nlist: pruning dropped true neighbors $missing or added phantoms " +
          s"${(got.keySet -- want.keySet).take(3)}"
      })
    }
    assert(want.nonEmpty, "no neighbor within the ball at fixture scale — degenerate τ")
  }

  test("sim_radius_search holds its list assignment: the returned plan scans no file") {
    val df = Similarity.radiusSearch(spark, sf, 8, 0.3, 16)
    try {
      val plan = df.queryExecution.executedPlan
      assert(find(plan)(_.isInstanceOf[FileSourceScanExec]).isEmpty,
        s"the final scan re-runs the assignment over the embeddings:\n$plan")
      assert(df.count() > 0)
    } finally graft.Checkpoints.releaseTracked()
  }

  // the coarse codebook is ingest (ArtifactCache): a repeated search skips
  // the seed collect and the 4 Lloyd treeAggregates, each a corpus scan —
  // same FS-statistics measurement as LmQualitySpec
  test("a second sim_radius_search call reads at least 4 corpus scans fewer than the first") {
    def fileBytesRead: Long =
      org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.get("file").getLong("bytesRead")
    def bytesOf(f: => Unit): Long = { val b0 = fileBytesRead; f; fileBytesRead - b0 }
    def search(): Unit =
      try Similarity.radiusSearch(spark, sf, 8, 0.3, 16).collect()
      finally graft.Checkpoints.releaseTracked()
    val oneScan = bytesOf(Similarity.vectors(spark, sf).rdd.count())
    assert(oneScan > 0L)
    graft.sources.ArtifactCache.clear()
    val first = bytesOf(search())
    val second = bytesOf(search())
    assert(first - second >= 4 * oneScan,
      s"first call read $first bytes, second $second, one corpus scan $oneScan")
  }
}
