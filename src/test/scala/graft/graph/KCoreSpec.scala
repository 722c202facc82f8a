package graft.graph

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** k-core correctness beyond the value oracle: the round-synchronous peel
  * must equal a driver-local reference peel, and the result must satisfy
  * the core's defining properties (min within-degree ≥ k, maximality via
  * idempotence). */
class KCoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  /** Driver-local reference peel over an undirected distinct edge set. */
  private def refKcore(edges: Set[(String, String)], k: Int): Map[String, Int] = {
    var alive = edges.flatMap(e => Seq(e._1, e._2))
    var deg = Map.empty[String, Int]
    var changed = true
    while (changed) {
      deg = edges.toSeq.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).map { case (n, es) => (n, es.length) }
      val next = deg.filter(_._2 >= k).keySet
      changed = next.size != alive.size
      alive = next
    }
    deg.filter(_._2 >= k)
  }

  test("hand graph: triangle+pendant — the pendant peels, then nothing else") {
    import spark.implicits._
    // triangle a-b-c plus pendant d on a; 2-core = the triangle
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = KCore.kcore(sym, 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("a peel that overruns maxRounds throws and leaves nothing pinned after the drain") {
    import spark.implicits._
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    graft.Checkpoints.releaseTracked()
    val held = spark.sparkContext.getPersistentRDDs.keySet
    // round 1 peels the pendant, so the fixpoint needs a second round
    intercept[IllegalArgumentException](KCore.kcore(sym, 2, maxRounds = 1))
    graft.Checkpoints.releaseTracked()
    val left = spark.sparkContext.getPersistentRDDs -- held
    assert(left.isEmpty, s"kcore left ${left.size} persisted RDDs")
  }

  test("graph_kcore == driver-local reference peel; min-degree and maximality hold") {
    // format long ids to names up front — the peel is representation-
    // independent, so the string reference pins the formatted engine output
    def nm(id: Long) = (if (id % 2 == 0) "c:" else "s:") + (id >> 1)
    val edges = PageRank.bipartiteEdges(spark, sf)
      .filter(org.apache.spark.sql.functions.col("w") >= 3)
      .collect().map(r => (nm(r.getLong(0)), nm(r.getLong(1)))).toSet
    val want = refKcore(edges, 3).map { case (n, d) => (n, d.toLong) }
    val got = KCore.graphKcore(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want,
      s"peel diff: extra=${(got.keySet -- want.keySet).take(3)} " +
        s"missing=${(want.keySet -- got.keySet).take(3)}")
    assert(got.nonEmpty, "empty 3-core — degenerate fixture")
    assert(got.values.forall(_ >= 3), "a member below the k floor")
    // maximality/idempotence: peeling the core removes nothing
    val again = refKcore(edges.filter(e => got.contains(e._1) && got.contains(e._2)), 3)
    assert(again.keySet == got.keySet, "core not a fixpoint")
    // the peel genuinely cascaded at fixture scale (a 1-round filter would
    // not exercise the round discipline)
    val nodes = edges.map(_._1)
    val round1 = edges.toSeq.groupBy(_._1).filter(_._2.length >= 3).keySet
    assert(got.keySet != round1 || round1 != nodes,
      "no node peeled at all — threshold too low to test anything")
  }
}
