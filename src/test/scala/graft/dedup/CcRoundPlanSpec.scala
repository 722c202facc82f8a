package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkTestSession

/** Pins two r13-verdict/advice invariants of the CC round that nothing else
  * asserted:
  *
  *  1. PLAN SHAPE — the pointer-jump lookup shares ONE materialization of
  *     the union-aggregate subplan with the min side (the `jp`/identical-
  *     aggregates device): the round's physical plan must contain exactly
  *     one `Union` (the min-propagation union-agg subtree evaluated once;
  *     a broken reuse re-plans it per join side and a second Union
  *     appears — exactly the regression column pruning caused once) and
  *     exactly one scan of the symmetrized edge checkpoint (the neighbor
  *     join re-running per round was the r13 bug).
  *  2. VALUE INVARIANT — `coalesce(prev, jp)` in the jump projection is a
  *     no-op only because every minned node has a labels row (symmetrized
  *     edges ⇒ dst set == src set), so `max(prev)` is never null. A null
  *     prev would silently substitute the jump TARGET's prev into the
  *     convergence metric. Assert no round ever produces one.
  */
class CcRoundPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def pathGraph(n: Int) = {
    import spark.implicits._
    (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
  }

  test("cc round: union-agg subplan materializes once; no null prev") {
    import spark.implicits._
    val edges = pathGraph(8)
    val nodes = (1 to 8).map(_.toLong).toDF("node")
    val captured = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val sink: (String, DataFrame) => Unit = (tag, df) => if (tag.startsWith("ccround_")) {
      // execute the tapped frame's OWN queryExecution so AQE finalizes and
      // runtime exchange reuse is visible; the round inputs (sym + previous
      // labels) are checkpoints, so this re-runs only the round's own
      // joins/aggregates
      df.queryExecution.toRdd.count(): Unit
      val nullPrev = df.filter(col("prev").isNull).count()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      captured += ((tag, plan, nullPrev))
    }
    graft.tools.PlanProbe.withSink(sink)(Dedup.connectedComponents(edges, nodes).collect())
    assert(captured.nonEmpty, "no CC rounds tapped")
    captured.foreach { case (tag, plan, nullPrev) =>
      assert(nullPrev == 0L,
        s"$tag: ${nullPrev} rows with null prev — the coalesce(prev, jp) " +
          s"no-op invariant is broken (asymmetric input?)")
      val unions = "\\bUnion\\b".r.findAllIn(plan).length
      assert(unions == 1,
        s"$tag: want the union-agg subtree planned ONCE (shared exchange), " +
          s"got $unions Union nodes:\n$plan")
      val symScans = "ExistingRDD\\[src".r.findAllIn(plan).length
      assert(symScans == 1,
        s"$tag: want exactly one scan of the symmetrized edge checkpoint " +
          s"per round, got $symScans:\n$plan")
    }
  }

  test("plan tap: a body that throws leaves no sink installed") {
    import spark.implicits._
    val edges = pathGraph(8)
    val nodes = (1 to 8).map(_.toLong).toDF("node")
    var taps = 0
    intercept[IllegalStateException] {
      graft.tools.PlanProbe.withSink((_, _) => taps += 1) {
        Dedup.connectedComponents(edges, nodes).collect()
        throw new IllegalStateException("body failed")
      }
    }
    val tappedInside = taps
    assert(tappedInside > 0, "no CC rounds tapped inside withSink")
    Dedup.connectedComponents(edges, nodes).collect()
    assert(taps == tappedInside, "the sink outlived the throwing withSink body")
  }
}
