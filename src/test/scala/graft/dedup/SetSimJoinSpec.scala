package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkTestSession
import graft.plans.{SetSimJoin, SetSimJoinExec}

/** The fused prefix-filter join ([[graft.plans.SetSimJoin]]) against
  * all-pairs truth: the naive token self-join on the fixture, and a
  * driver-local brute force on synthetic edge cases. Pairs are compared as
  * sorted sequences, so a pair emitted twice fails as surely as a missing
  * one. */
class SetSimJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** `SparkPlan.collect` stops at AQE / query-stage leaves; walk through
    * them so assertions see the plan that actually ran. */
  private def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val through = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    pf.lift(p).toSeq ++ through.flatMap(deepCollect(_)(pf))
  }

  test("fixture: pair set and jaccard doubles equal the naive self-join at t = 0.5, 0.6, 0.8, 1.0") {
    for (t <- Seq(0.5, 0.6, 0.8, 1.0)) {
      val got = pairs(Dedup.tokenJaccard(spark, sf, threshold = t))
      val want = pairs(Dedup.tokenJaccardNaive(spark, sf, threshold = t))
      assert(want.nonEmpty, s"t=$t: no naive pairs, comparison degenerate")
      // == on doubles: bit-equal, not within a tolerance
      assert(got == want, s"t=$t: got-only=${got.diff(want).take(5)} want-only=${want.diff(got).take(5)}")
    }
  }

  /** Edge-case documents over 4 partitions: (doc_id, lang, source, toks). */
  private val synthetic: Seq[(Long, String, String, Seq[String])] = Seq(
    (1L, "en", "web", Seq.empty),                          // empty: never paired
    (2L, "en", "web", Seq.empty),
    (3L, "en", "web", Seq("solo")),                        // single-token, J = 1
    (4L, "en", "web", Seq("solo")),
    (5L, "en", "web", Seq("solo", "pair")),                // J(3, 5) = 0.5
    (6L, "en", "web", Seq("a", "b", "c", "d", "e")),       // 0.8 × 5 boundary:
    (7L, "en", "web", Seq("a", "b", "c", "d")),            //   J(6, 7) = 4/5
    (8L, "en", "web", Seq("a", "b", "c", "d", "e")),       // identical to 6
    (9L, "en", "web", Seq("r1", "r2", "r3", "x", "y", "z", "w", "v")), // many shared
    (10L, "en", "web", Seq("r1", "r2", "r3", "x", "y", "z", "w", "q")), //   prefix ranks
    (11L, "de", "web", Seq("a", "b", "c", "d", "e")),      // same set, other block
    (12L, "en", "news", Seq("a", "b", "c", "d", "e")),     // same set, other block
    (13L, "en", "news", Seq("a", "b", "c", "d", "f")),
    (14L, "en", "web", Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j"))) // length-pruned

  private def syntheticDocs(base: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    synthetic.map { case (id, l, s, t) => (id, l, s, t, base(id)) }
      .toDF("doc_id", "lang", "source", "toks", "base").repartition(4)
  }

  /** All pairs of one block, J = c / (n1 + n2 − c) ≥ t, oriented by `orient`. */
  private def brute(t: Double, orient: ((Long, Long)) => Option[(Long, Long)]) =
    (for {
      (a, la, sa, ta) <- synthetic
      (b, lb, sb, tb) <- synthetic if a < b && la == lb && sa == sb && ta.nonEmpty && tb.nonEmpty
      c = ta.toSet.intersect(tb.toSet).size
      j = c.toDouble / (ta.size + tb.size - c) if j >= t
      (d1, d2) <- orient((a, b))
    } yield (d1, d2, j)).sorted

  test("synthetic: empty, single-token, identical, length-boundary, multi-prefix and cross-block docs") {
    val docs = syntheticDocs()
    assert(docs.rdd.getNumPartitions >= 3)
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val got = pairs(SetSimJoin.jaccard(docs, t))
      assert(got == brute(t, Some(_)), s"t=$t")
      assert(got.map(p => (p._1, p._2)).distinct.size == got.size, s"t=$t: a pair emitted twice")
    }
    val at08 = pairs(SetSimJoin.jaccard(docs, 0.8)).map(p => (p._1, p._2) -> p._3).toMap
    assert(at08.get((3L, 4L)).contains(1.0))
    assert(at08.get((6L, 8L)).contains(1.0))
    assert(at08.get((6L, 7L)).contains(0.8), "the 4/5 pair at the 0.8 × 5 boundary")
    // at t = 0.5 docs 9 and 10 share four of their five prefix ranks
    // (r1, r2, r3, w); J = 7/9
    assert(pairs(SetSimJoin.jaccard(docs, 0.5)).count(p => (p._1, p._2) == ((9L, 10L))) == 1)
    assert(!at08.keys.exists { case (a, b) => Set(11L, 12L)(a) || Set(11L, 12L)(b) },
      "equal token sets in different (lang, source) blocks were paired")
    assert(!at08.keys.exists { case (a, b) => Set(1L, 2L)(a) || Set(1L, 2L)(b) })
  }

  test("synthetic split join: only (base, delta) pairs, base as d1") {
    val base = Set(4L, 6L, 10L)
    val got = pairs(SetSimJoin.jaccard(syntheticDocs(base), 0.5, base = Some("base")))
    val want = brute(0.5, { case (a, b) =>
      if (base(a) == base(b)) None else if (base(a)) Some((a, b)) else Some((b, a)) }).sorted
    assert(want.exists { case (d1, d2, _) => d1 > d2 }, "no base document with the larger id")
    assert(got == want)
  }

  test("dedup_token_jaccard plans <= 2 shuffles, no sort-merge join or window; funnel metrics add up") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.SparkEntry.queries("dedup_token_jaccard")(spark, sf)
    val rows = df.collect().length
    val plan = df.queryExecution.executedPlan
    val shuffles = deepCollect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, plan.toString)
    assert(deepCollect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
    assert(deepCollect(plan) { case w: WindowExec => w }.isEmpty, plan.toString)
    val join = deepCollect(plan) { case j: SetSimJoinExec => j }
    assert(join.size == 1, plan.toString)
    val m = join.head.metrics.map { case (k, v) => k -> v.value }
    assert(rows > 0)
    assert(m("emitted") == rows)
    assert(m("candidates") == m("lengthPruned") + m("emitOnceSkipped") + m("verified"))
    assert(m("emitOnceSkipped") > 0 && m("lengthPruned") > 0, m.toString)
    val formatted = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains(s"emitted=$rows"), formatted)
    assert(formatted.contains("candidate pairs=") && formatted.contains("emit-once skipped="))
  }

  test("threshold outside (0, 1] is rejected") {
    intercept[IllegalArgumentException](SetSimJoin.jaccard(syntheticDocs(), 0.0))
    intercept[IllegalArgumentException](SetSimJoin.jaccard(syntheticDocs(), 1.5))
  }
}
