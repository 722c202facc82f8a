package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The codegen'd pair and token-length columns: [[TextAnalysis.pairsCol]]
  * equals the positional pair definition, [[TextAnalysis.charCountCol]]
  * equals the per-token length fold it replaced, and the five queries
  * that emit pairs build them inside whole-stage codegen, with no
  * interpreted lambda. */
class PairsColSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private val letters = Seq("a", "b", "c", "d", "e")

  /** (t[i], t[i+k]) for k = 1..w, i < size − k, grouped by k. */
  private def positional(t: Seq[String], w: Int): Seq[(String, String)] =
    (1 to w).flatMap(k => t.indices.filter(_ + k < t.size).map(i => (t(i), t(i + k))))

  test("pairsCol equals the positional pair definition for 0..5 tokens and w = 1..3") {
    import spark.implicits._
    // a local frame (folded by the optimizer: interpreted eval) and a
    // range-rooted one (whole-stage codegen) — both paths must agree
    val local = (0 to 5).map(n => (n.toLong, letters.take(n))).toDF("n", "t")
    val ranged = spark.range(0, 6).select(col("id").as("n"),
      slice(array(letters.map(lit): _*), lit(1), col("id").cast("int")).as("t"))
    for (df <- Seq(local, ranged); w <- 1 to 3) {
      val got = df.select(col("n"), TextAnalysis.pairsCol(col("t"), w).as("p")).collect()
        .map(r => r.getLong(0).toInt ->
          r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getString(0), p.getString(1))))
        .toMap
      (0 to 5).foreach { n =>
        assert(got(n) == positional(letters.take(n), w), s"n=$n w=$w")
      }
    }
    val nul = Seq(Option.empty[Seq[String]]).toDF("t")
      .select(TextAnalysis.pairsCol(col("t"), 2)).head()
    assert(nul.isNullAt(0), "a null token array has null pairs")
  }

  test("charCountCol equals the per-token length fold on multi-byte tokens") {
    import spark.implicits._
    val arrays = Seq(
      Seq("käse", "日本語", "a"), Seq("𝄞x", "ünïcødé"), Seq("plain", "ascii"), Seq.empty[String])
    val got = arrays.toDF("t").select(col("t"),
        TextAnalysis.charCountCol(col("t")).as("joined"),
        aggregate(transform(col("t"), x => length(x).cast("bigint")),
          lit(0L), (acc, x) => acc + x).as("folded"))
      .collect()
    assert(got.length == arrays.size)
    got.foreach { r =>
      val t = r.getSeq[String](0)
      val want = t.map(s => s.codePointCount(0, s.length).toLong).sum
      assert(r.getLong(1) == want, s"$t")
      assert(r.getLong(2) == want, s"$t")
    }
  }

  test("the five pair queries build their pairs in whole-stage codegen, with no lambda") {
    val stages: Seq[(String, () => DataFrame)] = Seq(
      "text_top_ngrams" -> (() => TextAnalysis.topNgrams(spark, sf)),
      "text_lm_quality" -> (() => TextAnalysis.lmQuality(spark, sf)),
      "text_window_cooc" -> (() => TextAnalysis.windowCooc(spark, sf)),
      // the gram stages of the two iterative/checkpointed queries: their
      // final plans start at a checkpoint above the pair explode
      "text_textrank" -> (() => graft.graph.PageRank.textrankEdges(spark, sf)),
      "sample_dsir" -> (() => graft.sample.Dsir.gramCounts(spark, sf)))
    stages.foreach { case (name, build) =>
      val df = build()
      df.collect() // the final adaptive plan carries the codegen-stage markers
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("lambdafunction"), s"$name:\n$plan")
      val generates = plan.linesIterator.filter(_.contains("Generate explode")).toSeq
      assert(generates.nonEmpty, s"$name has no pair explode:\n$plan")
      generates.foreach(g =>
        assert(g.contains("*("), s"$name: pair explode outside whole-stage codegen:\n$plan"))
    }
  }
}
