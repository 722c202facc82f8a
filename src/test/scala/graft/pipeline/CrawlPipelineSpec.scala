package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

class CrawlPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  test("crawl funnel: stage flags compose the standalone operators exactly") {
    val flags = CrawlPipeline.crawlFlags(spark, sf)
    val rows = flags.collect()
    assert(rows.nonEmpty)
    // stage 0 equals dedup_url's keep verdict, row for row
    val urlKeep = graft.dedup.Dedup.urlDedup(spark, sf)
      .select(col("doc_id"), col("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep_url") == urlKeep(r.getAs[Long]("doc_id")))
    }
    // stage 1 sees the SAME extraction as text_html_extract: n_chars match
    val extChars = graft.text.TextAnalysis.htmlExtract(spark, sf)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_chars") == extChars(r.getAs[Long]("doc_id")))
    }
    // the funnel is CUMULATIVE and the one-row surface agrees with the flags
    val f = CrawlPipeline.crawlFunnel(spark, sf).collect().head
    val total = rows.length.toLong
    val aU = rows.count(_.getAs[Boolean]("keep_url")).toLong
    val aE = rows.count(r => r.getAs[Boolean]("keep_url") && r.getAs[Boolean]("pass_extract")).toLong
    val aH = rows.count(r => r.getAs[Boolean]("keep_url") && r.getAs[Boolean]("pass_extract")
      && r.getAs[Boolean]("pass_hygiene")).toLong
    val aD = rows.count(r => r.getAs[Boolean]("keep_url") && r.getAs[Boolean]("pass_extract")
      && r.getAs[Boolean]("pass_hygiene") && r.getAs[Boolean]("pass_decontam")).toLong
    assert((f.getAs[Long]("total_docs"), f.getAs[Long]("after_url"), f.getAs[Long]("after_extract"),
      f.getAs[Long]("after_hygiene"), f.getAs[Long]("after_decontam"))
      == ((total, aU, aE, aH, aD)))
    assert(total >= aU && aU >= aE && aE >= aH && aH >= aD, "funnel must be monotone")
    // every stage must actually bite at fixture scale (non-vacuous funnel):
    // url dedup merges the planted alias bands; decontam drops the eval split
    assert(aU < total, "url stage never fired")
    assert(aD < aH, "decontam stage never fired")
    assert(aD > 0, "funnel killed everything — degenerate")
  }

  test("streaming crawl gate == batch flags under the frozen url keep-list; " +
      "unseen pages default to keep") {
    val evalGrams = graft.dedup.Dedup.evalGramSet(spark, sf)
    val urlKeep = graft.dedup.Dedup.urlDedup(spark, sf)
      .select(col("doc_id"), col("keep")).localCheckpoint()
    val pages = graft.Fixtures.htmlDocsFrom(
      graft.Tables.streamSource(spark, sf, "documents"))
    val gated = CrawlPipeline.crawlGateStream(pages, evalGrams, urlKeep)
      .select("doc_id", "keep_url", "pass_extract", "pass_hygiene", "pass_decontam", "kept")
    val q = gated.writeStream.format("memory").queryName("crawl_gate")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))
    val got = spark.table("crawl_gate").collect()
      .map(r => key(r) -> r.getBoolean(5)).toMap
    val expect = CrawlPipeline.crawlFlags(spark, sf).collect().map { r =>
      val k = (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep_url"),
        r.getAs[Boolean]("pass_extract"), r.getAs[Boolean]("pass_hygiene"),
        r.getAs[Boolean]("pass_decontam"))
      k -> (k._2 && k._3 && k._4 && k._5)
    }.toMap
    assert(got == expect, "stream-scored crawl verdicts must equal the batch funnel's")
    assert(got.nonEmpty && got.values.exists(identity) && !got.values.forall(identity))
    // frozen-keep-list semantics: a page the last frontier build never saw
    // defaults to keep_url = true
    val emptyKeep = urlKeep.filter(lit(false)).localCheckpoint()
    val gated2 = CrawlPipeline.crawlGateStream(pages, evalGrams, emptyKeep)
      .select("doc_id", "keep_url")
    val q2 = gated2.writeStream.format("memory").queryName("crawl_gate_empty")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("crawl_gate_empty").collect().forall(_.getBoolean(1)),
      "unseen pages must default to keep_url = true")
  }

  test("pipeline_crawl's final plan keeps only the three html-extraction lambdas") {
    val df = graft.SparkEntry.queries("pipeline_crawl")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("lambdafunction".r.findAllMatchIn(plan).size == 3, plan)
  }
}
