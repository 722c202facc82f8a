package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql.{gramStatsCtes, htmlExtractCtes, hygieneCte, shingles, tokens}
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** CRAWL-INGEST PIPELINE — the stage-zero composition upstream of
  * [[TrainingPipeline]]: what happens between "a crawler fetched bytes"
  * and "a document enters the corpus". Mirrors the reference's pipeline
  * stance (each stage is a registered standalone operator; the capstone
  * composes them and its oracle re-derives the whole funnel):
  *
  *   0. URL dedup   — canonicalize the request URL, keep one fetch per
  *                    canonical page ([[Dedup.urlDedup]]: don't even
  *                    store the duplicate)
  *   1. extraction  — raw HTML → main text, boilerplate killed by word
  *                    count + link density ([[TextAnalysis.htmlExtractCols]])
  *   2. hygiene     — C4/Gopher verdicts over the EXTRACTED text
  *                    ([[TrainingPipeline.hygienePass]] — same thresholds
  *                    as the training-set funnel, shared column)
  *   3. decontam    — 5-gram probe of the extracted text against the
  *                    broadcast eval-gram set ([[Dedup.decontamStreamCol]])
  *
  * Scale shape: stages 1–3 are MAP-ONLY fused columns over one page scan
  * (extraction, tokenization, hygiene facts, the gram probe — zero
  * exchanges); stage 0 contributes the one canonical-key exchange of
  * `dedup_url` plus the keep-list join back on doc_id. The funnel
  * aggregation is a single map-side-combined row. At 100 TB the canonical
  * URL key is also the natural frontier-partitioning column, so the
  * stage-0 exchange rides the layout instead of fighting it.
  */
object CrawlPipeline {

  /** Per-document stage verdicts (cumulative funnel read:
    * keep_url → pass_extract → pass_hygiene → pass_decontam). */
  def crawlFlags(spark: SparkSession, dir: String): DataFrame = {
    val urlKeep = Dedup.urlDedup(spark, dir)
      .select(col("doc_id"), col("keep").as("keep_url"))
    val evalGrams = Dedup.evalGramSet(spark, dir) // bounded: eval sets are small
    verdictCols(graft.Fixtures.htmlDocs(spark, dir), evalGrams)
      .join(urlKeep, "doc_id")
      .select(col("doc_id"), col("keep_url"), col("pass_extract"),
        col("pass_hygiene"), col("pass_decontam"), col("n_chars"), col("n_tokens"))
  }

  /** The fused map-only verdict columns over ANY (doc_id, html) frame —
    * batch or readStream (all stateless): extraction + hygiene + the
    * decontamination probe in one projection over the page scan. */
  def verdictCols(pages: DataFrame, evalGrams: Array[Long]): DataFrame = {
    val (keptBlocks, extracted) = TextAnalysis.htmlExtractCols(col("html"))
    pages
      .select(col("doc_id"), size(keptBlocks).as("n_blocks"), extracted.as("text"))
      .select(col("doc_id"), col("n_blocks"), col("text"),
        length(col("text")).cast("bigint").as("n_chars"),
        TextAnalysis.tokensCol(col("text")).as("tk"))
      .select(col("doc_id"), col("n_chars"),
        (col("n_blocks") >= 1).as("pass_extract"),
        size(col("tk")).cast("bigint").as("n_tokens"),
        TrainingPipeline.hygienePass(col("tk")).as("pass_hygiene"),
        // eval docs themselves are dropped (doc_id ≡ 0 mod 50 is the eval
        // split) and so is any page sharing a 5-gram with the eval set —
        // the same rule as the training-set funnel
        (col("doc_id") % 50 =!= 0 &&
          Dedup.decontamStreamCol(col("text"), evalGrams) === 0).as("pass_decontam"))
  }

  /** STREAMING INGEST GATE — the crawl funnel scored ON ARRIVAL: the same
    * [[verdictCols]] run unchanged on a readStream of fetched pages, and
    * stage 0 joins a FROZEN url keep-list (stream-static left join, the
    * [[TrainingPipeline.ingestGateStream]] pattern). A page absent from
    * the keep-list (newer than the last frontier build) defaults to keep —
    * it can only be URL-deduped by the NEXT frontier build, never
    * retroactively by the stream. Zero streaming state. */
  def crawlGateStream(pagesStream: DataFrame, evalGrams: Array[Long],
                      urlKeepList: DataFrame): DataFrame =
    verdictCols(pagesStream, evalGrams)
      .join(urlKeepList.select(col("doc_id"), col("keep").as("keep_url")),
        Seq("doc_id"), "left")
      .withColumn("keep_url", coalesce(col("keep_url"), lit(true)))
      .withColumn("kept",
        col("keep_url") && col("pass_extract") && col("pass_hygiene") &&
          col("pass_decontam"))

  /** The funnel as ONE row — the registered, value-oracled surface. */
  def crawlFunnel(spark: SparkSession, dir: String): DataFrame = {
    val f = crawlFlags(spark, dir)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val kept = col("keep_url") && col("pass_extract") && col("pass_hygiene") &&
      col("pass_decontam")
    f.agg(
      count(lit(1)).as("total_docs"),
      cnt(col("keep_url")).as("after_url"),
      cnt(col("keep_url") && col("pass_extract")).as("after_extract"),
      cnt(col("keep_url") && col("pass_extract") && col("pass_hygiene"))
        .as("after_hygiene"),
      cnt(kept).as("after_decontam"),
      sum(when(kept, col("n_chars")).otherwise(0L)).as("kept_chars"),
      sum(when(kept, col("n_tokens")).otherwise(0L)).as("kept_tokens"))
  }

  /** DuckDB re-derivation of [[crawlFunnel]] end-to-end: the url canon
    * chain ([[Dedup.urlCanonCtesSql]]), the page extraction
    * ([[graft.OracleSql.htmlExtractCtes]]), the hygiene verdict over the
    * EXTRACTED tokens ([[graft.OracleSql.hygieneCte]]), and the 5-gram
    * decontam probe ([[graft.OracleSql.shingles]]) with eval grams from
    * the ORIGINAL documents vs train grams from the extracted text. */
  def crawlFunnelOracleSql: String =
    s"""WITH ${Dedup.urlCanonCtesSql},
       |uk AS (SELECT k.doc_id, k.doc_id = g.canonical_id AS keep_url
       |       FROM k JOIN g USING (canon_url)),
       |$htmlExtractCtes,
       |tb AS (SELECT doc_id, ${tokens("extracted")} AS tk,
       |    CAST(length(extracted) AS BIGINT) AS n_chars,
       |    CAST(len(kept) AS INT) AS n_blocks,
       |    ${tokens("lower(extracted)")} AS xtk FROM he),
       |b2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok FROM tb),
       |${gramStatsCtes("b2")},
       |${hygieneCte("b2")},
       |lt AS (SELECT doc_id, ${tokens("lower(text)")} AS ltk FROM documents),
       |shg AS (SELECT doc_id, list_distinct(${shingles("ltk", 5)}) AS s FROM lt),
       |wg AS (SELECT doc_id, unnest(s) AS g FROM shg),
       |evg AS (SELECT DISTINCT g FROM wg WHERE doc_id % 50 = 0),
       |xshg AS (SELECT doc_id, list_distinct(${shingles("xtk", 5)}) AS s FROM tb),
       |xwg AS (SELECT doc_id, unnest(s) AS g FROM xshg),
       |cont AS (SELECT DISTINCT xwg.doc_id FROM xwg JOIN evg USING (g)
       |         WHERE xwg.doc_id % 50 <> 0),
       |flags AS (SELECT tb.doc_id, uk.keep_url,
       |    (tb.n_blocks >= 1) AS pe, COALESCE(hy.ph, FALSE) AS ph,
       |    (tb.doc_id % 50 <> 0 AND
       |     tb.doc_id NOT IN (SELECT doc_id FROM cont)) AS pd,
       |    tb.n_chars, CAST(len(tb.tk) AS BIGINT) AS n_tok
       |  FROM tb JOIN uk ON tb.doc_id = uk.doc_id
       |          JOIN hy ON tb.doc_id = hy.doc_id)
       |SELECT
       |  CAST(COUNT(*) AS BIGINT) AS total_docs,
       |  CAST(SUM(CASE WHEN keep_url THEN 1 ELSE 0 END) AS BIGINT) AS after_url,
       |  CAST(SUM(CASE WHEN keep_url AND pe THEN 1 ELSE 0 END) AS BIGINT) AS after_extract,
       |  CAST(SUM(CASE WHEN keep_url AND pe AND ph THEN 1 ELSE 0 END) AS BIGINT) AS after_hygiene,
       |  CAST(SUM(CASE WHEN keep_url AND pe AND ph AND pd THEN 1 ELSE 0 END) AS BIGINT) AS after_decontam,
       |  CAST(SUM(CASE WHEN keep_url AND pe AND ph AND pd THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       |  CAST(SUM(CASE WHEN keep_url AND pe AND ph AND pd THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM flags""".stripMargin
}
