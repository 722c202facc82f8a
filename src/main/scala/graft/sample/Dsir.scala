package graft.sample

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OracleSql.{fnv32, gram, tokens}
import graft.Tables
import graft.functions.Fnv32
import graft.text.TextAnalysis

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): score every raw document by how much more likely its HASHED
  * N-GRAM profile is under a target distribution (the high-quality corpus
  * you wish you had more of) than under the raw pool, then keep the
  * highest-importance documents. The published estimator: unigram+bigram
  * features hashed into B buckets, per-bucket log-likelihood ratio
  * `llr_b = ln p_target(b) − ln p_raw(b)` (add-one smoothed), per-document
  * importance = Σ over its grams of llr. Here target = the corpus's `en`
  * slice (the "trusted side" a real pipeline would point at Wikipedia),
  * raw = the whole corpus.
  *
  * Cross-engine determinism — the fixed-point-LLR surface: ln is the one
  * non-IEEE-exact op, so each of the B bucket llrs is rounded ONCE to an
  * integer micro-llr (`CAST(ROUND(llr·10⁶) AS BIGINT)`), and every
  * per-document score is then an EXACT integer dot product
  * `Σ c_{d,b} · llr_fx(b)` — integer arithmetic both engines reproduce
  * bit-for-bit (the sq8 explicit-fold precedent, strengthened: only B=64
  * values ever touch the rounding boundary, not one per document). Bucket
  * hashing is the engine's codegen FNV-1a, re-derived in the oracle.
  *
  * Scale shape: ONE corpus scan — the (doc, bucket, count) table is
  * localCheckpointed (the Packing countedOnce precedent) and feeds all
  * three consumers (raw distribution, target distribution, scoring join);
  * both distributions are B-row aggregates (map-side combined), the llr
  * table is B rows broadcast, and the final top-N is a
  * TakeOrderedAndProject (bounded heaps, never a global sort). At 100 TB
  * the checkpoint is a linear spill of ≤ B rows per doc; the paper's own
  * deployment hashes into 10⁴ buckets and fits the llr table in KBs.
  */
object Dsir {

  val NumBuckets = 64
  val TopN = 100

  /** Unigrams ++ bigrams of a token array — the DSIR feature set — as
    * `array<struct<a, b>>`: a unigram is (t, null) (`arrays_zip` pads the
    * empty second array with nulls), a bigram is (tᵢ, tᵢ₊₁)
    * ([[TextAnalysis.pairsCol]]). [[gramCol]] renders either as the gram
    * string. Codegen'd built-ins only; reference `tk` as a projected
    * attribute. */
  def gramsCol(tk: Column): Column =
    concat(arrays_zip(tk.as("a"), array().cast("array<string>").as("b")),
      TextAnalysis.pairsCol(tk, 1))

  /** The gram string of one [[gramsCol]] element: "a" or "a b". */
  def gramCol(g: Column): Column = concat_ws(" ", g("a"), g("b"))

  /** Per-(doc_id, lang, bucket) gram counts of the corpus — the one gram
    * derivation [[importanceTop]] and [[trainLlr]] share. Tokens are
    * projected to an ATTRIBUTE before gramsCol references them multiply:
    * inlining the regex split into every reference re-splits the text per
    * use — measured 9× on this stage (the text_top_ngrams project-first
    * idiom). */
  private[graft] def gramCounts(spark: SparkSession, dir: String): DataFrame =
    // spread: the per-row cost is the gram explode + FNV + partial
    // aggregate over ~2 grams per token, not the pair build — with the
    // pairs codegen'd, this stage still measured 560-670 ms on the one
    // scan split vs 240-370 ms spread (sf0.1, local[4], median of 5);
    // sample_dsir at sf0.01: 279 ms spread vs 306 ms unspread (median of
    // 28). No-op at scale (Tables.spreadSmall)
    Tables.spreadSmall(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"), TextAnalysis.tokensCol(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), explode(gramsCol(col("tk"))).as("g"))
      .select(col("doc_id"), col("lang"),
        (Fnv32.fnv32(gramCol(col("g"))) % NumBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** The registered query: the TopN highest-importance documents with their
    * exact integer micro-llr score and gram count. */
  def importanceTop(spark: SparkSession, dir: String,
                    targetLang: String = "en"): DataFrame = {
    // ONE corpus scan: the per-(doc,bucket) count table feeds the raw
    // distribution, the target distribution, and the scoring join; the
    // returned plan reads it, so it is tracked
    val cnts = graft.Checkpoints.track(gramCounts(spark, dir).localCheckpoint(true))
    cnts.join(broadcast(llrFrame(cnts, targetLang)), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("llr_fx")).as("score_fx"), sum(col("c")).as("n_grams"))
      .orderBy(col("score_fx").desc, col("doc_id"))
      .limit(TopN)
  }

  /** The B-row micro-llr table from a (doc_id, lang, bucket, c) count
    * frame: BOTH distributions in one conditional aggregate (raw = all
    * rows, target = the `targetLang` slice), totals via a window over the
    * already-aggregated B-row frame (the temperature-mixture precedent),
    * one rounding per bucket onto the integer micro-llr surface. */
  private def llrFrame(cnts: DataFrame, targetLang: String): DataFrame = {
    val w = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cnts.groupBy(col("bucket"))
      .agg(sum(col("c")).as("rc"),
        sum(when(col("lang") === targetLang, col("c")).otherwise(0L)).as("tc"))
      .withColumn("rtot", sum(col("rc")).over(w))
      .withColumn("ttot", sum(col("tc")).over(w))
      .select(col("bucket"),
        round((log((col("tc") + 1L).cast("double") / (col("ttot") + NumBuckets)) -
               log((col("rc") + 1L).cast("double") / (col("rtot") + NumBuckets))) * 1e6, 0)
          .cast("bigint").as("llr_fx"))
  }

  /** The trained importance model as a plain array: `llr_fx` per bucket —
    * the freezable artifact the streaming twin scores under (the
    * QualityClassifier frozen-weights precedent). Bounded driver traffic:
    * B rows. */
  def trainLlr(spark: SparkSession, dir: String,
               targetLang: String = "en"): Array[Long] = {
    val out = new Array[Long](NumBuckets)
    llrFrame(gramCounts(spark, dir), targetLang).collect()
      .foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** FROZEN-MODEL scoring of a documents-shaped (possibly STREAMING) frame:
    * with the llr table frozen as a literal, a document's score needs no
    * counts at all — it is the left-to-right integer fold of `llr_fx` over
    * its grams, a STATELESS map-only column (zero shuffle, zero state; the
    * sq8/decontam/classifier score-on-arrival contract). Exact integer
    * arithmetic ⇒ stream == batch bit-for-bit, spec-pinned. */
  def scoreOnArrival(df: DataFrame, llrFx: Array[Long]): DataFrame = {
    val tab = typedLit(llrFx.toSeq)
    df.select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
      .select(col("doc_id"), gramsCol(col("tk")).as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"),
        aggregate(
          transform(col("grams"),
            g => element_at(tab, (Fnv32.fnv32(gramCol(g)) % NumBuckets) + 1)),
          lit(0L), (acc, x) => acc + x).as("score_fx"),
        size(col("grams")).cast("bigint").as("n_grams"))
  }

  /** DuckDB re-derivation of [[importanceTop]]. */
  def oracleSql(targetLang: String = "en"): String =
    s"""WITH tk AS (SELECT doc_id, lang, ${tokens("text")} AS t FROM documents),
       |g AS (SELECT doc_id, lang,
       |  list_concat(t, list_transform(range(1, len(t)), i -> ${gram("t", "i", 2)})) AS grams FROM tk),
       |c AS (SELECT doc_id, lang, ${fnv32("gram")} % $NumBuckets AS bucket,
       |        CAST(COUNT(*) AS BIGINT) AS c
       |      FROM (SELECT doc_id, lang, unnest(grams) AS gram FROM g)
       |      GROUP BY doc_id, lang, bucket),
       |raw AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS rc FROM c GROUP BY bucket),
       |tgt AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS tc FROM c WHERE lang = '$targetLang' GROUP BY bucket),
       |tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM c) AS rtot,
       |               (SELECT CAST(SUM(c) AS BIGINT) FROM c WHERE lang = '$targetLang') AS ttot),
       |llr AS (SELECT raw.bucket,
       |          CAST(ROUND((ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / (ttot + $NumBuckets)) -
       |                      ln(CAST(rc + 1 AS DOUBLE) / (rtot + $NumBuckets))) * 1000000) AS BIGINT) AS llr_fx
       |        FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, tot)
       |SELECT c.doc_id, CAST(SUM(c.c * llr.llr_fx) AS BIGINT) AS score_fx,
       |  CAST(SUM(c.c) AS BIGINT) AS n_grams
       |FROM c JOIN llr ON c.bucket = llr.bucket
       |GROUP BY c.doc_id ORDER BY score_fx DESC, doc_id LIMIT $TopN""".stripMargin
}
