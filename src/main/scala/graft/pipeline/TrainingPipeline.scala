package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** END-TO-END TRAINING-DATA ASSEMBLY — the composition every individual
  * operator here exists for, runnable as one call:
  *
  *   1. hygiene  — C4 wordlist verdict + Gopher shape/repetition rules
  *   2. dedup    — exact ∪ token-jaccard near-dup canonical keep-list
  *   3. decontam — drop the eval split and every train doc sharing a
  *                 5-gram with it
  *   4. mixture  — deterministic per-language hash-fate rates
  *   5. packing  — concat-and-chunk the survivors into fixed sequences
  *
  * Stage verdicts are CORPUS-LEVEL (each matches its registered standalone
  * query exactly — spec-pinned) and are applied cumulatively in the order
  * above, so the stage counts read as a funnel.
  *
  * Scale shape: every verdict except dedup is computed FUSED in one
  * map-only pass over the corpus scan (wordlist ratio, the gram-stats
  * expression, the decontamination probe against the broadcast eval-gram
  * array, the mixture hash bucket) — running the four stage queries
  * separately would scan the corpus four times for facts one projection
  * yields. Dedup is the one inherently non-map stage (pair generation +
  * connected components) and joins its keep-list back by doc_id. The
  * funnel aggregation is a single map-side-combined row.
  */
object TrainingPipeline {

  /** The map-only verdict columns over ANY (doc_id, lang, source, text)
    * frame — batch or readStream: every expression here is stateless
    * (fused hygiene facts, the broadcast eval-gram decontamination probe,
    * the mixture hash bucket), which is exactly what lets
    * [[ingestGateStream]] score documents on arrival with zero state. */
  def verdictFlags(docs: DataFrame, evalGrams: Array[Long],
                   blocked: Seq[String] = Seq("slow", "big", "bad"),
                   rates: Map[String, Int] = Map(
                     "en" -> 90, "fr" -> 75, "de" -> 50, "es" -> 25, "zh" -> 10)): DataFrame = {
    val tk = TextAnalysis.tokensCol(col("text"))
    val rateCol = rates.foldLeft(lit(0)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"), col("source"), col("text"), tk.as("tk"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(col("tk")).cast("bigint").as("n_tokens"),
        // hygiene facts, fused: wordlist ratio + Gopher shape/repetition
        hygienePass(col("tk"), blocked).as("pass_hygiene"),
        // decontamination probe against the broadcast eval-gram set — the
        // same fused column the streaming ingest twin uses
        Dedup.decontamStreamCol(col("text"), evalGrams).as("n_shared"),
        graft.sample.Sampling.bucketCol(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"), col("n_tokens"),
        col("pass_hygiene"),
        (col("doc_id") % 50 =!= 0 && col("n_shared") === 0).as("pass_decontam"),
        (col("bucket") < rateCol).as("pass_mixture"))
  }

  /** The HYGIENE verdict over a token-array column — C4 wordlist ratio +
    * Gopher shape/repetition rules as ONE fused boolean expression (the
    * thresholds live here and nowhere else; [[verdictFlags]] and the crawl
    * pipeline share this column, so the two funnels cannot drift). */
  def hygienePass(tk: org.apache.spark.sql.Column,
                  blocked: Seq[String] = Seq("slow", "big", "bad")): org.apache.spark.sql.Column = {
    // blocked tokens = those array_remove drops: a native expression
    // chain, where a filter lambda would run interpreted, per row
    val unblocked = blocked.foldLeft(tk)((arr, b) => array_remove(arr, lit(b)))
    val blockedFrac = (size(tk) - size(unblocked)).cast("double") / size(tk)
    val meanWordLen = TextAnalysis.charCountCol(tk).cast("double") / size(tk)
    val gs = graft.functions.TextHash.gramStatsCol(tk)
    !(blockedFrac > 0.05) &&
      size(tk).cast("bigint") >= 30 && meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      gs(0).cast("double") / gs(1) <= 0.1 &&
      (gs(2) - gs(3)).cast("double") / gs(2) <= 0.05
  }

  /** Per-document stage verdicts + the cumulative keep decision. One
    * corpus scan plus the dedup keep-list join. */
  def stageFlags(spark: SparkSession, dir: String,
                 blocked: Seq[String] = Seq("slow", "big", "bad"),
                 rates: Map[String, Int] = Map(
                   "en" -> 90, "fr" -> 75, "de" -> 50, "es" -> 25, "zh" -> 10)): DataFrame = {
    val evalGrams = Dedup.evalGramSet(spark, dir) // bounded, by design (eval sets are small)
    // spread (batch path only — the stream twin keeps its source
    // partitioning): the fused verdict columns (gram stats + hygiene +
    // decontam probe) are the per-row cost and ran on the one scan split
    // (pipeline_training_set at sf0.1, local[4], median of 14: 2289 ms
    // spread vs 2605 ms unspread)
    val base = verdictFlags(
      Tables.spreadSmall(Tables.documents(spark, dir), col("doc_id")),
      evalGrams, blocked, rates)
    val keep = Dedup.nearDupComponents(spark, dir)
      .select(col("doc_id"), col("keep").as("keep_dedup"))
    base.join(keep, "doc_id")
      .withColumn("kept",
        col("pass_hygiene") && col("keep_dedup") && col("pass_decontam") && col("pass_mixture"))
  }

  /** STREAMING INGEST GATE — the assembly funnel scored ON ARRIVAL: the
    * same [[verdictFlags]] columns run unchanged on a readStream (all
    * stateless), and the dedup stage joins a FROZEN keep-list via a
    * STREAM-STATIC left join — the frozen-artifact pattern the classifier
    * weights, DSIR llr table and IVF codebook already follow. A document
    * absent from the keep-list (i.e. newer than the last batch build)
    * defaults to keep: it can only be near-deduped by the NEXT keep-list
    * build (`dedup_incremental` is the batch path that prices exactly
    * that), never retroactively by a stream.
    *
    * Scale shape: map-only columns + one broadcastable-or-shuffled static
    * join per micro-batch; zero streaming state. */
  def ingestGateStream(docsStream: DataFrame, evalGrams: Array[Long],
                       keepList: DataFrame,
                       blocked: Seq[String] = Seq("slow", "big", "bad"),
                       rates: Map[String, Int] = Map(
                         "en" -> 90, "fr" -> 75, "de" -> 50, "es" -> 25, "zh" -> 10)): DataFrame =
    verdictFlags(docsStream, evalGrams, blocked, rates)
      .join(keepList.select(col("doc_id"), col("keep").as("keep_dedup")),
        Seq("doc_id"), "left")
      .withColumn("keep_dedup", coalesce(col("keep_dedup"), lit(true)))
      .withColumn("kept",
        col("pass_hygiene") && col("keep_dedup") && col("pass_decontam") && col("pass_mixture"))

  /** The funnel as ONE row (the registered, value-oracled surface):
    * total docs, survivors after each cumulative stage, kept token total,
    * and the sequence count a `seqLen` packing of the kept set yields. */
  def trainingSetCounts(spark: SparkSession, dir: String, seqLen: Long = 512): DataFrame = {
    val f = stageFlags(spark, dir)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    f.agg(
      count(lit(1)).as("total_docs"),
      cnt(col("pass_hygiene")).as("after_hygiene"),
      cnt(col("pass_hygiene") && col("keep_dedup")).as("after_dedup"),
      cnt(col("pass_hygiene") && col("keep_dedup") && col("pass_decontam"))
        .as("after_decontam"),
      cnt(col("kept")).as("after_mixture"),
      sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .withColumn("n_sequences", expr(s"(kept_tokens + $seqLen - 1) DIV $seqLen"))
  }

  /** The assembled artifact: the kept survivors packed into `seqLen`-token
    * sequences (chunk ids + boundary flags per doc — the
    * [[graft.sample.Packing]] contract). */
  def assemble(spark: SparkSession, dir: String, seqLen: Long = 512): DataFrame =
    graft.sample.Packing.packSequencesFrom(
      stageFlags(spark, dir).filter(col("kept"))
        .select(col("doc_id"), col("text")), seqLen)

  /** The one-call PRODUCT: assemble the survivors and write them as a
    * training-ready parquet table laid out for the read pattern training
    * jobs actually have — ranged by `first_chunk` with in-file sort
    * ([[graft.sources.Layout.sortedWrite]]), so a data loader pulling a
    * chunk range (one worker's shard of sequences) prunes row groups and
    * files by footer stats instead of scanning the corpus. Returns the
    * written frame re-read from disk (the artifact, not the plan). */
  def writeTrainingSet(spark: SparkSession, dir: String, outPath: String,
                       seqLen: Long = 512, nFiles: Int = 8): DataFrame = {
    graft.sources.Layout.sortedWrite(
      assemble(spark, dir, seqLen), outPath, Seq("first_chunk", "doc_id"), nFiles)
    spark.read.parquet(outPath)
  }
}
