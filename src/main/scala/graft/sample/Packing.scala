package graft.sample

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextAnalysis

/** Concat-and-chunk SEQUENCE PACKING — the step that turns a cleaned corpus
  * into fixed-length pretraining sequences: documents are concatenated in a
  * deterministic order (doc_id) and the token stream is cut every `seqLen`
  * tokens. Each document therefore starts at a global token offset
  * (the prefix sum of all earlier documents' token counts) and lands in
  * chunks `floor(offset/seqLen) .. floor((offset+n-1)/seqLen)`; a document
  * straddling a cut is the "crosses_boundary" case a loader must split.
  *
  * Scale shape — the prefix sum is TWO-PHASE, never a global window: a
  * `Window.orderBy` with no partition key collapses Spark to one task and
  * is exactly the trap this operator exists to avoid at 100 TB. Instead the
  * corpus is range-partitioned by doc_id, each partition folds its own
  * token count (one tiny row per partition to the driver), the exclusive
  * per-partition offsets are broadcast back, and a map-only pass assigns
  * every document `partition offset + running local sum`. Driver traffic is
  * O(partitions); everything else is the scan. The DuckDB oracle computes
  * the same assignment with an ordinary windowed cumsum — tractable at
  * test scale, which is the point of re-deriving it independently. */
object Packing {

  def packSequences(spark: SparkSession, dir: String, seqLen: Long = 512): DataFrame =
    packSequencesFrom(Tables.documents(spark, dir), seqLen)

  /** [[packSequences]] over any (doc_id, text) frame — the form the
    * end-to-end pipeline feeds its dedup/filter SURVIVORS through. */
  def packSequencesFrom(docs: DataFrame, seqLen: Long = 512): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The corpus is scanned exactly ONCE: the (doc_id, n_tokens) projection
    // (16 bytes/doc — tiny even against a 100 TB corpus) is materialized by
    // localCheckpoint BEFORE the range exchange, so the range-bounds sample
    // job, the shuffle, and both prefix-sum phases all read checkpoint
    // blocks, never the parquet+tokenize pipeline. (Checkpointing after the
    // exchange would be too late: the partitioner's sample pass and the
    // shuffle-map pass would each re-run the scan.) The returned frame's
    // phase-2 lineage reads it: tracked (see Checkpoints).
    val countedOnce = graft.Checkpoints.track(docs
      .select(col("doc_id"),
        size(TextAnalysis.tokensCol(col("text"))).cast("bigint").as("n_tokens"))
      .localCheckpoint(true))
    val counted = countedOnce
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[(Long, Long)]
      .rdd // ONE lineage for both phases → the range shuffle stage is reused
    // phase 1: per-partition token totals — one row per partition
    val partSums: Array[(Int, Long)] = counted
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(s += _._2)
        Iterator.single((pid, s))
      }.collect()
    // exclusive prefix over the (sorted) partition ids → start offset per
    // partition; range partitioning guarantees pid order == doc_id order
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partSums.sortBy(_._1).map { case (pid, s) =>
        val o = pid -> acc; acc += s; o
      }.toMap
    }
    val bcOff = spark.sparkContext.broadcast(offsets)
    // phase 2: map-only — local running sum + broadcast partition offset
    counted.mapPartitionsWithIndex { (pid, it) =>
      var cum = bcOff.value(pid)
      it.map { case (id, n) =>
        val start = cum
        cum += n
        (id, n, start)
      }
    }.toDF("doc_id", "n_tokens", "token_start")
      // integral DIV (not double `/` + cast): exact floor division for ANY
      // seqLen — offsets past 2^53 or a non-power-of-two seqLen would hit
      // double-rounding boundaries with `/`
      .select(col("doc_id"), col("n_tokens"), col("token_start"),
        expr(s"token_start DIV $seqLen").as("first_chunk"),
        when(col("n_tokens") > 0,
          expr(s"(token_start + n_tokens - 1) DIV $seqLen"))
          .otherwise(expr(s"token_start DIV $seqLen")).as("last_chunk"))
      .withColumn("crosses_boundary", col("last_chunk") =!= col("first_chunk"))
  }

  /** BOUNDARY-RESPECTING shelf packing — the OTHER packing mode a training
    * pipeline runs (T5-style "pack whole documents, never split"): each
    * document goes WHOLE into the bin where its global token offset lands
    * (bin = offset DIV budget), so bins are contiguous doc runs that can
    * overshoot the budget by less than one document — the classic shelf
    * approximation of first-fit, expressible without sequential state.
    * Reuses [[packSequencesFrom]]'s two-phase prefix sum verbatim (one
    * corpus scan, O(partitions) driver traffic, no global window).
    *
    * Output per bin: doc count, assigned tokens, and the overshoot beyond
    * the budget boundary (0 for bins whose last doc ends in-bin). */
  def greedyBins(spark: SparkSession, dir: String, budget: Long = 2048L): DataFrame = {
    packSequencesFrom(graft.Tables.documents(spark, dir), budget)
      .groupBy(col("first_chunk").as("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_assigned"),
        max(col("token_start") + col("n_tokens")).as("max_end"))
      .select(col("bin_id"), col("n_docs"), col("n_tokens_assigned"),
        greatest(lit(0L), col("max_end") - (col("bin_id") + 1) * budget).as("overshoot"))
  }
}
