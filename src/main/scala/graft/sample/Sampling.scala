package graft.sample

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fnv32

/** Deterministic sampling for training-data assembly.
  *
  * Both operators key off the same primitive: `bucket(doc) = fnv32(doc_id)
  * % 100` — a content-independent, ENGINE-INDEPENDENT hash bucket (the
  * codegen'd FNV-1a expression on the Spark side, the same arithmetic
  * re-derived in the DuckDB oracle). That determinism is the point:
  * `Dataset.sample`'s row ordering/partitioning-sensitive RNG can never be
  * value-checked across engines or reproduced across re-runs of a resized
  * cluster, while a hash bucket gives every row a stable fate — resampling
  * a 100 TB corpus after adding a source keeps every previously-kept row,
  * which is what makes dataset versions diffable. Both are map-only
  * codegen'd filters: no shuffle, no RNG state, trivially parallel.
  */
object Sampling {

  /** Stable per-document bucket in [0, 100). */
  def bucketCol(id: Column): Column = Fnv32.fnv32(id.cast("string")) % 100

  /** Salted bucket in [0, 100): `fnv32(id || salt) % 100`. A distinct salt
    * per decision keeps fates independent — a document's train/val/test
    * fate says nothing about its weighted-sampling fate, so composing
    * operators never correlates their keep sets. */
  def saltedBucketCol(id: Column, salt: String): Column =
    Fnv32.fnv32(concat(id.cast("string"), lit(salt))) % 100

  /** Stratified mixture sampling — the "data mixing" step of an LLM
    * pipeline: per-language keep rates (e.g. downsample overrepresented
    * languages, upsample scarce ones), applied as `bucket < rate*100`.
    * Emits the kept rows with their bucket so the oracle can re-derive the
    * exact keep decision per row. */
  def mixture(spark: SparkSession, dir: String,
              rates: Map[String, Int] = Map(
                "en" -> 90, "fr" -> 75, "de" -> 50, "es" -> 25, "zh" -> 10))
  : DataFrame = {
    val rateCol = rates.foldLeft(lit(0)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucketCol(col("doc_id")).as("bucket"))
      .filter(col("bucket") < rateCol)
  }

  /** Deterministic train/val/test split by hash range: 80/10/10. Every row
    * lands in exactly one split, stable under re-runs, repartitioning, and
    * corpus growth. */
  def split(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucketCol(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))

  /** Deterministic GLOBAL SHUFFLE — the "shuffle the corpus before
    * training" step. Every document gets a stable pseudo-random rank (a
    * salted FNV hash), a training shard (`rank mod nShards`) and its
    * position within the shard, so the shuffled order is a pure function of
    * the corpus: reproducible across re-runs, cluster sizes and engines
    * (the oracle re-derives the identical permutation), and diffable when
    * the corpus grows — adding documents never reorders existing shards
    * beyond the insertion points.
    *
    * Scale shape: the hash/shard assignment is map-only; the only exchange
    * is the per-shard `row_number` window, a hash partition on `shard`
    * followed by a LOCAL sort — never a global single-task sort. `nShards`
    * is the output-file count: at 100 TB it is chosen so a shard is a few
    * GB (tens of thousands of shards), which also bounds the per-task sort.
    * Ties on the 31-bit hash break by doc_id, so the order is total in
    * both engines. */
  def shuffle(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Fnv32.fnv32(concat(col("doc_id").cast("string"), lit(":shuffle"))).as("h"))
      .withColumn("shard", col("h") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))).cast("bigint"))
  }

  /** QUALITY-WEIGHTED sampling — keep a document with probability equal to
    * its [[graft.text.TextAnalysis.qualityScore]] (CCNet/DoReMi-style
    * quality-proportional downsampling), decided by the same deterministic
    * hash-fate primitive as [[mixture]]: keep iff
    * `bucket(doc_id:wq) < quality * 100`. The score and the comparison are
    * pure IEEE arithmetic re-derived exactly by the oracle, so every keep
    * decision is cross-engine reproducible — no RNG state anywhere.
    * Map-only: score, bucket and filter all ride the corpus scan (zero
    * exchanges, spec-enforced). */
  def weightedByQuality(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"),
        saltedBucketCol(col("doc_id"), ":wq").as("bucket"))
      .filter(col("bucket").cast("double") < col("quality_score") * 100)

  /** PER-SOURCE CAP (domain capping) — bound each source's contribution to
    * the mixture: keep at most `k` documents per source, chosen by the same
    * deterministic salted-hash fate as the other samplers (top-k by
    * `fnv32(doc_id:cap)`, ties to the smaller doc_id), so the kept set is a
    * uniform, reproducible, engine-independent sample of each source — a
    * source that doubles in size keeps the same cap winners plus/minus the
    * hash order, never a different RNG draw.
    *
    * Rides the custom [[graft.plans.TopK]] physical operator instead of a
    * `row_number` window: map-side bounded heaps shed everything but
    * sources×k rows BEFORE the exchange, so at 100 TB the shuffle carries
    * the capped output, not the corpus. (Spark 3.5+'s WindowGroupLimit
    * bounds the window form's shuffle too — a corpus-scaling probe
    * measured both at ≈ partitions×sources×k rows — but pays a full
    * map-side SORT of every corpus row to do it, where the heaps are
    * O(n log k) sort-free; see TopKPerKey's scaladoc.) */
  def sourceCap(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    graft.plans.TopK.perKey(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          Fnv32.fnv32(concat(col("doc_id").cast("string"), lit(":cap"))).as("h")),
      Seq("source"), "h", "doc_id", k)

  /** DETERMINISTIC ROUND-ROBIN INTERLEAVE — the dataloader's mixing order:
    * each source's docs are ranked by hash fate, then slot
    * (rank−1)·S + source_index + 1 deals sources out one-by-one (the
    * "interleave datasets" primitive training loops use to avoid
    * source-correlated batches). Emits the first `slots` positions.
    *
    * Scale shape: the per-source ranking runs through the [[graft.plans
    * .TopK]] physical operator — map-side heaps shed everything beyond
    * `slots` per source BEFORE the exchange (the [[sourceCap]] argument),
    * so the shuffle carries ≤ sources·slots rows at any corpus size; the
    * source-index table is a sources-sized window (broadcast-sized by
    * nature, the temperatureMixture discipline). */
  def interleave(spark: SparkSession, dir: String, slots: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = graft.plans.TopK.perKey(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          Fnv32.fnv32(concat(col("doc_id").cast("string"), lit(":ilv"))).as("h")),
      Seq("source"), "h", "doc_id", slots)
    val srcIdx = Tables.documents(spark, dir).select(col("source")).distinct()
      // tiny global window: one row per SOURCE, never per doc
      .withColumn("idx", row_number().over(Window.orderBy(col("source"))) - 1)
    val nSrc = srcIdx.agg(count(lit(1)).as("ns"))
    ranked.join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(nSrc))
      .withColumn("slot", (col("rank") - 1) * col("ns") + col("idx") + 1)
      .filter(col("slot") <= slots)
      .select(col("slot").cast("int"), col("source"), col("doc_id"))
  }

  /** TEMPERATURE-SCALED SOURCE MIXING — the "how much of each source goes
    * into the training mix" step (the multilingual-pretraining sampling rule
    * of Lample & Conneau, "Cross-lingual Language Model Pretraining", 2019:
    * p_s ∝ c_s^τ with τ < 1 flattening the source distribution so
    * head sources are downsampled and tail sources upsampled).
    *
    * Per source: its whitespace-token count c_s, its raw corpus share, its
    * temperature share p_s = c_s^τ / Σ_t c_t^τ, the token budget allocated
    * to it under a total budget B (floor(p_s·B) on the ROUNDED share — the
    * integer contract), and the implied epoch count budget/c_s (>1 means
    * the source repeats — the signal a mixture designer actually reads).
    *
    * Scale shape: token counting is map-only arithmetic fused into the
    * scan; ONE map-side-combined exchange produces the sources-sized count
    * table, and that is the ONLY corpus-sized work in the plan. The grand
    * totals are a global window over the already-aggregated sources-sized
    * table — O(sources) rows through one partition, safe at any corpus
    * size, and it keeps the plan to a SINGLE corpus scan (the broadcast-
    * total cross-join form recomputes the scan on the broadcast side:
    * Catalyst only dedupes identical exchanges, not different aggregations
    * over one subtree — caught by this operator's plan-shape spec).
    *
    * Cross-engine surface: c_s is exact integer; pow/÷ are the non-exact
    * ops, so shares are 6-decimal rounded (the ln/TF-IDF acceptance) and
    * everything downstream derives from the rounded share. */
  def temperatureMixture(spark: SparkSession, dir: String,
                         tau: Double = 0.7, budget: Long = 1000000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    Tables.documents(spark, dir)
      .select(col("source"),
        size(array_remove(org.apache.spark.sql.functions.split(col("text"), "\\s+"), ""))
          .cast("bigint").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(w))
      .withColumn("total_pow", sum(pow(col("n_tokens").cast("double"), tau)).over(w))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 6).as("raw_share"),
        round(pow(col("n_tokens").cast("double"), tau) / col("total_pow"), 6).as("temp_share"))
      .select(col("source"), col("n_tokens"), col("raw_share"), col("temp_share"),
        floor(col("temp_share") * budget).cast("bigint").as("budget_tokens"))
      .withColumn("epochs", round(col("budget_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** TOKEN-BUDGET SELECTION — "keep the best documents that fit a token
    * budget": rank by an integer quality score, take documents in
    * (score desc, doc_id) order while cumulative tokens fit B = ⌊total/5⌋
    * (data selection under a compute budget — the step after quality
    * scoring in every curated-pretraining recipe). The score here is
    * lexical diversity in exact integer parts-per-million
    * (distinct_tokens·10⁶ DIV tokens) so both engines rank identically
    * with no float anywhere.
    *
    * Scale shape — the oracle's naive form is a GLOBAL window over the
    * corpus (one task sorts 100 TB: non-plan). The engine instead runs the
    * classic TWO-PHASE exact selection:
    *   1. aggregate tokens per score value — corpus → ≤10⁶-row layer
    *      table (score is ppm-granular), map-side combined;
    *   2. cumulative-sum the LAYER table (tiny global window), find the
    *      boundary layer s* and its residual budget;
    *   3. map-only: keep score > s* outright; rank only the s* layer's
    *      docs by doc_id for the residual.
    * Only step 3's boundary-layer window touches per-doc rows, and only
    * for ONE score layer (~corpus/10⁶ under the ppm granularity; a
    * degenerate constant-score corpus would recurse the same trick on a
    * doc_id sub-key — documented, not needed at any tested sf). Two corpus
    * scans total (layer agg + selection), both column-pruned to 4 narrow
    * fields. Output is the per-source audit of the selected set. */
  def budgetSelect(spark: SparkSession, dir: String, budgetFrac: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.text.TextAnalysis.tokensCol(col("text"))
    // tokenize ONCE: perDoc feeds THREE consumers (the layer aggregate,
    // the above-threshold filter and the boundary-layer window), so the
    // narrow (doc_id, source, n_tokens, score) frame is checkpointed
    // (released at the harness drain); no-op at scale. Measured at sf0.1,
    // local[4], median of 28: 640 ms checkpointed vs 1389 ms re-derived; a
    // spread of the scan below it won nothing (564 vs 551 ms without).
    val perDoc = Tables.materializeSmall(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(toks).cast("bigint").as("n_tokens"),
          size(array_distinct(toks)).cast("bigint").as("n_dist"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("n_dist * 1000000 DIV n_tokens").as("score")))
    val layers = perDoc.groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("layer_tokens"))
    // budget and cumsum live on the LAYER table (≤ 10^6 rows at any
    // corpus size): the global window here is over that aggregate, never
    // the corpus (the temperatureMixture discipline)
    val wc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget = layers.agg(sum(col("layer_tokens")).as("t"))
      .select(expr(s"t DIV $budgetFrac").as("budget"))
    val thr = layers.withColumn("cum", sum(col("layer_tokens")).over(wc))
      .crossJoin(broadcast(budget))
      .filter(col("cum") > col("budget") &&
        col("cum") - col("layer_tokens") <= col("budget"))
      .select(col("score").as("thr_score"),
        (col("budget") - (col("cum") - col("layer_tokens"))).as("layer_budget"))
    val withThr = perDoc.crossJoin(broadcast(thr)) // thr: exactly one row
    val full = withThr.filter(col("score") > col("thr_score"))
    // boundary layer only: one ppm score stratum of the corpus
    val wl = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = withThr.filter(col("score") === col("thr_score"))
      .withColumn("lcum", sum(col("n_tokens")).over(wl))
      .filter(col("lcum") <= col("layer_budget"))
    full.select(col("source"), col("n_tokens"))
      .unionAll(boundary.select(col("source"), col("n_tokens")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sel_tokens"))
  }

  /** EXACT STRATIFIED SAMPLING — proportional allocation over
    * (source, lang) strata with LARGEST-REMAINDER (Hamilton) rounding, so
    * the per-stratum counts sum to EXACTLY n = ⌊N/20⌋ and every value is
    * integer-derivable by an independent engine (Neyman/proportional
    * allocation is how a 100 TB corpus gets an audit sample whose strata
    * mirror the corpus — `mixture`'s hash fates keep rows independently
    * and can't hit exact counts). Selection within a stratum is the
    * house salted-hash fate (top-alloc by fnv32(doc_id:st), ties to the
    * smaller doc_id): reproducible, engine-independent, and stable under
    * corpus growth. Emits the per-stratum audit row: population, exact
    * allocation, picked count (== allocation by construction — the
    * Hamilton bound base+1 ≤ N_h makes over-allocation impossible), and
    * the picked ids.
    *
    * Scale shape: stratum stats and the Hamilton ranking live on the
    * strata-sized table (sources × langs — broadcast-sized by nature);
    * per-doc work is one fused hash projection and one per-stratum
    * row_number window (per-key, shuffle on the stratum key; at skewed
    * stratum sizes the TopKPerKey heap operator is the documented
    * cutover, as in [[sourceCap]] — varying k per stratum is why the
    * window form ships here). */
  def stratifiedSample(spark: SparkSession, dir: String, frac: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
    val strata = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_h"))
    val tot = strata.agg(sum(col("n_h")).as("n_total"))
    val a0 = strata.crossJoin(broadcast(tot))
      .withColumn("n_sample", expr(s"n_total DIV $frac"))
      .withColumn("base", expr("n_h * n_sample DIV n_total"))
      .withColumn("rem", expr("(n_h * n_sample) % n_total"))
    val baseSum = a0.agg(sum(col("base")).as("base_sum"))
    // Hamilton top-up: the (n_sample − Σbase) strata with the largest
    // remainders get +1, ties by stratum key — a row_number over the
    // strata-sized frame (tiny global window, never per-doc)
    val wr = Window.orderBy(col("rem").desc, col("source"), col("lang"))
    val alloc = a0.crossJoin(broadcast(baseSum))
      .withColumn("rk", row_number().over(wr))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("n_sample") - col("base_sum"), 1L).otherwise(0L))
      .select(col("source"), col("lang"), col("n_h"), col("alloc"))
    val ws = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("h").desc, col("doc_id"))
    val picked = docs
      .withColumn("h", Fnv32.fnv32(concat(col("doc_id").cast("string"), lit(":st"))))
      .withColumn("rn", row_number().over(ws))
      .join(broadcast(alloc.select(col("source"), col("lang"), col("alloc"))),
        Seq("source", "lang"))
      .filter(col("rn") <= col("alloc"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_picked"),
        concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))).as("members"))
    alloc.join(picked, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("n_h"), col("alloc"),
        coalesce(col("n_picked"), lit(0L)).as("n_picked"),
        coalesce(col("members"), lit("")).as("members"))
  }

  /** EPOCH-BASED UPSAMPLING — the replication half of data mixing that
    * `mixture`/`temperatureMixture` (keep/drop) cannot express: a data
    * recipe assigns each source an epoch factor e ≥ 1 (possibly
    * fractional), and every document is emitted floor(e) times plus one
    * more with probability frac(e) — deterministically, via the same
    * hash-fate primitive as every sampler here, so both engines emit the
    * identical multiset. The factor itself derives from the data
    * (fnv32(source), e ∈ {1.0, 1.5, …, 3.0}) so the oracle re-derives it
    * with no side channel; production callers pass their recipe instead.
    *
    * All arithmetic is integer (e is carried as 2e) and the fan-out is a
    * map-only `explode(sequence(1, n_copies))` — zero exchanges at any
    * corpus size, the fixture's zero-exchange plan family. */
  def epochUpsample(spark: SparkSession, dir: String): DataFrame = {
    val e2 = lit(2) + Fnv32.fnv32(col("source")) % 5 // 2e ∈ {2..6}
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), e2.as("e2"),
        (Fnv32.fnv32(concat(col("doc_id").cast("string"), lit(":epoch"))) % 100)
          .as("fate"))
      .withColumn("n_copies",
        expr("e2 DIV 2") +
          when(col("e2") % 2 === 1 && col("fate") < 50, 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
  }
}
