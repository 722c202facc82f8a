package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a training-data pipeline, over the `documents`
  * fixture. All are single-pass, codegen'd column expressions (no UDFs in the
  * hot path) — at 100 TB each is a map-only stage over the parquet scan,
  * no shuffle except the final small aggregations.
  */
object TextAnalysis {

  private val NonLetter = "[^\\p{L}]+"

  /** Non-empty letter tokens of `text` as an array column. */
  def tokensCol(text: Column): Column =
    array_remove(split(text, NonLetter), "")

  /** Token pairs at distance 1..`w` of a token array, as
    * `array<struct<a, b>>`: for each k ≤ w, (t[i], t[i+k]) for every
    * i < size − k, in position order. Built from codegen'd built-ins only
    * (`arrays_zip` of two shifted `slice`s per k, `concat` over k), so
    * the pair stream stays inside whole-stage codegen — a `transform`
    * lambda over `sequence` is CodegenFallback and runs interpreted.
    * Reference `t` as a projected attribute: it is read 2·w times. */
  def pairsCol(t: Column, w: Int): Column = {
    def shifted(k: Int): Column = {
      val len = greatest(size(t) - k, lit(0))
      arrays_zip(slice(t, lit(1), len).as("a"), slice(t, lit(k + 1), len).as("b"))
    }
    concat((1 to w).map(shifted): _*)
  }

  /** Total character count of a token array: the length of the tokens
    * joined with no separator (one codegen'd expression, no lambda). */
  def charCountCol(t: Column): Column = length(array_join(t, "")).cast("bigint")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-document token statistics (token counting): exact integer counts,
    * ratios as double divisions of those integers (bit-identical across
    * engines). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol(col("text")).as("toks"), length(col("text")).as("text_len"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("bigint").as("n_distinct"),
        col("text_len").cast("bigint").as("n_chars"),
        (charCountCol(col("toks")).cast("double") / size(col("toks")))
          .as("avg_token_len"))

  /** GPT-2-style pre-tokenizer regex, lookahead-free so the identical
    * pattern runs under both Java regex (Spark) and RE2 (DuckDB oracle):
    * contractions | space?letters | space?digits | space?other | whitespace. */
  val BpeIsh = "'(s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token counting, both ways a data pipeline needs it: whitespace tokens
    * and BPE-ish pre-tokenizer segments — one codegen'd map-only pass. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(array_remove(split(col("text"), "\\s+"), "")).cast("bigint").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeIsh), lit(0))).cast("bigint").as("n_bpe_tokens"))

  /** Quality scoring: stopword ratio, distinct-token ratio, mean token
    * length band — a deterministic heuristic quality score in [0,1]. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokensCol(col("text"))
    val nTok = size(toks).cast("bigint")
    val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("bigint")
    val nDist = size(array_distinct(toks)).cast("bigint")
    val stopRatio = nStop.cast("double") / nTok
    val distinctRatio = nDist.cast("double") / nTok
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      stopRatio.as("stop_ratio"),
      distinctRatio.as("distinct_ratio"),
      // score: reward some stopwords (natural text) and lexical diversity,
      // penalize very short docs. Pure arithmetic on the two ratios.
      (when(nTok < 10, 0.0).otherwise(1.0) *
        (lit(0.5) * when(stopRatio > 0.03, 1.0).otherwise(stopRatio * 10.0) +
         lit(0.5) * distinctRatio)).as("quality_score"))
  }

  /** TF-IDF top terms per document: tf = term occurrences in the doc,
    * idf = ln(N / df) over the whole corpus, top-k terms per doc by the
    * 6-decimal-rounded score with a deterministic word tie-break.
    *
    * Scale shape: ONE exchange of the exploded corpus (the (doc, word)
    * group — map-side combined), after which the df table is vocabulary-
    * sized (Zipf-small) and AQE broadcasts it back; N rides along as a
    * broadcast one-row cross join, so no driver-side action computes it.
    * The per-doc top-k window repartitions only the (doc, word, tf) counts,
    * a fraction of the token stream. Ranking compares the ROUNDED score:
    * +, *, / are IEEE-exact across engines but ln is only faithful to
    * ~1 ulp, so the rounded value is the cross-engine-stable sort key (the
    * same acceptance the cosine queries make for ROUND itself). */
  def tfidfTop(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // spread: tokenize+explode is the per-row cost and ran on the one scan
    // split (r14); counts/windows downstream are partitioning-insensitive
    val words = Tables.spreadSmall(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokensCol(lower(col("text")))).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf").cast("double") * log(col("n_docs").cast("double") / col("df")), 6))
    scored
      .withColumn("rnk", row_number().over(
        W.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word"))))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("score"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Language-ID heuristic: marker-word hit counts per language, argmax with
    * deterministic alphabetical tie-break (de < en < es < fr < zh). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokensCol(lower(col("text")))
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => t.isInCollection(markers))).cast("bigint")
    val sDe = score(Seq("der", "und", "die", "das"))
    val sEn = score(Seq("the", "a", "of", "and"))
    val sEs = score(Seq("el", "la", "los", "de"))
    val sFr = score(Seq("le", "les", "une", "est"))
    val sZh = score(Seq("zh"))
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang").as("lang_declared"),
      sDe.as("s_de"), sEn.as("s_en"), sEs.as("s_es"), sFr.as("s_fr"), sZh.as("s_zh"),
      when(sDe >= sEn && sDe >= sEs && sDe >= sFr && sDe >= sZh, "de")
        .when(sEn >= sEs && sEn >= sFr && sEn >= sZh, "en")
        .when(sEs >= sFr && sEs >= sZh, "es")
        .when(sFr >= sZh, "fr")
        .otherwise("zh").as("lang_pred"))
  }

  /** VOCABULARY GROWTH (Heaps' law readout): distinct-token count at
    * doc-id-prefix checkpoints (20%..100% of the id range) — the curve
    * whose flattening says a corpus has stopped contributing new
    * vocabulary (dataset-card material next to [[profile]]'s type-token
    * ratio). ONE scan: the five cumulative distinct counts run as
    * conditional count-distincts in a single aggregate (Catalyst expands
    * them into one pass); checkpoints derive from max(doc_id), a bounded
    * 1-row lookup. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // bounded: ONE row — the id range the checkpoints derive from
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val toks = docs.select(col("doc_id"), explode(tokensCol(lower(col("text")))).as("tok"))
    val pcts = Seq(20, 40, 60, 80, 100)
    val aggs = pcts.flatMap { p =>
      val cut = maxId * p / 100
      Seq(countDistinct(when(col("doc_id") <= cut, col("doc_id"))).as(s"d$p"),
        countDistinct(when(col("doc_id") <= cut, col("tok"))).as(s"v$p"))
    }
    val row = toks.agg(aggs.head, aggs.tail: _*)
    row.select(pcts.map(p => struct(lit(p).as("pct"),
        col(s"d$p").as("n_docs"), col(s"v$p").as("vocab"))) match {
        case cols => explode(array(cols: _*)).as("r")
      })
      .select(col("r.pct"), col("r.n_docs"), col("r.vocab"))
  }

  /** DuckDB re-derivation of [[vocabGrowth]]. */
  def vocabGrowthOracleSql(): String = {
    val body = Seq(20, 40, 60, 80, 100).map { p =>
      s"""SELECT $p AS pct,
         |  COUNT(DISTINCT CASE WHEN doc_id <= (SELECT MAX(doc_id) * $p // 100 FROM documents)
         |    THEN doc_id END) AS n_docs,
         |  COUNT(DISTINCT CASE WHEN doc_id <= (SELECT MAX(doc_id) * $p // 100 FROM documents)
         |    THEN tok END) AS vocab
         |FROM (SELECT doc_id, unnest(${toksSqlLower}) AS tok FROM documents)""".stripMargin
    }.mkString("\nUNION ALL ")
    s"SELECT CAST(pct AS INT) AS pct, CAST(n_docs AS BIGINT) AS n_docs, " +
      s"CAST(vocab AS BIGINT) AS vocab FROM ($body)"
  }

  private val toksSqlLower =
    """list_filter(string_split_regex(lower(text), '[^\p{L}]+'), x -> x <> '')"""

  /** LANGID CONFUSION MATRIX — the model-eval readout for [[langId]]:
    * per (declared, predicted) language pair, the doc count and its share
    * of the declared language's docs (the diagonal's share IS per-class
    * recall). The corpus-sized work is langId's map-only scoring; the
    * matrix is one ≤|langs|² exchange, and the share divides two exact
    * integers over that tiny frame (the Dsir window precedent). */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang_declared"))
    langId(spark, dir)
      .groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("declared_share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double"))
  }

  /** Gopher/C4-style repetition + shape filters (Rae et al. 2021 §A1.1,
    * Raffel et al. 2020 §2.2 — published heuristics every LLM data pipeline
    * applies before training): per document,
    *
    *   - `top_bigram_frac`: fraction of word 2-grams taken by the most
    *     frequent 2-gram (boilerplate/chant detector),
    *   - `dup_trigram_frac`: fraction of word 3-grams that are duplicates
    *     ((n − distinct)/n — loop/spam detector),
    *   - `n_words`, `mean_word_len`, and the combined `gopher_ok` verdict
    *     with thresholds in the papers' spirit, tightened to discriminate
    *     on this corpus.
    *
    * All ratios are double divisions of exact integer counts (bit-identical
    * across engines). Plan: two explode → partial-aggregated groupBy
    * pipelines joined back on doc_id — at 100 TB each is one shuffle keyed
    * by (doc, gram), no window, no holistic state. */
  def gopherFilters(spark: SparkSession, dir: String): DataFrame = {
    // MAP-ONLY: every statistic here is a fact about one document, so the
    // fused `gram_stats` expression computes the bigram/trigram repetition
    // numbers in the same codegen'd pass as the token stats — zero
    // exchanges, nothing but the scan at any scale. (The previous
    // formulation exploded interpreted-HOF n-gram strings into two
    // groupBy pipelines — shuffling the n-gram stream to compute per-row
    // facts.) Docs with fewer than 3 tokens have no trigrams and are
    // dropped, matching the oracle's inner joins.
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        size(col("tk")).cast("bigint").as("n_words"),
        (charCountCol(col("tk")).cast("double") / size(col("tk")))
          .as("mean_word_len"),
        graft.functions.TextHash.gramStatsCol(col("tk")).as("gs"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("gs")(0).as("g2_max"), col("gs")(1).as("g2_n"),
        col("gs")(2).as("g3_n"), col("gs")(3).as("g3_d"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        (col("g2_max").cast("double") / col("g2_n")).as("top_bigram_frac"),
        ((col("g3_n") - col("g3_d")).cast("double") / col("g3_n")).as("dup_trigram_frac"),
        (col("n_words") >= 30 && col("mean_word_len") >= 3.0 &&
          col("mean_word_len") <= 10.0 &&
          col("g2_max").cast("double") / col("g2_n") <= 0.1 &&
          (col("g3_n") - col("g3_d")).cast("double") / col("g3_n") <= 0.05)
          .as("gopher_ok"))
  }

  /** Document fingerprint: md5 of the canonical form (lowercased, distinct
    * tokens, sorted, space-joined) — an order-insensitive content hash for
    * cross-corpus dedup joins. A Karp-Rabin rolling-hash variant lives in
    * [[graft.dedup.Dedup.shingleFingerprints]]. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokensCol(lower(col("text"))))), " "))
        .as("fp"))

  /** CCNet-style LANGUAGE-MODEL QUALITY score (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020): per document, the mean negative log-likelihood of its
    * token stream under an add-one-smoothed bigram model trained on the
    * corpus itself — the "perplexity filter" of pretraining pipelines,
    * self-contained (no external LM): repetitive or templated documents
    * score LOW (predictable), lexical soup scores HIGH.
    *
    *   P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
    *   score(d) = round(avg over d's bigrams of −ln P, 6)
    *
    * The 6-decimal rounding is the TF-IDF precedent: ln is the one
    * non-IEEE-exact op, and aggregation order varies with partitioning, so
    * the boundary-safe rounded value is the oracle surface. Scale shape:
    * the bigram stream shuffles once to build the count table; the count
    * tables are vocab²-bounded (≪ corpus) so AQE broadcasts them back onto
    * the stream for scoring, and the per-doc aggregation is the only other
    * corpus-sized exchange. Documents with < 2 tokens have no bigrams and
    * score NULL (pinned in the oracle SQL). */
  def lmQuality(spark: SparkSession, dir: String): DataFrame = {
    // the tokenized corpus feeds FOUR consumers (bigram stream for counting,
    // bigram stream for scoring, vocab, final doc list) and Spark never
    // dedups common subplans — without the checkpoint this query would
    // scan the documents parquet five times (the pack_sequences defect
    // class). The returned plan reads it: tracked (see Checkpoints).
    val docs = graft.Checkpoints.track(Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("t"))
      .localCheckpoint(true))
    val bi = docs.select(col("doc_id"), explode(pairsCol(col("t"), 1)).as("b"))
      .select(col("doc_id"), col("b.a").as("w1"), col("b.b").as("w2"))
    // vocab²-bounded (≪ corpus) and referenced by both c1 and the scoring
    // join: computed once, tracked like `docs`
    val c2 = graft.Checkpoints.track(
      bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")).localCheckpoint(true))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = docs.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val scored = bi
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(vocab)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("c2") + lit(1.0)) / (col("c1") + col("v")))), 6)
          .as("lm_score"))
    docs.select(col("doc_id"), size(col("t")).cast("bigint").as("n_tokens"))
      .join(scored, Seq("doc_id"), "left")
  }

  /** C4-style WORDLIST FILTER (Raffel et al., "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer", JMLR 2020,
    * §2.2 — the "bad words" screen of web-corpus pipelines): per document,
    * blocklist-token occurrences, the blocked fraction, the keep/drop
    * verdict, and the scrubbed text with those tokens removed (redaction —
    * the same machinery a PII scrub runs with regex-shaped lists). The list
    * here is a fixture-visible stand-in (the langId-marker acceptance: the
    * operator under test is the list mechanics, not the list itself).
    *
    * Scale shape: MAP-ONLY — filter/join over the token array fused into
    * the scan, zero exchanges at any corpus size (plan-spec-pinned). The
    * blocklist travels inside the codegen'd expression; a list too large
    * for that (millions of phrases) would switch to the broadcast-join form
    * decontamination already demonstrates. */
  def blocklist(spark: SparkSession, dir: String,
                blocked: Seq[String] = Seq("slow", "big", "bad")): DataFrame = {
    val toks = tokensCol(col("text"))
    val nTok = size(toks).cast("bigint")
    val nBlocked = size(filter(toks, t => t.isInCollection(blocked))).cast("bigint")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      nBlocked.as("n_blocked"),
      (nBlocked.cast("double") / nTok).as("blocked_frac"),
      (nBlocked.cast("double") / nTok > 0.05).as("blocked"),
      array_join(filter(toks, t => !t.isInCollection(blocked)), " ").as("scrubbed"))
  }

  /** PII SCRUBBING — the redaction pass every published training corpus
    * runs (emails, phone numbers → placeholder tokens): pure map-only
    * regex work fused into the scan, zero exchanges at any corpus size —
    * the [[blocklist]] shape with patterns instead of a wordlist. The
    * fixture text carries no PII, so the query PLANTS it
    * deterministically from the doc id (the ev_props_nested dirty-row
    * stance: the contract is only real if the gate exercises it) and
    * reports match counts plus the scrubbed text's md5 — the full
    * redacted string is value-checked, not just counted.
    *
    * Cross-engine care: both patterns are backtracking-free character
    * classes (no lookaround, no backrefs), on which Java regex (Spark)
    * and RE2 (DuckDB) agree; Spark `regexp_replace` is global by default
    * while DuckDB needs the explicit 'g' flag — the oracle carries it. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+1-555-[0-9]{4}"
    val planted = concat(col("text"),
      lit(" contact u"), col("doc_id").cast("string"), lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0))).cast("bigint").as("n_phones"),
        regexp_replace(regexp_replace(col("t"), email, "[EMAIL]"), phone, "[PHONE]").as("s"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        (col("n_emails") + col("n_phones")).as("n_pii"),
        length(col("s")).cast("bigint").as("scrubbed_len"),
        md5(col("s")).as("scrubbed_md5"))
  }

  /** CORPUS PROFILE — the dataset-card dashboard: per source, document
    * count, exact token totals and distribution (mean / interpolated
    * p50+p90 / max), source vocabulary size, and type-token ratio. The
    * per-source length histogram + lexical-richness table every dataset
    * release publishes, and the first thing a mixture designer reads next
    * to [[graft.sample.Sampling.temperatureMixture]].
    *
    * Scale shape: token counting fuses into the scan; TWO map-side-combined
    * exchanges (per-source stats; per-source distinct words — the word
    * stream partially dedups map-side). `percentile` holds per-group sorted
    * state: exact and fine at sources-sized group counts; extreme-
    * cardinality profiles swap in approx_percentile (the q_quantiles
    * sketch-twin precedent). Mean/ttr derive from exact integers (the IEEE
    * division contract); percentiles interpolate identically in both
    * engines (the q_quantiles acceptance). */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("source"), tokensCol(col("text")).as("tk"))
      .select(col("source"), size(col("tk")).cast("bigint").as("n_tok"), col("tk"))
    val stats = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("total_tokens"),
      percentile(col("n_tok"), lit(0.5)).as("p50_tokens"),
      percentile(col("n_tok"), lit(0.9)).as("p90_tokens"),
      max(col("n_tok")).as("max_tokens"))
    val vocab = base.select(col("source"), explode(col("tk")).as("w"))
      .groupBy(col("source")).agg(countDistinct(col("w")).as("vocab"))
    stats.join(vocab, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (col("total_tokens").cast("double") / col("n_docs")).as("mean_tokens"),
        col("p50_tokens"), col("p90_tokens"), col("max_tokens"), col("vocab"),
        (col("vocab").cast("double") / col("total_tokens")).as("ttr"))
  }

  /** Corpus-wide HEAVY HITTERS: top-k bigrams by exact count, deterministic
    * (count desc, gram asc) tie-break — the "what's templated/boilerplate in
    * this crawl" observability query (the corpus-level complement of the
    * per-document gopher repetition stats).
    *
    * Scale shape: the bigram counts are ONE map-side-combined exchange
    * (vocab²-bounded output, ≪ corpus), and the top-k is
    * TakeOrderedAndProject — every partition keeps k rows in a bounded heap
    * and the driver merges partitions×k; no global sort materializes at any
    * corpus size (plan-spec-pinned). */
  def topNgrams(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    Tables.documents(spark, dir)
      .select(tokensCol(col("text")).as("t"))
      .select(explode(pairsCol(col("t"), 1)).as("p"))
      .select(concat(col("p.a"), lit(" "), col("p.b")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)

  /** BM25 RANKING (Robertson-Spärck Jones) for a fixed term set — the
    * classic lexical-retrieval scorer, completing the retrieval loop the
    * chunking + ANN family serves: tf saturation (k1) and length
    * normalization (b) over exact corpus statistics. Score =
    * Σ_t idf(t)·tf·(k1+1)/(tf + k1(1−b) + k1·b·len/avglen) with
    * idf = ln((N − df + ½)/(df + ½) + 1), summed over the query terms in
    * a FIXED left-to-right order.
    *
    * Cross-engine surface: tf/len/N/df are exact integers; every float
    * constant (k1+1, k1(1−b), k1·b) is computed ONCE in Scala and the
    * same shortest-round-trip literal is interpolated into the oracle SQL
    * (the LSH plane-literal device — never let two engines re-derive a
    * float constant), so the only non-IEEE-exact op is ln and the rounded
    * score is the boundary-safe sort key (the TF-IDF acceptance).
    *
    * Scale shape: ONE corpus scan — the (doc_id, len, tf…) projection is
    * tiny (2+|terms| integers per doc) and localCheckpointed, feeding the
    * one-row stats aggregate and the scoring pass (the Packing
    * countedOnce precedent); stats broadcast; top-N via
    * TakeOrderedAndProject bounded heaps. */
  def bm25(spark: SparkSession, dir: String,
           terms: Seq[String] = Seq("table", "query", "window"),
           k1: Double = 1.2, b: Double = 0.75, topN: Int = 100): DataFrame = {
    require(terms.nonEmpty)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("tk"), x => x === t)).cast("bigint").as(s"tf$i")
    }
    val base = graft.Checkpoints.track(Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("tk"))
      .select(col("doc_id") +: size(col("tk")).cast("bigint").as("len") +: tfCols: _*)
      .localCheckpoint(true))
    val aggs = count(lit(1)).cast("bigint").as("n_docs") +:
      sum(col("len")).as("tot_len") +:
      terms.indices.map(i => count(when(col(s"tf$i") > 0, 1)).cast("bigint").as(s"df$i"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val nD = col("n_docs").cast("double")
    val avg = col("tot_len").cast("double") / nD
    val (k1p1, c0, c1) = (k1 + 1, k1 * (1 - b), k1 * b)
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      log((nD - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * k1p1) / (tf + lit(c0) + lit(c1) * col("len").cast("double") / avg)
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("len").as("n_tok"), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topN)
  }

  /** DuckDB re-derivation of [[bm25]] — same terms, same interpolated
    * float constants, same left-to-right term sum. */
  def bm25OracleSql(terms: Seq[String] = Seq("table", "query", "window"),
                    k1: Double = 1.2, b: Double = 0.75, topN: Int = 100): String = {
    val (k1p1, c0, c1) = (k1 + 1, k1 * (1 - b), k1 * b)
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(", ")
    val dfSel = terms.indices.map(i =>
      s"CAST(COUNT(*) FILTER (tf$i > 0) AS BIGINT) AS df$i").mkString(", ")
    val scoreSql = terms.indices.map { i =>
      s"""ln((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5) + 1.0) *
         |(CAST(tf$i AS DOUBLE) * $k1p1) / (CAST(tf$i AS DOUBLE) + $c0 + $c1 * CAST(len AS DOUBLE) /
         |(CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))""".stripMargin
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> x <> '') AS tk FROM documents),
       |d AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len, $tfSel FROM t),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len) AS BIGINT) AS tot_len, $dfSel FROM d)
       |SELECT doc_id, len AS n_tok, ROUND($scoreSql, 6) AS bm25
       |FROM d, st ORDER BY bm25 DESC, doc_id LIMIT $topN""".stripMargin
  }

  /** SLIDING-WINDOW CHUNKING — the retrieval/RAG ingestion step (and the
    * fixed-context twin of [[graft.sample.Packing]]'s concat-and-chunk):
    * each document becomes overlapping windows of `chunkTokens` tokens at
    * stride `chunkTokens − overlap`, each chunk carrying its provenance
    * (doc, index, token offset) so retrieval hits map back to source spans.
    * A window starts at every multiple of the stride below the token count;
    * the final window may be short — the boundary contract both engines
    * (and the oracle's list-slice clamp) share.
    *
    * Scale shape: map-only — tokenize, generate starts, slice, join; one
    * explode with fan-out n/stride per doc and NO exchange at any corpus
    * size (the chunk table writes straight from the scan partitions). */
  def chunks(spark: SparkSession, dir: String,
             chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, s"overlap $overlap vs chunk $chunkTokens")
    val stride = chunkTokens - overlap
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(stride))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col").cast("int").as("start_tok"),
        slice(col("t"), col("col") + 1, lit(chunkTokens)).as("ck"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("ck")).as("n_tok"), concat_ws(" ", col("ck")).as("chunk_text"))
  }

  /** HEAVY HITTERS via the Misra-Gries sketch + a candidate-bounded exact
    * second pass: every word with frequency ≥ 1/`denom` of the corpus, with
    * its EXACT count — the sketch does the pruning, not the answering.
    *
    * Pass 1 runs the mergeable [[graft.functions.MisraGries]] sketch
    * (capacity ≥ denom guarantees the candidate set is a SUPERSET of the
    * true heavy hitters: per-item undercount ≤ n/(capacity+1) < n/denom,
    * so a qualifying counter cannot reach zero). Pass 2 re-scans with the
    * ≤ capacity candidates inlined into a `when(isin)` bucketing column, so
    * the exact count aggregate has at most capacity+1 groups — map-side
    * combine collapses each partition to that many rows before the ONE
    * exchange. The threshold test is pure integer arithmetic
    * (`cnt · denom ≥ total`): no float boundary can flip a row.
    *
    * Scale shape: this is THE bounded-memory answer when the vocabulary
    * itself is too large to groupBy (a trillion-token web crawl has
    * billions of distinct tokens): the sketch crosses the wire as
    * ≤ capacity counters per partition, the second pass as ≤ capacity+1
    * partial rows per partition, and the driver only ever holds the
    * candidate keys. The full-vocabulary exchange of the naive
    * `GROUP BY word HAVING` never happens. */
  def heavyHitters(spark: SparkSession, dir: String,
                   capacity: Int = 200, denom: Long = 100L): DataFrame = {
    require(capacity >= denom, s"capacity $capacity must be >= denom $denom for the superset guarantee")
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(tokensCol(col("text"))).as("word"))
    val sketch: Map[String, Long] = toks.as[String]
      .select(new graft.functions.MisraGries(capacity).toColumn.name("mg"))
      .head()
    val cands = sketch.keys.toSeq.sorted
    val other = " other" // leading space: collides with no letter-only token
    // checkpoint: `counts` (≤ capacity+1 rows) feeds both the total and
    // the output — without it both consumers re-plan the corpus scan +
    // tokenize (the evGapFill lesson), making pass 2 cost double
    val counts = graft.Checkpoints.track(toks
      .groupBy(when(col("word").isInCollection(cands), col("word"))
        .otherwise(lit(other)).as("word"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .filter(col("word") =!= other && col("cnt") * denom >= col("n_total"))
      .select(col("word"), col("cnt"), col("n_total"))
  }

  /** DuckDB re-derivation of [[heavyHitters]]: the plain (vocab-sized)
    * GROUP BY + integer threshold — the sketch path must agree exactly. */
  def heavyHittersOracleSql(denom: Long = 100L): String =
    s"""WITH w AS (SELECT unnest(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |             x -> x <> '')) AS word FROM documents),
       |t AS (SELECT COUNT(*) AS n_total FROM w),
       |c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1)
       |SELECT word, cnt, n_total FROM c, t WHERE cnt * $denom >= n_total""".stripMargin

  /** Typo-tolerant vocabulary join (SymSpell blocking, Garbe 2012): match
    * query strings to all dictionary words within edit distance ≤ 1 —
    * spell-correction / fuzzy entity matching at corpus scale.
    *
    * The naive plan is queries × vocabulary with a levenshtein filter —
    * quadratic and unshippable at 100 TB. SymSpell restores an EQUI key:
    * two strings are within edit distance 1 iff their delete-1
    * neighborhoods ({w} ∪ {w minus one char}) intersect, so both sides
    * explode to their ≤ len+1 variants (bounded, map-only), hash-join on
    * the variant, and the exact levenshtein runs only on candidates. The
    * blocking is complete for distance ≤ 1 (spec-pinned equal to the
    * direct cross join); extra candidates are harmless — the verify
    * keeps only true matches.
    *
    * Queries are planted misspellings (the fixture has none): every 11th
    * doc's first token with the character at position (doc_id/11) mod len
    * deleted — re-derived identically by the oracle, which, being truth,
    * verifies via the direct cross join instead of the blocking. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
    val queries = docs.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), element_at(split(col("text"), " "), 1).as("qtok"))
      .withColumn("q", expr(
        """concat(substring(qtok, 1, CAST((doc_id DIV 11) % length(qtok) AS INT)),
                  substring(qtok, CAST((doc_id DIV 11) % length(qtok) AS INT) + 2, 1000000))"""))
      .select(col("doc_id"), col("q"))
    // one row per position i = 0..len: the string minus its i-th char
    // (i = 0 deletes nothing: substring(c, 1, -1) is empty). Built-ins
    // only, no lambda; a doubled letter repeats a variant, which only
    // repeats join rows that the distinct below collapses.
    def variants(df: DataFrame, c: String): DataFrame =
      df.select(col("*"), explode(sequence(lit(0), length(col(c)))).as("i"))
        .withColumn("v", expr(s"concat(substring($c, 1, i - 1), substring($c, i + 1, 1000000))"))
    val vSide = variants(vocab, "word").select(col("word"), col("v"))
    val qSide = variants(queries, "q").select(col("doc_id"), col("q"), col("v"))
    qSide.join(vSide, "v")
      .select(col("doc_id"), col("q"), col("word")).distinct()
      .withColumn("dist", levenshtein(col("q"), col("word")))
      .filter(col("dist") <= 1)
      .select(col("doc_id"), col("q").as("query_token"),
        col("word").as("match_word"), col("dist"))
  }

  /** WINDOWED CO-OCCURRENCE + PMI — the association statistics a
    * distributional pipeline extracts before training embeddings (GloVe's
    * co-occurrence pass; PMI per Church & Hanks 1990): for every unordered
    * token pair co-occurring within a 3-token window, its count and
    * pointwise mutual information ln(c_xy·N / (c_x·c_y)), N the corpus
    * token count. Only pairs with c_xy ≥ 5 report (the standard sparsity
    * cut — and what keeps the output vocabulary²-bounded in practice).
    *
    * Scale shape: pair generation is MAP-ONLY — [[pairsCol]] over each
    * doc's token array emits its ≤ w·|doc| window pairs with no
    * positional self-join (the textrankEdges device; a position self-join
    * shuffles the exploded corpus twice). One map-side-combined exchange
    * counts pairs, one counts tokens; marginals join back AQE-broadcast
    * (vocabulary-sized). The PMI double is a product/ratio of exact
    * integer-valued doubles (< 2^53), rounded 6 — the ln acceptance.
    * Orientation (least, greatest) halves the pair space. */
  def windowCooc(spark: SparkSession, dir: String, w: Int = 3,
                 minCount: Long = 5L): DataFrame = {
    // tokenize once, materialize for the two consumers; no-op at scale
    // (Tables.materializeSmall)
    val docs = Tables.materializeSmall(
      Tables.documents(spark, dir).select(tokensCol(lower(col("text"))).as("t")))
    val toksE = docs.select(explode(col("t")).as("tok"))
    val cx = toksE.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // total token count from the vocabulary-sized cx, NOT a second
    // tokenize+explode pass over the corpus: Σ c ≡ count of all tokens
    val nTot = cx.agg(sum(col("c")).as("n_tok"))
    val pairs = docs.select(explode(pairsCol(col("t"), w)).as("p"))
      .select(least(col("p.a"), col("p.b")).as("w1"), greatest(col("p.a"), col("p.b")).as("w2"))
      .filter(col("w1") =!= col("w2"))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .join(cx.select(col("tok").as("w1"), col("c").as("c_x")), "w1")
      .join(cx.select(col("tok").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(nTot))
      .select(col("w1"), col("w2"), col("c_xy"),
        round(log((col("c_xy").cast("double") * col("n_tok").cast("double")) /
          (col("c_x").cast("double") * col("c_y").cast("double"))), 6).as("pmi"))
  }

  /** DuckDB re-derivation of [[windowCooc]] — the positional self-join
    * truth of the engine's map-only pair generation. */
  def windowCoocOracleSql(w: Int = 3, minCount: Long = 5L): String =
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> x <> '') AS tk
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS i FROM t),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok),
       |cx AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
       |pr AS (SELECT LEAST(a.tok, b.tok) AS w1, GREATEST(a.tok, b.tok) AS w2
       |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id
       |         AND b.i > a.i AND b.i <= a.i + $w
       |       WHERE a.tok <> b.tok),
       |cxy AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM pr
       |        GROUP BY 1, 2 HAVING COUNT(*) >= $minCount)
       |SELECT cxy.w1, cxy.w2, cxy.c_xy,
       |  ROUND(ln((CAST(cxy.c_xy AS DOUBLE) * CAST(n.n_tok AS DOUBLE)) /
       |    (CAST(cx1.c AS DOUBLE) * CAST(cx2.c AS DOUBLE))), 6) AS pmi
       |FROM cxy JOIN cx cx1 ON cxy.w1 = cx1.tok
       |  JOIN cx cx2 ON cxy.w2 = cx2.tok, n""".stripMargin

  /** DuckDB re-derivation of [[chunks]] (64-token windows, 16 overlap). */
  def chunksOracleSql(chunkTokens: Int = 64, overlap: Int = 16): String = {
    val stride = chunkTokens - overlap
    s"""WITH tk AS (SELECT doc_id,
       |  list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> x <> '') AS t FROM documents),
       |s AS (SELECT doc_id, t, unnest(range(0, len(t), $stride)) AS start
       |      FROM tk WHERE len(t) > 0),
       |ck AS (SELECT doc_id, CAST(start // $stride AS INT) AS chunk_idx,
       |         CAST(start AS INT) AS start_tok,
       |         list_slice(t, start + 1, start + $chunkTokens) AS c FROM s)
       |SELECT doc_id, chunk_idx, start_tok, CAST(len(c) AS INT) AS n_tok,
       |  array_to_string(c, ' ') AS chunk_text FROM ck""".stripMargin
  }

  /** FEATURE HASHING (Weinberger et al. 2009, the "hashing trick"): each
    * document's bag of tokens folded into a fixed `dims`-dimensional
    * integer term-frequency vector by hashing tokens to dimensions —
    * vocabulary-free featurization, the input layer of every
    * logistic/linear quality filter that can't afford a vocabulary
    * (the [[QualityClassifier]] already buckets tokens this way; this is
    * the operator stand-alone).
    *
    * Scale shape: the whole featurization is MAP-ONLY — the vector is
    * built per row by `dims` filtered-size passes over the token array
    * (O(dims·tokens) inside one codegen stage, no explode), so the query
    * runs at ZERO exchanges at any corpus size; the naive
    * explode→groupBy(doc,dim) shape the oracle uses would shuffle one row
    * per token. Emitted surface: exact integer summaries of the vector
    * (nnz / L2²-norm / argmax dim with the smallest-dim tie) rather than
    * the array itself, so the compare is scalar-exact. */
  def featureHash(spark: SparkSession, dir: String, dims: Int = 16): DataFrame = {
    val fnvDim = (t: Column) => pmod(graft.functions.Fnv32.fnv32(t), lit(dims))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("bigint").as("n_tokens"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => size(filter(col("tk"), t => fnvDim(t) === d)).cast("bigint")).as("vec"))
      .select(col("doc_id"), col("n_tokens"),
        size(filter(col("vec"), x => x > 0)).cast("int").as("nnz"),
        aggregate(col("vec"), lit(0L), (a, x) => a + x * x).as("norm2"),
        (array_position(col("vec"), array_max(col("vec"))) - 1).cast("int").as("top_dim"),
        array_max(col("vec")).as("top_tf"))
  }

  /** DuckDB re-derivation of [[featureHash]]: the naive explode →
    * GROUP BY (doc, dim) with in-SQL UTF-8 FNV-1a
    * ([[TrainedOracles.fnvSql]] — the classifier-oracle device), zero-token
    * docs re-joined with all-zero summaries (engine: a zero vector's
    * argmax is position 1 → dim 0). */
  def featureHashOracleSql(dims: Int = 16): String =
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> x <> '') AS tk
       |  FROM documents),
       |x AS (SELECT doc_id, unnest(tk) AS tok FROM t),
       |g AS (SELECT doc_id, ${TrainedOracles.fnvSql("tok")} % $dims AS dim,
       |        COUNT(*) AS tf FROM x GROUP BY 1, 2),
       |s AS (SELECT doc_id, COUNT(*) AS nnz, SUM(tf * tf) AS norm2 FROM g GROUP BY 1),
       |top AS (SELECT doc_id, dim AS top_dim, tf AS top_tf FROM (
       |    SELECT doc_id, dim, tf, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY tf DESC, dim) AS rn FROM g) WHERE rn = 1)
       |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(s.nnz, 0) AS INT) AS nnz,
       |  CAST(COALESCE(s.norm2, 0) AS BIGINT) AS norm2,
       |  CAST(COALESCE(top.top_dim, 0) AS INT) AS top_dim,
       |  CAST(COALESCE(top.top_tf, 0) AS BIGINT) AS top_tf
       |FROM t LEFT JOIN s USING (doc_id) LEFT JOIN top USING (doc_id)""".stripMargin

  // ---------------------------------------- HTML main-text extraction

  /** HTML → MAIN TEXT (boilerplate removal) — the FIRST stage of every
    * real web-corpus pipeline (raw crawl → clean text), upstream of all
    * hygiene/dedup operators in this repo: block-level classification in
    * the jusText/trafilatura tradition (Pomikálek 2011), on two integer
    * signals per block — word count and LINK DENSITY (anchor-text chars /
    * text chars). Nav bars and ad blocks die on word count; footers (5+
    * words, half of them links) die on density — word count alone cannot
    * kill them, which is why the density signal exists.
    *
    * Implementation is one fused codegen'd expression tree per row — the
    * page is marked at block-opening tags (`<p|div|h1|li`), split, and the
    * block array flows through `filter`/`transform` higher-order functions
    * (never an explode → reassemble round trip), so the whole operator is
    * MAP-ONLY: zero exchanges at any corpus size, and the classification
    * is pure integer arithmetic (3·link_chars ≤ text_chars, n_words ≥ 5 —
    * no float contract). Kept blocks concatenate in page order; the
    * per-doc digest is the md5 of that extraction (the mm_* recipe
    * contract: the oracle re-derives the identical plant and extractor,
    * so digests compare bit-exact). */
  /** The extraction itself as `(kept, extracted)` columns over an `html`
    * column -- shared by the registered digest query and the crawl-pipeline
    * capstone (which feeds `extracted` onward into hygiene/decontam
    * instead of hashing it). */
  def htmlExtractCols(html: Column): (Column, Column) = {
    def txt(b: Column): Column =
      trim(regexp_replace(regexp_replace(b, "<[^>]*>", " "), "\\s+", " "))
    def noAnchorTxt(b: Column): Column =
      trim(regexp_replace(regexp_replace(
        regexp_replace(b, "<a[^>]*>.*?</a>", " "), "<[^>]*>", " "), "\\s+", " "))
    val marked = regexp_replace(html, "<(p|div|h1|li)([ >])", "\u0001<$1$2")
    val blocks = split(marked, "\u0001")
    val kept = filter(blocks, b =>
      size(split(txt(b), " ")) >= 5 &&
        (length(txt(b)) - length(noAnchorTxt(b))) * 3 <= length(txt(b)))
    val extracted = array_join(transform(kept, b => txt(b)), "\n")
    (kept, extracted)
  }

  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val (kept, extracted) = htmlExtractCols(col("html"))
    graft.Fixtures.htmlDocs(spark, dir)
      .select(col("doc_id"), kept.as("kept"), extracted.as("extracted"))
      .select(col("doc_id"), md5(col("extracted")).as("text_md5"),
        size(col("kept")).as("n_blocks_kept"),
        length(col("extracted")).cast("bigint").as("n_chars"))
  }

  /** DuckDB re-derivation of [[htmlExtract]]: the same plant
    * ([[graft.Fixtures.htmlDocsSql]]), the same mark-split-classify chain
    * as list lambdas. RE2 has no lookahead, so the block split marks tags
    * with a control char first (both engines). */
  def htmlExtractOracleSql: String = {
    def txt(b: String): String =
      s"trim(regexp_replace(regexp_replace($b, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
    def noAnchorTxt(b: String): String =
      s"trim(regexp_replace(regexp_replace(regexp_replace($b, '<a[^>]*>.*?</a>', ' ', 'g'), '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
    s"""WITH hd AS (${graft.Fixtures.htmlDocsSql}),
       |b AS (SELECT doc_id,
       |    string_split(regexp_replace(html, '<(p|div|h1|li)([ >])',
       |      chr(1) || '<\\1\\2', 'g'), chr(1)) AS blocks FROM hd),
       |k AS (SELECT doc_id,
       |    list_filter(blocks, b ->
       |      len(string_split(${txt("b")}, ' ')) >= 5 AND
       |      (length(${txt("b")}) - length(${noAnchorTxt("b")})) * 3
       |        <= length(${txt("b")})) AS kept FROM b),
       |e AS (SELECT doc_id, kept,
       |    array_to_string(list_transform(kept, b -> ${txt("b")}), chr(10)) AS extracted
       |  FROM k)
       |SELECT doc_id, md5(extracted) AS text_md5,
       |  CAST(len(kept) AS INT) AS n_blocks_kept,
       |  CAST(length(extracted) AS BIGINT) AS n_chars FROM e""".stripMargin
  }
}
