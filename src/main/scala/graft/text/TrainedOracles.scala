package graft.text

import org.apache.spark.sql.SparkSession

import graft.OracleSql._

/** DuckDB value-oracles for the three TRAINED-MODEL apply queries — the
  * last rows of the surface that previously rode on rows-only checks.
  *
  * The blocker was never expressibility of the APPLY pass (greedy BPE
  * merging is a chain of left-to-right `replace`s, Viterbi is a recursive
  * CTE, classifier scoring is a dot product); it was that the model is an
  * artifact the query itself trains, which a static SQL string cannot
  * know. The fix is the `Mmr`/BM25/LSH constant-interpolation precedent
  * taken one step further: [[graft.Verify]] calls [[all]] AFTER training
  * reruns here (every trainer is bit-deterministic under any partitioning
  * — integer/fixed-point counts with explicit tie-breaks — so retraining
  * reproduces the exact artifact the registered query used), and the tiny
  * frozen model (8 merge pairs, ≤64 piece log-probs, 69 weights) is
  * interpolated into the SQL as literals. DuckDB then re-derives the apply
  * pass from the raw parquet with zero knowledge of the Spark run.
  *
  * Cross-engine float contract (see SURVEY §8): all counting is integer;
  * the only doubles are (a) piece log-probs, summed in the SAME DP order
  * by both engines from identical shortest-repr literals, hence bit-equal,
  * and (b) the classifier margin, whose token part is summed as FIXED-POINT
  * Longs (the training-side device reused at scoring time) and whose one
  * genuinely inexact op (`exp`) sits behind the surface's ROUND(…, 6). */
object TrainedOracles {

  /** Shortest-repr double literal, CAST so DuckDB cannot keep it DECIMAL. */
  private def d(x: Double): String = s"CAST(${x.toString} AS DOUBLE)"

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `text_bpe_apply`: the greedy left-to-right non-overlapping merge pass
    * re-expressed as a `replace` chain. Each word is exploded to
    * pipe-delimited symbols (`hello` → `|h||e||l||l||o|`); applying merge
    * (a,b) is then exactly `replace(s, '|a||b|', '|ab|')` — SQL `replace`
    * scans left to right and continues AFTER each replacement, which is
    * precisely [[BpeTrain.applyMerges]]'s `i += 2` loop, and the doubled
    * delimiter means adjacent matches never share a boundary character
    * (a single-space join would: `a a a a` breaks after the first merge).
    * Merges nest innermost-first = learn order. Symbol count falls out of
    * the pipe count; all arithmetic is integer. */
  def bpeSql(spark: SparkSession, dir: String, k: Int = 8): String = {
    val merges = BpeTrain.trainMerges(spark, dir, k).map(m => (m.left, m.right))
    val chain = merges.foldLeft("regexp_replace(w, '(.)', '|\\1|', 'g')") {
      case (acc, (a, b)) => s"replace($acc, ${sq(s"|$a||$b|")}, ${sq(s"|$a$b|")})"
    }
    s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
        tokw AS (SELECT doc_id, u.w FROM t, unnest(tk) AS u(w)),
        dw AS (SELECT DISTINCT w FROM tokw),
        seg AS (SELECT w, (length(s) - length(replace(s, '|', ''))) // 2 AS n_sub
                FROM (SELECT w, $chain AS s FROM dw)),
        agg AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(n_sub) AS n_subwords
                FROM tokw JOIN seg USING (w) GROUP BY doc_id)
        SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(a.n_subwords, 0) AS BIGINT) AS n_subwords
        FROM documents d LEFT JOIN agg a USING (doc_id)"""
  }

  /** `text_unigram_apply`: [[UnigramLm.viterbi]] as a recursive CTE. Each
    * iteration finalizes DP cell e+1 for every word, carrying the whole
    * score/count prefix as LIST columns; the candidate scan over starts
    * [max(0,e−5), e] is a `list_transform` + `list_min` over lexicographic
    * `[−score, n_pieces]` pairs — max score, tie → fewer pieces, exactly
    * the Scala `better` predicate (the start-index tie-break only selects
    * WHICH path, never the (score, count) pair the output reports). Score
    * additions happen in the same DP order from the same literals on both
    * engines, so the double comparisons are bit-equal. */
  def unigramSql(spark: SparkSession, dir: String, vocabSize: Int = 64,
                 maxPieceLen: Int = 6): String =
    unigramSqlFor(UnigramLm.train(spark, dir, vocabSize), maxPieceLen)

  /** `text_unigram_soft`: the same Viterbi-apply oracle under the SOFT-EM
    * (forward-backward expected-count) model — training differs, the
    * apply surface and its SQL re-derivation are identical. */
  def unigramSoftSql(spark: SparkSession, dir: String, vocabSize: Int = 64,
                     maxPieceLen: Int = 6): String =
    unigramSqlFor(UnigramLm.trainSoft(spark, dir, vocabSize), maxPieceLen)

  private def unigramSqlFor(model: Seq[UnigramLm.Piece], maxPieceLen: Int): String = {
    val fb = UnigramLm.fallbackOf(model.map(_.logp))
    val pl = model.map(p => sq(p.piece)).mkString("[", ",", "]")
    val plp = model.map(p => d(p.logp)).mkString("[", ",", "]")
    val sub = s"substr(w, CAST(s AS INT) + 1, e + 1 - CAST(s AS INT))"
    s"""WITH RECURSIVE
        t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
        tokw AS (SELECT doc_id, u.w FROM t, unnest(tk) AS u(w)),
        words AS (SELECT DISTINCT w FROM tokw),
        dp AS (
          SELECT w, 0 AS e, [CAST(0.0 AS DOUBLE)] AS sc, [0] AS np FROM words
          UNION ALL
          SELECT w, e + 1 AS e, list_append(sc, -best[1]) AS sc,
                 list_append(np, CAST(best[2] AS INT)) AS np
          FROM (
            SELECT w, e, sc, np,
              list_min(list_filter(list_transform(
                generate_series(greatest(0, e - ${maxPieceLen - 1}), e),
                s -> CASE
                  WHEN list_position($pl, $sub) IS NOT NULL
                    THEN [-(sc[CAST(s AS INT) + 1] + ($plp)[list_position($pl, $sub)]),
                          CAST(np[CAST(s AS INT) + 1] + 1 AS DOUBLE)]
                  WHEN e + 1 - CAST(s AS INT) = 1
                    THEN [-(sc[CAST(s AS INT) + 1] + ${d(fb)}),
                          CAST(np[CAST(s AS INT) + 1] + 1 AS DOUBLE)]
                  ELSE NULL END),
                x -> x IS NOT NULL)) AS best
            FROM dp WHERE e < length(w))),
        res AS (SELECT w, np[length(w) + 1] AS n_p FROM dp WHERE e = length(w)),
        agg AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(n_p) AS n_pieces
                FROM tokw JOIN res USING (w) GROUP BY doc_id)
        SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces
        FROM documents d LEFT JOIN agg a USING (doc_id)"""
  }

  /** `text_quality_classifier`: retrain the Newton/IRLS fit (bit-exact
    * under any partitioning), freeze the 69 weights, and score in SQL —
    * the shape margin builds on the Gopher statistics of
    * [[graft.OracleSql.gramStatsCtes]]; the token margin hashes each
    * DISTINCT token with [[graft.OracleSql.fnv32]] and sums the
    * broadcastable weight table in the same ×2^24 fixed-point Longs the
    * Spark query sums, so the only inexact op on the whole surface is the
    * final `exp` behind ROUND 6. */
  def classifierSql(spark: SparkSession, dir: String): String = {
    import QualityClassifier._
    val (w, _) = trainNewton(featurize(spark, dir))
    val wtab = (0 until NumBuckets)
      .map(b => s"(${b}, CAST(${math.rint(w(5 + b) * Scale).toLong} AS BIGINT))")
      .mkString(",")
    val shapeZ = s"${d(w(0))} + ${d(w(1))} * (n_words / ${d(100.0)}) + " +
      s"${d(w(2))} * (mean_word_len / ${d(10.0)}) + ${d(w(3))} * top_bigram_frac + " +
      s"${d(w(4))} * dup_trigram_frac"
    s"""WITH t AS (SELECT doc_id, ${tokens("text")} AS tk FROM documents),
        f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 3),
        ${gramStatsCtes("f")},
        base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
               ${meanTokenLen("tk")} AS mean_word_len
             FROM f),
        shp AS (SELECT b.doc_id, b.n_words,
               $topBigramFrac AS top_bigram_frac,
               $dupTrigramFrac AS dup_trigram_frac,
               b.mean_word_len
             FROM base b JOIN g2s USING (doc_id) JOIN g3s USING (doc_id)),
        tokw AS (SELECT doc_id, u.w FROM f, unnest(tk) AS u(w)),
        dw AS (SELECT w, ${fnv32("w")} % ${NumBuckets} AS bucket
               FROM (SELECT DISTINCT w FROM tokw)),
        wtab(bucket, wfix) AS (VALUES $wtab),
        tokz AS (SELECT doc_id, CAST(SUM(wfix) AS BIGINT) AS sfix
                 FROM tokw JOIN dw USING (w) JOIN wtab USING (bucket) GROUP BY doc_id),
        z AS (SELECT s.doc_id, s.n_words,
               $shapeZ AS shape_z,
               (t.sfix / ${d(Scale)}) / s.n_words AS tok_z,
               ${gopherOk("s.n_words", "s.mean_word_len", "s.top_bigram_frac", "s.dup_trigram_frac")}
                 AS gopher_ok
             FROM shp s JOIN tokz t USING (doc_id))
        SELECT doc_id, n_words,
          ROUND(${d(1.0)} / (${d(1.0)} + exp(-(shape_z + tok_z))), 6) AS quality_score,
          (shape_z + tok_z >= 0) AS model_ok, gopher_ok
        FROM z"""
  }

  /** The queries whose oracles are generated here, not in the static map. */
  val names: Set[String] =
    Set("text_bpe_apply", "text_unigram_apply", "text_unigram_soft",
      "text_quality_classifier")

  /** Everything [[graft.Verify]] merges over the static `oracleSql` map;
    * `wanted` trims the (training-cost) generation to a local subset run. */
  def all(spark: SparkSession, dir: String,
          wanted: Set[String] = names): Map[String, String] = Map(
    "text_bpe_apply" -> (() => bpeSql(spark, dir)),
    "text_unigram_apply" -> (() => unigramSql(spark, dir)),
    "text_unigram_soft" -> (() => unigramSoftSql(spark, dir)),
    "text_quality_classifier" -> (() => classifierSql(spark, dir)))
    .filter { case (k, _) => wanted.contains(k) }
    .map { case (k, f) => k -> f() }
}
