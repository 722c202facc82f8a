package graft

/** The DuckDB oracle's shared fragments: one SQL definition for each rule
  * the engine and its oracle must agree on, next to the engine-side home it
  * re-derives. Every fragment is a pure function from column or CTE names
  * to SQL text; the static [[SparkEntry.oracleSql]] map, the stage
  * `*OracleSql` builders and [[graft.text.TrainedOracles]] all build on
  * these, so no oracle spells a shared rule itself. */
private[graft] object OracleSql {

  /** Non-empty letter tokens of `src` as a list — the oracle twin of
    * [[graft.text.TextAnalysis.tokensCol]] (split on
    * [[graft.mr.Tokenize.NonLetter]], empties dropped). */
  def tokens(src: String): String =
    s"list_filter(string_split_regex($src, '[^\\p{L}]+'), x -> x <> '')"

  /** The `w`-token gram of list `tk` starting at 1-based index `i`, tokens
    * joined by one space. */
  def gram(tk: String, i: String, w: Int): String =
    (0 until w).map(j => if (j == 0) s"$tk[$i]" else s"$tk[$i+$j]").mkString(" || ' ' || ")

  /** Every `w`-gram of `tk` in position order; a list shorter than `w` is
    * one gram of all its tokens — [[graft.dedup.Dedup.shingles]] (wrap it
    * in `list_distinct` for the set). */
  def shingles(tk: String, w: Int): String =
    s"""CASE WHEN len($tk) < $w THEN [array_to_string($tk, ' ')]
       |  ELSE list_transform(generate_series(1, len($tk)-${w - 1}),
       |    i -> ${gram(tk, "i", w)}) END""".stripMargin

  /** The Gopher repetition statistics of CTE `src` (`doc_id`, token list
    * `tk`) as CTEs: `g2s` (most frequent bigram count `g2_max` of `g2_n`
    * bigrams) and `g3s` (`g3_n` trigrams, `g3_d` distinct). A doc with too
    * few tokens has no row. */
  def gramStatsCtes(src: String): String =
    s"""g2 AS (SELECT doc_id, ${gram("tk", "i", 2)} AS gram
       |       FROM $src, unnest(generate_series(1, len(tk)-1)) AS u(i)),
       |g2c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
       |g2s AS (SELECT doc_id, MAX(c) AS g2_max, SUM(c) AS g2_n FROM g2c GROUP BY 1),
       |g3 AS (SELECT doc_id, ${gram("tk", "i", 3)} AS gram
       |       FROM $src, unnest(generate_series(1, len(tk)-2)) AS u(i)),
       |g3c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
       |g3s AS (SELECT doc_id, SUM(c) AS g3_n, COUNT(*) AS g3_d FROM g3c GROUP BY 1)""".stripMargin

  /** Share of the most frequent bigram, over [[gramStatsCtes]]' columns. */
  val topBigramFrac = "CAST(g2_max AS DOUBLE) / g2_n"

  /** Share of repeated trigram occurrences, over [[gramStatsCtes]]' columns. */
  val dupTrigramFrac = "CAST(g3_n - g3_d AS DOUBLE) / g3_n"

  /** Mean token length of token list `tk`. */
  def meanTokenLen(tk: String): String =
    s"CAST(list_sum(list_transform($tk, x -> length(x))) AS DOUBLE) / len($tk)"

  /** The Gopher quality verdict on its four statistics. */
  def gopherOk(nWords: String, meanLen: String, topBigram: String, dupTrigram: String): String =
    s"""($nWords >= 30 AND $meanLen >= 3.0 AND $meanLen <= 10.0
       |  AND $topBigram <= 0.1 AND $dupTrigram <= 0.05)""".stripMargin

  /** The hygiene verdict `ph` per doc of CTE `src` (`doc_id`, token list
    * `tk`, its length `n_tok`) as CTE `hy`: wordlist share then the Gopher
    * rules, over [[gramStatsCtes]]`(src)`. */
  def hygieneCte(src: String): String =
    s"""hy AS (SELECT $src.doc_id,
       |    (CAST(len(list_filter(tk, x -> x IN ('slow','big','bad'))) AS DOUBLE) / len(tk) <= 0.05
       |     AND ${gopherOk(s"$src.n_tok", meanTokenLen("tk"), topBigramFrac, dupTrigramFrac)}) AS ph
       |  FROM $src LEFT JOIN g2s ON $src.doc_id = g2s.doc_id
       |         LEFT JOIN g3s ON $src.doc_id = g3s.doc_id)""".stripMargin

  /** [[graft.text.TextAnalysis.htmlExtractCols]] as CTEs: the planted pages
    * `hd` ([[graft.Fixtures.htmlDocsSql]]), their blocks `hb` (marked at
    * block-opening tags with a control char — RE2 has no lookahead), the
    * kept blocks `hk` and the extraction `he` (`doc_id`, `kept`,
    * `extracted`). */
  def htmlExtractCtes: String = {
    def txt(b: String): String =
      s"trim(regexp_replace(regexp_replace($b, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
    def noAnchorTxt(b: String): String =
      s"trim(regexp_replace(regexp_replace(regexp_replace($b, '<a[^>]*>.*?</a>', ' ', 'g'), '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
    s"""hd AS (${graft.Fixtures.htmlDocsSql}),
       |hb AS (SELECT doc_id,
       |    string_split(regexp_replace(html, '<(p|div|h1|li)([ >])',
       |      chr(1) || '<\\1\\2', 'g'), chr(1)) AS blocks FROM hd),
       |hk AS (SELECT doc_id,
       |    list_filter(blocks, b ->
       |      len(string_split(${txt("b")}, ' ')) >= 5 AND
       |      (length(${txt("b")}) - length(${noAnchorTxt("b")})) * 3
       |        <= length(${txt("b")})) AS kept FROM hb),
       |he AS (SELECT doc_id, kept,
       |    array_to_string(list_transform(kept, b -> ${txt("b")}), chr(10)) AS extracted
       |  FROM hk)""".stripMargin
  }

  /** Cosine of two DOUBLE lists in [[graft.functions.VecOps.cosine6]]'s
    * operand order: a·b / sqrt(a·a · b·b), and 0.0 when a norm is zero
    * (the engine's contract; DuckDB's division would give NULL). */
  private def cosine(a: String, b: String): String = {
    val d = s"(list_inner_product($a, $a) * list_inner_product($b, $b))"
    s"CASE WHEN $d = 0 THEN 0.0::DOUBLE ELSE list_inner_product($a, $b) / sqrt($d) END"
  }

  /** [[cosine]] rounded to 6 decimals — the compared cosine surface. */
  def cosine6(a: String, b: String): String = s"ROUND(${cosine(a, b)}, 6)"

  /** Exact top-`k` truth over `embeddings` in [[graft.sim.TopK]]'s order —
    * raw cosine desc, then neighbor id — as rows (`query_id`,
    * `neighbor_id`, 6-decimal `cosine`, 1-based INT `rank`). `queries`
    * selects `query_id` and embedding `qe` (and whatever `pair` reads) from
    * `e` (`vec_id`, `label`, `emb`); `pair` admits candidate `v` for a
    * query. */
  def topKTruth(queries: String, pair: String, k: Int): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS ($queries),
       |c AS (SELECT query_id, v.vec_id AS neighbor_id, ${cosine("qe", "v.emb")} AS cos
       |      FROM q JOIN e v ON $pair),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM c)
       |SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $k""".stripMargin

  /** FNV-1a 32-bit over the UTF-8 bytes of VARCHAR `s`, masked to 31 bits,
    * as INT — [[graft.functions.Fnv32.hash]]: a `list_reduce` over the
    * bytes, recovered from `hex(encode(…))` pairs, wrapping mod 2^32 in
    * BIGINT. */
  def fnv32(s: String): String = {
    val hx = s"hex(encode($s))"
    s"""CAST(list_reduce(
       |  list_prepend(CAST(2166136261 AS BIGINT),
       |    list_transform(range(1, 2 * octet_length(encode($s)), 2),
       |      i -> CAST(16 * (strpos('0123456789ABCDEF', $hx[CAST(i AS INT)]) - 1)
       |           + (strpos('0123456789ABCDEF', $hx[CAST(i AS INT) + 1]) - 1) AS BIGINT))),
       |  (h, b) -> (xor(h, b) * 16777619) % 4294967296) % 2147483648 AS INT)""".stripMargin
  }

  /** FNV-1a 64-bit of ASCII VARCHAR `s` as an unsigned HUGEINT —
    * [[graft.dedup.Dedup.fnv64]]: wraps mod 2^64, and the xor touches
    * only the low byte since every character is below 128. */
  def fnv64(s: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |    list_transform(range(1, length($s) + 1), i -> CAST(ascii($s[i]) AS HUGEINT))),
       |  (h, c) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
       |             * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))""".stripMargin
}
