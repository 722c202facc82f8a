package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CONTENT-DEFINED CHUNKING dedup — the rsync/LBFS/FastCDC family
  * (Muthitacharoen et al. 2001) at token granularity: cut every document
  * into variable-length chunks at content-determined boundaries (a token
  * whose hash lands in a 1-in-`maskMod` residue class ends its chunk), so
  * INSERTIONS only shift the boundaries they touch — unlike fixed-stride
  * windows ([[graft.text.TextAnalysis.chunks]]), where one inserted token
  * re-frames every later window and kills all downstream matches. The
  * cross-document duplicated-chunk census this emits is the storage-side
  * dedup complement to the n-gram span family (`dedup_span_*` finds WHERE
  * duplication sits inside docs; CDC chunks are the shippable unit a
  * chunk store would actually dedup).
  *
  * Scale shape: chunking is ONE map-only codegen pass per document — a
  * fold over the token array building the chunk list (state: chunks so
  * far + the open chunk), no explode of tokens, no per-doc window, no
  * shuffle until the census itself; the single exchange carries
  * (md5, n_tok) pairs — never chunk text — and is map-side combined. The
  * boundary test is the native [[graft.functions.Fnv32]] expression, so
  * expected chunk length is `maskMod` tokens with geometric spread, the
  * classic CDC distribution.
  *
  * Cross-engine surface: exact integers and md5 strings only; the oracle
  * re-derives boundaries with in-SQL UTF-8 FNV-1a and reassembles chunks
  * by a per-doc prefix count of PRIOR boundaries (a boundary token ends
  * its own chunk — both sides pin that convention). */
object CdcChunks {

  /** Per-document CDC chunk list as an array<string> column over a token
    * array column: fold accumulator is (closed chunks, open chunk). The
    * boundary class is `hash(t) % maskMod == residue` — WHICH residue is
    * arbitrary for the algorithm (any 1-in-maskMod class yields the same
    * geometric chunk-length law); the registered default is 4 because the
    * fixture's deliberately tiny vocabulary happens to leave class 0
    * empty (a real corpus fills every class). */
  private[dedup] def chunksCol(tk: Column, maskMod: Int, residue: Int): Column = {
    val zero = struct(typedlit(Array.empty[String]).as("cs"), lit("").as("cur"))
    val merged = aggregate(tk, zero,
      (acc, t) => {
        val joined = when(acc.getField("cur") === "", t)
          .otherwise(concat(acc.getField("cur"), lit(" "), t))
        when(pmod(graft.functions.Fnv32.fnv32(t), lit(maskMod)) === residue,
          struct(array_append(acc.getField("cs"), joined).as("cs"), lit("").as("cur")))
          .otherwise(struct(acc.getField("cs").as("cs"), joined.as("cur")))
      },
      acc => when(acc.getField("cur") === "", acc.getField("cs"))
        .otherwise(array_append(acc.getField("cs"), acc.getField("cur"))))
    merged
  }

  /** The duplicated-chunk census: `(chunk_hash, n_docs, n_occ, n_tokens)`
    * for every CDC chunk appearing in ≥ 2 distinct documents. */
  def cdcChunkDedup(spark: SparkSession, dir: String, maskMod: Int = 16,
                    residue: Int = 4): DataFrame = {
    val tk = graft.text.TextAnalysis.tokensCol(lower(col("text")))
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(chunksCol(tk, maskMod, residue)).as("chunk"))
      // hash + size BEFORE the exchange: chunk text never shuffles
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"),
        size(split(col("chunk"), " ")).cast("bigint").as("n_tok"))
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        max(col("n_tok")).as("n_tokens"))
      .filter(col("n_docs") >= 2)
  }

  /** DuckDB re-derivation: positional unnest, boundary flag via in-SQL
    * FNV-1a, chunk id = prefix count of boundaries STRICTLY BEFORE each
    * token, ordered string_agg reassembly, then the same census. */
  def oracleSql(maskMod: Int = 16, residue: Int = 4): String =
    s"""WITH t AS (SELECT doc_id, ${graft.OracleSql.tokens("lower(text)")} AS tk FROM documents),
       |p AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS o FROM t WHERE len(tk) > 0),
       |q AS (SELECT doc_id, CAST(o AS INT) AS o, tk[CAST(o AS INT)] AS tok FROM p),
       |b AS (SELECT doc_id, o, tok,
       |    CASE WHEN ${graft.OracleSql.fnv32("tok")} % $maskMod = $residue
       |         THEN 1 ELSE 0 END AS bd FROM q),
       |c AS (SELECT doc_id, o, tok,
       |    COALESCE(SUM(bd) OVER (PARTITION BY doc_id ORDER BY o
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid FROM b),
       |ch AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY o) AS chunk,
       |    COUNT(*) AS n_tok FROM c GROUP BY 1, 2)
       |SELECT md5(chunk) AS chunk_hash,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MAX(n_tok) AS BIGINT) AS n_tokens
       |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin
}
