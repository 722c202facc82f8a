package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein, SIGIR
  * 1998) — the diversity pass a retrieval pipeline runs AFTER top-k: from a
  * relevance-ranked candidate pool, greedily pick results that balance
  * relevance against redundancy with what is already picked,
  *
  *   mmr(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s),
  *
  * first pick = pure argmax relevance (empty-set penalty 0), ties broken by
  * vec_id everywhere.
  *
  * Cross-engine surface: the pool is the PROVEN brute-force top-`poolK`
  * primitive ([[Similarity.bruteForceTopK]] — unrounded-cosine ranking both
  * engines agree on); rel and all pairwise sims enter the greedy as
  * 6-decimal-rounded values, λ and (1−λ) are computed ONCE here and
  * interpolated into the oracle SQL as round-trip literals (1−0.7 is NOT
  * the literal 0.3 in IEEE — the BM25 device), so every mmr score is the
  * same double in both engines and the id tie-break closes the rest.
  *
  * Scale shape: the corpus-sized work is exactly the bruteForceTopK scan
  * (broadcast queries, per-partition bounded heaps, Q×poolK rows through
  * the one exchange); the greedy runs per query over poolK candidates
  * (poolK² rounded sims) inside `flatMapGroups` — distributed across
  * queries, never on the driver, and O(poolK²) per query is the price of
  * MMR itself, not of this implementation. The embeddings ride along from
  * a broadcast-hash join of the Q×poolK hit table back to the vectors. */
object Mmr {

  /** Greedy MMR over one query's pool: (id, rel6, emb) sorted by
    * (rel desc, id). Returns (id, rel6, mmr6, rank). */
  private[sim] def greedy(pool: Array[(Long, Double, Array[Float])],
                          lambda: Double, outK: Int): Seq[(Long, Double, Double, Int)] = {
    val mu = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val remaining = scala.collection.mutable.ArrayBuffer.from(pool)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double, Int)]
    var rank = 1
    while (rank <= outK && remaining.nonEmpty) {
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.length) {
        val (id, rel, emb) = remaining(i)
        // max over SELECTED — can be negative; no clamp (first pick: no
        // penalty term at all, matching the oracle's sel1 = λ·rel)
        val score =
          if (selected.isEmpty) lambda * rel
          else {
            var maxSim = Double.NegativeInfinity
            selected.foreach { case (_, se) =>
              val s = Similarity.cosine6(emb, se)
              if (s > maxSim) maxSim = s
            }
            lambda * rel - mu * maxSim
          }
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestScore = score; bestId = id; bestIdx = i
        }
        i += 1
      }
      val (id, rel, emb) = remaining.remove(bestIdx)
      selected += ((id, emb))
      // NO rounding: every input (rel, sims) is already 6-decimal, λ and μ
      // are shared literals, so the ·/− chain is the same IEEE double in
      // both engines — while rounding HERE would hit the half-boundary
      // trap (λ·rel lands on a decimal .5 whenever rel's 6th digit is odd,
      // and JVM shortest-repr rounding disagrees with DuckDB's
      // exact-binary ROUND exactly there)
      out += ((id, rel, bestScore, rank))
      rank += 1
    }
    out.toSeq
  }

  def mmrTopK(spark: SparkSession, dir: String, numQueries: Int = 8,
              poolK: Int = 20, outK: Int = 5, lambda: Double = 0.7): DataFrame =
    mmrFromPool(spark, dir,
      Similarity.bruteForceTopK(spark, dir, numQueries, poolK), outK, lambda)

  /** The PRODUCTION retrieval path composed end-to-end: the candidate pool
    * comes from the ball-pruned IVF search instead of the brute scan —
    * [[Similarity.ivfTopKExact]] is EXACT by construction (pruning bound,
    * recall 1.0), so the greedy re-rank is value-identical to [[mmrTopK]]
    * and shares its DuckDB oracle (the q_asof_operator precedent: one
    * truth, reached through the indexed physical path). At scale the pool
    * generation is where the index pays — probed lists instead of the full
    * corpus — and the greedy is unchanged. */
  def mmrTopKIvf(spark: SparkSession, dir: String, numQueries: Int = 8,
                 poolK: Int = 20, outK: Int = 5, lambda: Double = 0.7): DataFrame =
    mmrFromPool(spark, dir,
      Similarity.ivfTopKExact(spark, dir, numQueries, poolK), outK, lambda)

  private def mmrFromPool(spark: SparkSession, dir: String,
                          hits: org.apache.spark.sql.Dataset[Similarity.Hit],
                          outK: Int, lambda: Double): DataFrame = {
    import spark.implicits._
    val vecs = Similarity.vectors(spark, dir)
    hits.joinWith(broadcast(vecs), hits("neighbor_id") === vecs("vec_id"))
      .map { case (h, v) => (h.query_id, h.neighbor_id, h.cosine, v.embedding) }
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val pool = it.map { case (_, id, rel, emb) => (id, rel, emb) }
          .toArray.sortBy { case (id, rel, _) => (-rel, id) }
        greedy(pool, lambda, outK).iterator.map { case (id, rel, mmr, r) =>
          (qid, id, rel, mmr, r)
        }
      }
      .toDF("query_id", "vec_id", "rel", "mmr", "mmr_rank")
  }

  /** DuckDB re-derivation: same pool primitive as the sim_topk_brute
    * oracle ([[graft.OracleSql.topKTruth]]), pairwise rounded sims, and
    * the greedy UNROLLED one CTE per pick (sel1..sel`outK`) — argmax with
    * the id tie-break at every step. */
  def mmrOracleSql(numQueries: Int = 8, poolK: Int = 20, outK: Int = 5,
                   lambda: Double = 0.7): String = {
    // CAST to DOUBLE so DuckDB cannot keep the literal as DECIMAL and
    // multiply exactly where the engine multiplies binary doubles; M is the
    // IEEE round-trip of 1−λ, NOT the pretty literal (1−0.7 ≠ 0.3)
    val L = s"CAST(${lambda} AS DOUBLE)"
    val M = s"CAST(${1.0 - lambda} AS DOUBLE)"
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |pool AS (SELECT query_id, neighbor_id AS id, cosine AS rel FROM (${graft.OracleSql.topKTruth(
              s"SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < $numQueries",
              "v.vec_id <> query_id", poolK)})),
         |ps AS (SELECT a.query_id, a.id AS ia, b.id AS ib,
         |         ${graft.OracleSql.cosine6("ea.emb", "eb.emb")} AS sim
         |       FROM pool a JOIN pool b ON a.query_id = b.query_id AND a.id <> b.id
         |       JOIN e ea ON ea.vec_id = a.id JOIN e eb ON eb.vec_id = b.id),
         |sel1 AS (SELECT query_id, id, rel, $L * rel AS mmr, 1 AS mmr_rank FROM (
         |           SELECT query_id, id, rel, ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY $L * rel DESC, id) AS rn FROM pool) WHERE rn = 1)""".stripMargin
    val steps = (2 to outK).map { n =>
      val prevSel = (1 until n).map(i => s"SELECT query_id, id FROM sel$i").mkString(" UNION ALL ")
      s"""sel${n}prev AS ($prevSel),
         |cand$n AS (SELECT p.query_id, p.id, p.rel,
         |    $L * p.rel - $M * MAX(ps.sim) AS mmr
         |  FROM pool p
         |  JOIN ps ON ps.query_id = p.query_id AND ps.ia = p.id
         |  JOIN sel${n}prev sp ON sp.query_id = p.query_id AND sp.id = ps.ib
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${n}prev sx
         |                    WHERE sx.query_id = p.query_id AND sx.id = p.id)
         |  GROUP BY p.query_id, p.id, p.rel),
         |sel$n AS (SELECT query_id, id, rel, mmr, $n AS mmr_rank FROM (
         |    SELECT query_id, id, rel, mmr, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY mmr DESC, id) AS rn FROM cand$n) WHERE rn = 1)""".stripMargin
    }
    val union = (1 to outK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    (base +: steps).mkString(",\n") +
      s"\nSELECT query_id, id AS vec_id, rel, mmr, mmr_rank FROM ($union)"
  }
}
