package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LINK PREDICTION by common-neighbor evidence — Adamic-Adar (Adamic &
  * Adar 2003, "Friends and neighbors on the Web"): score a non-adjacent
  * pair (u,v) by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — shared rare neighbors
  * say more than shared hubs. The recommender/graph-completion primitive
  * (people-you-may-know, co-purchase suggestion, knowledge-graph edge
  * completion).
  *
  * Scale shape: candidate pairs are generated as WEDGES — e1(w,u) ⋈
  * e2(w,v) on the shared apex w with u < v — so the work is
  * Σ_w C(deg(w), 2). That sum is quadratic in hub degree, so the operator
  * takes the STANDARD practical cut: apexes above `maxApexDeg` are
  * excluded, bounding wedge volume at maxApexDeg·|E| (linear in edges).
  * The cut is principled for THIS score, not just cheap: a super-hub is
  * exactly the neighbor Adamic-Adar down-weights hardest (weight
  * 1/ln(deg) is minimal there), so the dropped evidence is the score's
  * own least-valuable term — and the cutoff is part of the operator's
  * declared semantics, mirrored exactly by the oracle (the exact-variant
  * cutover, if ever needed, is the `Similarity.knnGraph` chunk-pair
  * decomposition over hub adjacency). The remaining skew lever is the
  * apex-keyed shuffle itself; AQE skew-split handles a residual hot apex
  * (`q_skew_salted`'s argument).
  *
  * Cross-engine surface: ln is the one non-IEEE-portable op, so it never
  * runs at query time in EITHER engine — the per-degree weight
  * round(10⁶/ln(d)) is computed ONCE here for every degree ≤ maxApexDeg
  * and interpolated into both sides as an integer table (the DSIR
  * micro-llr device). Scores are then exact BIGINT micro-unit sums. */
object LinkPrediction {

  /** Integer Adamic-Adar weight table: deg → round(1e6 / ln(deg)) for
    * 2 ≤ deg ≤ maxApexDeg (deg-1 apexes have no wedge). */
  private[graph] def weightTable(maxApexDeg: Int): Seq[(Int, Long)] =
    (2 to maxApexDeg).map(d => d -> math.rint(1e6 / math.log(d.toDouble)).toLong)

  /** Predicted links over a DISTINCT symmetrized edge relation:
    * `(u, v, common_neighbors, aa_micro)` for non-adjacent pairs with ≥ 2
    * common neighbors of degree ≤ maxApexDeg, aa_micro the exact integer
    * micro-unit Adamic-Adar score. A repeated edge would inflate degrees
    * and wedge counts. */
  def adamicAdar(edges: DataFrame, maxApexDeg: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // materialized ONCE: the plan consumes the edge relation four ways
    // (apex degrees, both wedge sides, the non-adjacency anti-join) — the
    // unchecked form recomputed the fact join per consumer (PlanAudit
    // showed scans=6); released at the harness's between-queries drain.
    val adj = graft.Checkpoints.track(edges.select(col("src"), col("dst")).localCheckpoint(true))
    val wtab = weightTable(maxApexDeg).toDF("deg", "w_micro")
    // per-node degree; apexes filtered to the weighted band before the
    // wedge join, so the C(deg,2) blow-up never materializes for hubs
    val apex = adj.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= maxApexDeg)
      .join(broadcast(wtab), "deg")
      .select(col("node"), col("w_micro"))
    // the apex-degree cap joins BELOW the wedge self-join — written after
    // the join, Catalyst (no CBO stats) executed ((e1⋈e2)⋈apex) literally
    // and super-hub wedges materialized before the filter; joining the
    // capped apex set onto the edge relation FIRST makes the ≤maxApexDeg·|E|
    // wedge bound structural, matching the scaladoc's claim
    val e1 = adj.select(col("src").as("apex"), col("dst").as("u"))
      .join(apex.select(col("node").as("apex"), col("w_micro")), "apex")
    val e2 = e1.select(col("apex"), col("u").as("v"))
    e1.join(e2, Seq("apex")).filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("w_micro")).as("aa_micro"))
      .filter(col("common_neighbors") >= 2)
      // non-adjacent pairs only — the score predicts MISSING links
      .join(adj.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"), "left_anti")
  }

  /** The registered query: predicted links over the repeat-interaction
    * graph (bipartite edges with ≥ `minW` interactions — the
    * [[KCore.graphKcore]] substrate: the raw graph is near-complete, so
    * prediction is vacuous there). On a bipartite graph the predictions
    * are same-side pairs (customers sharing repeat suppliers, suppliers
    * sharing repeat customers) — co-behavior affinity. */
  def graphAdamicAdar(spark: SparkSession, dir: String,
                      minW: Int = 3, maxApexDeg: Int = 64): DataFrame =
    adamicAdar(PageRank.bipartiteEdges(spark, dir).filter(col("w") >= minW), maxApexDeg)
      // long ids inside (pair canonicalization u<v is NUMERIC, mirrored by
      // the oracle); names formatted on the result rows only
      .select(PageRank.nodeName(col("u")).as("u"), PageRank.nodeName(col("v")).as("v"),
        col("common_neighbors"), col("aa_micro"))

  /** DuckDB re-derivation: same wedge join, same interpolated integer
    * weight table — ln never runs in SQL. */
  def oracleSql(minW: Int = 3, maxApexDeg: Int = 64): String = {
    val values = weightTable(maxApexDeg)
      .map { case (d, w) => s"($d, CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH ed AS (SELECT src, dst FROM (${PageRank.bipartiteEdgesSql}) WHERE w >= $minW),
       |wt(deg, w_micro) AS (SELECT * FROM (VALUES $values)),
       |apex AS (SELECT node, w_micro FROM (
       |    SELECT src AS node, COUNT(*) AS d FROM ed GROUP BY 1) g
       |  JOIN wt ON wt.deg = g.d),
       |wedge AS (SELECT e1.dst AS u, e2.dst AS v, a.w_micro
       |  FROM ed e1 JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  JOIN apex a ON a.node = e1.src),
       |pairs AS (SELECT u, v, COUNT(*) AS common_neighbors,
       |    SUM(w_micro) AS aa_micro
       |  FROM wedge GROUP BY 1, 2 HAVING COUNT(*) >= 2)
       |SELECT ${PageRank.nodeNameSql("u")} AS u, ${PageRank.nodeNameSql("v")} AS v,
       |  CAST(common_neighbors AS BIGINT) AS common_neighbors,
       |  CAST(aa_micro AS BIGINT) AS aa_micro
       |FROM pairs p
       |WHERE NOT EXISTS (SELECT 1 FROM ed e WHERE e.src = p.u AND e.dst = p.v)""".stripMargin
  }
}
