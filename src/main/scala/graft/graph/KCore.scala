package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-CORE decomposition membership — the degeneracy peel: repeatedly
  * delete every node whose degree within the surviving subgraph is < k;
  * what remains is the (unique) maximal subgraph with minimum degree ≥ k.
  * The graph family's cohesion primitive (PageRank ranks importance,
  * triangles count closure, components label reachability; the k-core
  * answers "which nodes sit in a mutually-dense region") and the standard
  * first cut for community seeding and spam/bot filtering.
  *
  * The peel fixpoint is ORDER-INDEPENDENT (the k-core is unique no matter
  * the deletion order), so round-synchronous peeling — delete ALL
  * under-degree nodes each round — reaches it deterministically: exactly
  * the CC/BFS round discipline. Each round is ONE degree aggregation over
  * the both-endpoints-alive edge subset (two semi joins + a count); every
  * round materializes once (eager localCheckpoint) and releases the
  * previous round's blocks. The edge relation is checkpointed once; at
  * 100 TB it rides a bucketed-by-src layout so each round's semi joins
  * co-locate (the `Dedup.BucketedEdgeCutover` argument) and the round
  * count is bounded by the peel depth (typically ≤ 10 even on web-scale
  * graphs — cores collapse geometrically), never the node count.
  *
  * The round bound `maxRounds` is the honest production contract (the BFS
  * maxHops stance): the engine REQUIRES convergence within it — loudly,
  * not by silently emitting a half-peeled set — and the oracle unrolls
  * exactly `maxRounds` rounds, which equals the fixpoint whenever the
  * engine's require passed (peeling past convergence is idempotent).
  */
object KCore {

  /** Nodes of the k-core of the distinct (already-symmetrized) edge
    * relation, with their within-core degree: `(node, core_deg)`. */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 16,
            edgesDistinct: Boolean = false): DataFrame = {
    // edgesDistinct: the registered repeat-interaction relation is an
    // aggregate output (distinct by construction) — skip the |E| exchange
    val dedup = if (edgesDistinct) edges.select(col("src"), col("dst"))
                else edges.select(col("src"), col("dst")).distinct()
    val adj = dedup.localCheckpoint(true)
    var alive = adj.select(col("src").as("node")).distinct().localCheckpoint(true)
    var aliveN = alive.count()
    // below the cutover each round broadcasts the (shrinking) alive set
    // into both semi joins — the edge relation moves zero bytes per round
    val bcast: DataFrame => DataFrame =
      if (aliveN <= PageRank.BroadcastRanksCutover) broadcast _ else identity _
    var deg: DataFrame = null
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds,
        s"[kcore] no fixpoint after $maxRounds peel rounds — raise maxRounds " +
          "(and the oracle's unroll count with it); refusing to emit a half-peeled core")
      // degree within the current alive set: both endpoints must survive.
      // Symmetrized edges mean the per-src count IS the undirected degree.
      val roundDf = adj
        .join(bcast(alive.select(col("node").as("src"))), "src")
        .join(bcast(alive.select(col("node").as("dst"))), "dst")
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k)
      graft.tools.PlanProbe.tap(s"kcoreround_$round", roundDf)
      val nextDeg = roundDf.localCheckpoint(true)
      val nextN = nextDeg.count()
      if (deg != null) graft.Checkpoints.release(deg)
      graft.Checkpoints.release(alive)
      deg = nextDeg
      alive = nextDeg.select(col("node")).localCheckpoint(true)
      converged = nextN == aliveN
      aliveN = nextN
    }
    graft.Checkpoints.release(adj)
    graft.Checkpoints.release(alive)
    // converged round's degrees were computed WITHIN the fixpoint set —
    // they are the within-core degrees. Released at the harness's
    // between-queries drain (the PageRank.ranks discipline).
    graft.Checkpoints.track(deg)
    deg
  }

  /** The registered query: 3-core of the REPEAT-interaction graph — the
    * customer–supplier bipartite edges ([[PageRank.bipartiteEdges]])
    * thresholded to pairs with ≥ `minW` interactions. The raw bipartite
    * graph is near-complete at every tested scale (everyone touches
    * everyone once — no peel structure); the repeat threshold is what
    * makes cohesion a real signal, and the measured peel depth is 2-4
    * rounds at sf0.001-sf0.01 against the 16-round bound. */
  def graphKcore(spark: SparkSession, dir: String,
                 k: Int = 3, minW: Int = 3): DataFrame =
    kcore(PageRank.bipartiteEdges(spark, dir).filter(col("w") >= minW), k,
      edgesDistinct = true)
      .select(PageRank.nodeName(col("node")).as("node"), col("core_deg"))

  /** DuckDB re-derivation: the peel unrolled as exactly `maxRounds`
    * chained CTE rounds (the PageRank unrolled-recurrence device) —
    * a_i = nodes of a_{i-1} whose within-a_{i-1} degree ≥ k. Idempotent
    * past the fixpoint, so equality with the engine holds whenever the
    * engine's convergence require passed. */
  def oracleSql(k: Int = 3, minW: Int = 3, maxRounds: Int = 16): String = {
    // MATERIALIZED everywhere: DuckDB inlines plain CTEs, and each round
    // references the previous one TWICE — un-materialized, the unrolled
    // chain expands 2^maxRounds copies of the whole tree (and re-opens the
    // parquet inputs until the fd limit trips)
    val base =
      s"""WITH ed AS MATERIALIZED (SELECT src, dst FROM (${PageRank.bipartiteEdgesSql}) WHERE w >= $minW),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed)""".stripMargin
    val rounds = (1 to maxRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT e.src AS node, COUNT(*) AS deg FROM ed e
         |  JOIN a${i - 1} p ON e.src = p.node
         |  JOIN a${i - 1} q ON e.dst = q.node
         |  GROUP BY 1 HAVING COUNT(*) >= $k),
         |a$i AS MATERIALIZED (SELECT node FROM d$i)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      s"\nSELECT ${PageRank.nodeNameSql("node")} AS node, " +
      s"CAST(deg AS BIGINT) AS core_deg FROM d$maxRounds"
  }
}
