package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded-depth single-source BFS — hop distances over a directed edge
  * relation: the reachability/radius primitive of the graph family
  * (PageRank ranks, Triangles counts, connected components labels; BFS
  * answers "how far"). Distances are exact small integers, so the oracle
  * compare is trivially engine-independent; the depth bound K makes both
  * the iteration and the recursive-CTE truth finite and is the honest
  * production contract anyway (a 100 TB graph query asks "within K hops",
  * not "the full diameter").
  *
  * Scale shape — frontier iteration under the CC/PageRank round
  * discipline: each round is ONE join of the (shrinking) frontier against
  * the edge relation, a distinct, and an anti-join against the settled
  * set, materialized by exactly ONE job
  * ([[graft.Checkpoints.checkpointCounting]]: the drain test reads the
  * frontier's row count from that same job, and only a zero is confirmed
  * by a scan of the blocks, on the drain round). The settled set is a
  * lineage union over the ≤K round checkpoints (no re-materialization of
  * the cumulative frame per round). The edge relation is checkpointed once
  * and reused; at or below the one broadcast cutover
  * ([[graft.Tables.broadcastUpTo]], on |E|; |V| ≤ 2|E|) the frontier and
  * the settled set ride broadcasts, so the edge relation moves zero bytes
  * per round, and above it the joins are shuffled. Early exit when the
  * frontier drains — the round count is min(K, eccentricity), at one job
  * each (the round-11 shape paid a 3-job floor per round).
  */
object Bfs {

  /** Hop distances from the lexicographically-smallest source node:
    * `(node, dist)` for every node within `maxHops`, dist = exact minimum
    * hop count. Edge weights are ignored (hop metric). `edges` must be
    * DISTINCT (src, dst) pairs: a repeated edge only repeats join rows. */
  def distances(edges: DataFrame, maxHops: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    val adj = edges.select(col("src"), col("dst")).localCheckpoint(true)
    try {
      // bounded: one row — the deterministic source election, and the edge
      // count that decides the broadcast cutover, in the SAME job (the
      // blocks are already materialized). Node-type agnostic (string tokens
      // in the specs, long ids in the registered bipartite query): min is
      // whatever ordering the column's type carries, mirrored by the oracle
      // on the same type.
      val elect = adj.agg(min(col("src")), count(lit(1))).head
      val source = elect.get(0)
      val bcast = graft.Tables.broadcastUpTo(elect.getLong(1))
      val seed = spark.range(1)
        .select(lit(source).cast(adj.schema("src").dataType).as("node"),
          lit(0).as("dist"))
        .localCheckpoint(true)
      // each round's checkpoint stays alive until the result is consumed
      // (the settled set is their lineage union) — ≤ K+1 frames of ≤ |V|
      // rows total, vs the round-11 shape's cumulative re-checkpoint
      graft.Checkpoints.track(seed)
      var dist = seed
      var frontier = seed
      var d = 1
      var drained = false
      while (d <= maxHops && !drained) {
        val next = adj
          .join(bcast(frontier.select(col("node").as("src"))), "src")
          .select(col("dst").as("node")).distinct()
          .join(bcast(dist.select(col("node"))), Seq("node"), "left_anti")
          .select(col("node"), lit(d).as("dist"))
        graft.tools.PlanProbe.tap(s"bfsround_$d", next)
        val (reached, n) = graft.Checkpoints.checkpointCounting(next, lit(true))
        if (n == 0L) {
          graft.Checkpoints.release(reached)
          drained = true
        } else {
          graft.Checkpoints.track(reached)
          dist = dist.unionAll(reached)
          frontier = reached
          d += 1
        }
      }
      dist
    } finally graft.Checkpoints.release(adj)
  }

  /** The registered query: BFS over the customer–supplier bipartite
    * interaction graph ([[PageRank.bipartiteEdges]] — an aggregate output,
    * so distinct, and symmetrized, so distance is the undirected hop
    * metric). The iteration runs on long
    * node ids; names are formatted on the ≤|V| output rows only. Source
    * election is therefore the NUMERIC min id (mirrored by the oracle),
    * not the lexicographic min of the old string form. */
  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    distances(PageRank.bipartiteEdges(spark, dir))
      .select(PageRank.nodeName(col("node")).as("node"), col("dist"))

  /** DuckDB re-derivation: depth-bounded recursive CTE with UNION dedup
    * (rows are (node, dist) pairs, so recursion state stays ≤ |V|·K —
    * never the path space), then MIN(dist) per node; long ids inside,
    * names formatted at the output boundary (mirrors [[graphBfs]]). */
  val oracleSql: String =
    s"""WITH RECURSIVE ed AS (SELECT src, dst FROM (${PageRank.bipartiteEdgesSql})),
       |s0 AS (SELECT MIN(src) AS s FROM ed),
       |walk(node, dist) AS (
       |  SELECT s, 0 FROM s0
       |  UNION
       |  SELECT ed.dst, walk.dist + 1 FROM walk JOIN ed ON ed.src = walk.node
       |  WHERE walk.dist < 6
       |)
       |SELECT ${PageRank.nodeNameSql("node")} AS node,
       |  CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY 1""".stripMargin
}
