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
  * set, materialized by exactly ONE job (eager localCheckpoint); the
  * drain test reads a row accumulator populated by that same
  * materialization instead of launching a separate `isEmpty` job, and the
  * settled set is a lineage union over the ≤K round checkpoints (no
  * re-materialization of the cumulative frame per round). Accumulator
  * retry semantics (the round-12 chaos-gate lesson): a nonzero count is
  * trustworthy (failed attempts' updates are dropped), but a ZERO can be
  * an under-count — a task failing after its block cached retries against
  * the cache and never re-runs the counting map — so zero is confirmed by
  * one `isEmpty` cache-scan, paid on the drain round only (not per
  * round). The edge relation is checkpointed once and reused; at
  * 100 TB it rides a bucketed-by-src layout so only the frontier moves
  * (the `Dedup.BucketedEdgeCutover` argument). Early exit when the
  * frontier drains — the round count is min(K, eccentricity), at one job
  * each (the round-11 shape paid a 3-job floor per round).
  */
object Bfs {

  /** Hop distances from the lexicographically-smallest source node:
    * `(node, dist)` for every node within `maxHops`, dist = exact minimum
    * hop count. Edge weights are ignored (hop metric). */
  def distances(edges: DataFrame, maxHops: Int = 6,
                edgesDistinct: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    // edgesDistinct: the registered bipartite relation is an aggregate
    // output (distinct by construction) — re-distincting it cost one full
    // |E| exchange before the first round
    val dedup = if (edgesDistinct) edges.select(col("src"), col("dst"))
                else edges.select(col("src"), col("dst")).distinct()
    val adj = dedup.localCheckpoint(true)
    // bounded: one row — the deterministic source election, and the edge
    // count that decides the frontier-broadcast cutover, in the SAME job
    // (the blocks are already materialized). Node-type agnostic (string
    // tokens in the specs, long ids in the registered bipartite query):
    // min is whatever ordering the column's type carries, mirrored by the
    // oracle on the same type.
    val elect = adj.agg(min(col("src")), count(lit(1))).head
    val source = elect.get(0)
    // below the cutover each round broadcasts the frontier into the edge
    // join and the settled set into the anti-join — the edge relation
    // moves zero bytes per round (PageRank.BroadcastRanksCutover's
    // argument; |V| ≤ 2|E|)
    val bcast: DataFrame => DataFrame =
      if (elect.getLong(1) <= PageRank.BroadcastRanksCutover) broadcast _
      else identity _
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
      val acc = spark.sparkContext.longAccumulator(s"bfs-frontier-$d")
      val next = adj
        .join(bcast(frontier.select(col("node").as("src"))), "src")
        .select(col("dst").as("node")).distinct()
        .join(bcast(dist.select(col("node"))), Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("dist"))
      graft.tools.PlanProbe.tap(s"bfsround_$d", next)
      // node-type-agnostic row counting map (the typed .as[(String, Int)]
      // form pinned the node column to strings)
      val nextCounted = next
        .map { r => acc.add(1L); r }(org.apache.spark.sql.Encoders.row(next.schema))
        .localCheckpoint(true) // the round's ONE job; acc counts its rows
      // acc > 0 is always trustworthy (failed attempts' updates are
      // dropped, so no over-count can fake a row); acc == 0 is NOT — a
      // task that fails after its block was cached retries against the
      // cache, the map never re-runs, and its count is lost (the CC
      // engine's round-12 chaos-gate lesson). Confirm a zero against the
      // materialized blocks — one cache-scan job, drain round only.
      if (acc.value == 0L && nextCounted.isEmpty) {
        graft.Checkpoints.release(nextCounted)
        drained = true
      } else {
        graft.Checkpoints.track(nextCounted)
        dist = dist.unionAll(nextCounted)
        frontier = nextCounted
        d += 1
      }
    }
    graft.Checkpoints.release(adj)
    dist
  }

  /** The registered query: BFS over the customer–supplier bipartite
    * interaction graph ([[PageRank.bipartiteEdges]] — symmetrized, so
    * distance is the undirected hop metric). The iteration runs on long
    * node ids; names are formatted on the ≤|V| output rows only. Source
    * election is therefore the NUMERIC min id (mirrored by the oracle),
    * not the lexicographic min of the old string form. */
  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    distances(PageRank.bipartiteEdges(spark, dir), edgesDistinct = true)
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
