package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Weighted PageRank in FIXED-POINT integer arithmetic — the iterative
  * link-analysis operator (Page et al. 1999; TextRank: Mihalcea & Tarau
  * 2004 runs it over a token co-occurrence graph).
  *
  * Why fixed-point: the driver's oracle compares values bit-for-bit across
  * engines, and a floating-point power iteration is accumulation-order
  * sensitive (different partitionings sum contributions in different
  * orders). All rank mass here is integer micro-units of `scale` and every
  * step is integer multiply/divide — `SUM` over Longs is associative and
  * commutative EXACTLY, so any partitioning, any engine, any join order
  * produces the identical ranks. The per-edge truncation ((rank·w) DIV
  * wout) loses at most 1 unit per in-edge per round — noise of 1e-9 scale,
  * mirrored identically by the DuckDB oracle's `//`.
  *
  * Contract per round, mirrored line-for-line by [[oracleSqlFor]]:
  *   rank0(v)  = scale DIV n
  *   contrib(u→v) = (rank(u) · w(u,v)) DIV wout(u)
  *   rank'(v)  = (15·scale) DIV (100·n)  +  (85·Σ contrib) DIV 100
  * Dangling nodes (no out-edges) leak their damped mass — the standard
  * "lost mass" variant; nodes with no in-edges keep the teleport term.
  *
  * Scale shape (the CC engine's round discipline, `Dedup.ccIterate`):
  * the edge relation joined with its out-weights is materialized ONCE
  * (`localCheckpoint`) and re-used every round; each round is exactly one
  * materialization (rank join → dst-aggregate → left join back to nodes),
  * and the previous round's checkpoint blocks are released eagerly. The
  * rank join shuffles on `src` each round — at 100 TB the edge side rides
  * a bucketed-by-src layout so only the (|V|-row) rank frame moves, the
  * same cutover argument as `Dedup.BucketedEdgeCutover`. Iteration count
  * is a fixed small K (power iteration at damping 0.85 contracts by
  * 0.85^K; K=5 ranks keywords stably), so lineage stays bounded.
  */
object PageRank {

  /** Default rank mass: 1e9 micro-units. Bounded so `rank · w` stays in
    * Long for any edge weight up to ~9e9 (guarded in [[ranks]]). */
  val Scale: Long = 1000000000L

  /** Node-count cutover below which each round BROADCASTS the |V|-row rank
    * frame into the edge join instead of shuffling the edge relation: a
    * 2M-row (node, rank) relation is ~100 MB hashed — comfortably inside
    * executor memory — and the edge side (the corpus-scale operand) then
    * moves ZERO bytes per round. Above the cutover the join reverts to the
    * shuffled shape whose at-scale fix is the bucketed-by-src edge layout
    * (`Dedup.BucketedEdgeCutover`'s argument). Decided FROM THE DATA (the
    * iteration counts |V| anyway), like `Dedup.connectedComponents`. */
  val BroadcastRanksCutover: Long = 1L << 21

  /** Power-iterate ranks over weighted directed `edges` (columns `src`,
    * `dst`, `w: Long`; parallel edges must be pre-aggregated). Returns
    * `(node, rank)` with rank in micro-units of `scale`. */
  def ranks(edges: DataFrame, iterations: Int = 5, scale: Long = Scale): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // materialize the RAW edge relation once before it is consumed twice
    // (the wout aggregate needs hash(src), the join side hash-joins on src
    // with a DIFFERENT upstream exchange layout, so ReuseExchange cannot
    // share the edge build's map side between them — r13 StageTimeProbe
    // showed the directed-pair aggregate's map AND reduce stages running
    // twice inside the ej materialization, ~1.5 s task time at sf0.1).
    // Released as soon as ej is materialized: at most one extra edge-sized
    // block set lives between the two checkpoints, never for the iteration.
    val e0 = edges.localCheckpoint(true)
    // try/finally (r13 advice): the pinned non-fault-tolerant blocks must
    // be released on EVERY exit — e0.count(), the ej materialization, the
    // empty-graph require and the overflow guard can all throw, and the
    // happy-path releases alone leaked e0/ej/nodes on those paths.
    val ej = try {
      // |E| measured on the materialized blocks (one cache-scan job): below
      // the cutover the |srcs|-row wout relation rides a broadcast into the
      // ej join, so the edge side is never exchanged — the same argument as
      // the per-round rank broadcast below (wout rows ≤ |E| ≤ cutover).
      val smallE = e0.count() <= BroadcastRanksCutover
      val wout = e0.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      // iteration-invariant: materialize once, reuse every round
      e0.join(if (smallE) broadcast(wout) else wout, "src")
        .localCheckpoint(true)
    } finally graft.Checkpoints.release(e0)
    try {
      ranksFromEj(ej, iterations, scale)
    } finally graft.Checkpoints.release(ej)
  }

  /** The iteration over a CHECKPOINTED edge⋈wout relation — split out so
    * [[ranks]] can scope each pinned block set with try/finally. */
  private def ranksFromEj(ej: DataFrame, iterations: Int, scale: Long): DataFrame = {
    // node set derived from the CHECKPOINTED ej (same rows as edges — the
    // wout join is key-preserving), not from `edges`: deriving it from the
    // raw relation re-ran the whole edge build (fact-fact join + aggregate)
    // a second time for one distinct. ONE block scan (explode), not a
    // two-branch union scanning the checkpoint twice.
    val nodes = ej.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct().localCheckpoint(true)
    try {
      ranksIterate(ej, nodes, iterations, scale)
    } finally graft.Checkpoints.release(nodes)
  }

  private def ranksIterate(ej: DataFrame, nodes: DataFrame,
                           iterations: Int, scale: Long): DataFrame = {
    val n = nodes.count()
    require(n > 0, "empty graph")
    val maxW = ej.agg(max(col("w"))).head.getLong(0)
    require(maxW <= Long.MaxValue / scale,
      s"edge weight $maxW overflows rank*w at scale $scale")
    val teleport = (15L * scale) / (100L * n)
    // |V| is measured: below the cutover every round's rank frame rides a
    // broadcast and the (checkpointed) edge relation is never re-exchanged
    val bcast: DataFrame => DataFrame =
      if (n <= BroadcastRanksCutover) broadcast _ else identity _
    var ranks = nodes.select(col("node"), lit(scale / n).as("rank"))
      .localCheckpoint(true)
    for (i <- 1 to iterations) {
      val contrib = ej.join(bcast(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"),
          expr("(rank * w) DIV wout").as("c"))
      // union-aggregate instead of the former left-join back to `nodes`:
      // zero-contribution seed rows keep every node present, SUM over the
      // union is the same integer s (adding zeros), and the round loses a
      // whole join (and its exchange) — the ccIterate device. Exactly
      // rank' = teleport + (85·s) DIV 100 with s = 0 for in-edge-less
      // nodes, as before.
      val round = nodes.select(col("node"), lit(0L).as("c"))
        .unionAll(contrib)
        .groupBy(col("node"))
        .agg((lit(teleport) + expr("(85 * sum(c)) DIV 100")).as("rank"))
      graft.tools.PlanProbe.tap(s"prround_$i", round)
      val next = round.localCheckpoint(true)
      graft.Checkpoints.release(ranks)
      ranks = next
    }
    // ej/nodes are released by the callers' finally blocks
    // the returned frame IS the last round's checkpoint — it must outlive
    // this builder, so its release is deferred to the harness's
    // between-queries drain rather than leaked to ContextCleaner GC
    graft.Checkpoints.track(ranks)
    ranks
  }

  /** DuckDB oracle for [[ranks]]: unrolled iteration CTEs over an
    * `edgesSql` relation with columns (src, dst, w) — the exact integer
    * recurrence, `//` for DIV, sums cast back from HUGEINT. */
  def oracleSqlFor(edgesSql: String, iterations: Int, scale: Long = Scale): String = {
    val rounds = (1 to iterations).map { k =>
      val prev = s"r${k - 1}"
      s"""r$k AS (SELECT nodes.node,
            ${15L * scale} // (100 * (SELECT n FROM nn)) +
              (85 * COALESCE(c.s, 0)) // 100 AS rank
          FROM nodes LEFT JOIN (
            SELECT ej.dst AS node,
              CAST(SUM((r.rank * ej.w) // ej.wout) AS BIGINT) AS s
            FROM ej JOIN $prev r ON r.node = ej.src GROUP BY 1) c
          ON c.node = nodes.node)"""
    }.mkString(",\n          ")
    s"""WITH edges AS ($edgesSql),
          wout AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
            FROM edges GROUP BY 1),
          ej AS (SELECT e.src, e.dst, e.w, o.wout
            FROM edges e JOIN wout o USING (src)),
          nodes AS (SELECT src AS node FROM edges
            UNION SELECT dst FROM edges),
          nn AS (SELECT COUNT(*) AS n FROM nodes),
          r0 AS (SELECT node,
            CAST($scale AS BIGINT) // (SELECT n FROM nn) AS rank FROM nodes),
          $rounds
          SELECT node, rank FROM r$iterations"""
  }

  /** Token co-occurrence edges for TextRank: consecutive ORIGINAL-position
    * token pairs per document (both tokens non-empty), symmetrized, weight
    * = pair count. One map-only scan builds all pairs from the split array
    * ([[graft.text.TextAnalysis.pairsCol]]) — no self-join of an exploded
    * frame. Empty tokens are dropped after pairing, so a double space
    * breaks adjacency instead of closing it up. */
  def textrankEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(graft.text.TextAnalysis.pairsCol(col("toks"), 1)).as("p"))
      .select(col("p.a").as("src"), col("p.b").as("dst"))
      .filter(col("src") =!= "" && col("dst") =!= "")
    symCounted(pairs)
  }

  /** Customer–supplier bipartite interaction edges: one edge per lineitem
    * between its order's customer and its supplier, symmetrized, weight =
    * lineitem count.
    *
    * Node ids are LONGS — customer k → 2k, supplier k → 2k+1 — and the
    * namespaced string form ("c:…"/"s:…") is produced only at each query's
    * output boundary via [[nodeName]]. The 100× recording (round 13) showed
    * why this is load-bearing, not cosmetic: with `concat("c:", key)`
    * string keys the symmetrized count was a groupBy over ~117 M two-string
    * rows whose partial-agg hash maps saw almost-all-distinct keys, fell
    * back to sort-based aggregation and spilled >22 GB (single tasks
    * >20 min; an earlier run filled the disk). Long keys cut the row to a
    * fixed 24 bytes with codegen'd hashing.
    *
    * Second structural cut: the two directed key spaces are DISJOINT by
    * construction (even src / odd dst), so the symmetrized count equals the
    * directed count mirrored — aggregate the 60 M directed pairs ONCE, then
    * union the flipped AGGREGATED rows (no second agg over 2× rows). This
    * does NOT hold for [[textrankEdges]] (token pairs occur in both
    * directions), which keeps the general [[symCounted]].
    *
    * The orders join is the only other shuffle (fact-fact on orderkey). */
  def bipartiteEdges(spark: SparkSession, dir: String): DataFrame = {
    // spread the fact scan below the edge build (r14 StageTimeProbe: the
    // scan packs into 3 splits under the 4 MB open-cost charge, and the
    // fused broadcast-join + partial-agg map ran ~160 ms/task on 3 tasks
    // in every graph query); hash-keyed, gated, no-op at scale
    val directed = Tables.spreadSmall(
        Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    directed.unionAll(
      directed.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** Long node id → the namespaced display name ("c:…"/"s:…"). Applied at
    * output boundaries only (top-k rows, |V|-row results) — never inside a
    * shuffle. shiftright inverts both encodings: (2k)>>1 = (2k+1)>>1 = k. */
  def nodeName(c: Column): Column =
    concat(when(c % 2 === 0, lit("c:")).otherwise(lit("s:")), shiftright(c, 1))

  /** [[nodeName]] in DuckDB SQL, for the oracles. */
  def nodeNameSql(col: String): String =
    s"((CASE WHEN $col % 2 = 0 THEN 'c:' ELSE 's:' END) || CAST($col // 2 AS BIGINT))"

  /** Symmetrized pair counts via aggregate-THEN-mirror: count the directed
    * pairs once, union the flipped AGGREGATED rows, and sum. Identical
    * values to counting over the mirrored raw pairs — w(s,d) = c(s,d) +
    * c(d,s) either way — but the raw pair generator (the tokenize +
    * pair explode in [[textrankEdges]]) is evaluated ONCE: both
    * union branches share the identical partial-agg exchange subtree
    * (ReuseExchange), where the former shape's branches differed (one had
    * the flip projection below the aggregate) and re-ran the whole explode
    * chain per branch. The second aggregate runs over pair-count rows
    * (vocabulary²-bounded), not raw pairs. Unlike [[bipartiteEdges]]'
    * mirror-without-reaggregate, this needs no disjoint-keyspace
    * assumption. */
  private def symCounted(pairs: DataFrame): DataFrame = {
    val directed = pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
    directed.unionAll(
        directed.select(col("dst").as("src"), col("src").as("dst"), col("c")))
      .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("w"))
  }

  /** TextRank keywords: top 20 tokens by PageRank over the co-occurrence
    * graph. Deterministic top-k: (rank DESC, token ASC) — integer ranks
    * can tie, the token tie-break makes the selected SET engine-equal. */
  def textTextrank(spark: SparkSession, dir: String): DataFrame =
    ranks(textrankEdges(spark, dir), iterations = 5)
      .orderBy(desc("rank"), asc("node")).limit(20)
      .select(col("node").as("token"), col("rank"))

  /** Supplier/customer importance in the interaction graph: top 30 nodes
    * by PageRank over the bipartite lineitem graph. The long→string name
    * formatting happens BEFORE the (rank DESC, node ASC) tie-break so the
    * selected set and its orientation stay string-ordered — the oracle
    * orders by the same formatted name. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    ranks(bipartiteEdges(spark, dir), iterations = 5)
      .select(nodeName(col("node")).as("node"), col("rank"))
      .orderBy(desc("rank"), asc("node")).limit(30)

  /** DEGREE DISTRIBUTION of the interaction graph — the first readout of
    * any graph audit (skew tells you whether hub mitigation is needed at
    * all): per side (customer/supplier) and distinct-neighbor degree, the
    * node count. Two map-side-combined aggregations, nothing else. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame =
    bipartiteEdges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(when(col("src") % 2 === 0, lit("c")).otherwise(lit("s")).as("side"),
        col("deg"))
      .groupBy(col("side"), col("deg"))
      .agg(count(lit(1)).as("n_nodes"))

  /** DuckDB re-derivation of [[degreeDistribution]] (a def: it references
    * [[bipartiteEdgesSql]], a val declared below — a val here would
    * capture null under top-to-bottom initializer order). */
  def degreeDistributionSql: String =
    s"""WITH ed AS (SELECT src, dst FROM ($bipartiteEdgesSql)),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY 1)
       |SELECT (CASE WHEN src % 2 = 0 THEN 'c' ELSE 's' END) AS side,
       |  deg, COUNT(*) AS n_nodes
       |FROM deg GROUP BY 1, 2""".stripMargin

  /** The shared edge-relation SQL (mirrors [[textrankEdges]]). */
  val textrankEdgesSql: String =
    """SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
         WITH tok AS (SELECT doc_id, t, i FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                    generate_subscripts(string_split(text, ' '), 1) AS i
             FROM documents) WHERE t <> ''),
           adj AS (SELECT a.t AS src, b.t AS dst FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND b.i = a.i + 1)
         SELECT src, dst FROM adj
         UNION ALL SELECT dst, src FROM adj
       ) GROUP BY 1, 2"""

  /** The shared edge-relation SQL (mirrors [[bipartiteEdges]] — the same
    * long encoding and the same agg-once-then-mirror shape). */
  val bipartiteEdgesSql: String =
    """WITH d AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2)
       SELECT src, dst, w FROM d
       UNION ALL SELECT dst AS src, src AS dst, w FROM d"""
}
