package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed triangle counting by DEGREE-ORDERED edge orientation (Suri &
  * Vassilvitskii 2011's MR algorithm; also Schank-Wagner): orient every
  * undirected edge from its lower-(degree, id) endpoint to the higher one,
  * build wedges by joining oriented edges on their common SOURCE, and close
  * each wedge against the oriented edge set. Each triangle is counted
  * exactly once (its lowest-ordered vertex is the wedge apex), and — the
  * scalability point — the orientation bounds every node's OUT-degree by
  * O(√m), so the wedge join's fan-out per node is √m-bounded even when a
  * celebrity node has degree n: the wedge work is Θ(Σ outdeg²) = O(m^1.5),
  * the optimal exponent for exact global triangle counting, and it is
  * spread across ordinary hash-partitioned joins — no node's wedge list
  * ever lands in one task.
  *
  * All counting is exact integers; the oracle re-counts with the canonical
  * a<b<c three-way self-join (truth, not the orientation trick — the
  * engine's algorithm must reproduce it). */
object Triangles {

  /** Count triangles in the undirected simple graph underlying `edges`
    * (any directed/weighted multi-edge frame with `src`/`dst` string
    * columns; self-loops dropped, direction and multiplicity collapsed).
    * Returns one row: (n_nodes, n_edges, n_triangles). */
  def count(edges: DataFrame): DataFrame = {
    // canonical undirected edge set: (a, b) with a < b, distinct
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint(true)
    // NB: `functions.count` spelled out — this object's own `count` shadows it
    val cnt = org.apache.spark.sql.functions.count(lit(1))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(cnt.as("deg"))
    // orient toward the higher (deg, node): u -> v iff (deg_u, u) < (deg_v, v)
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true)
    // wedges at their apex (the triangle's lowest-ordered vertex), the
    // neighbor pair canonicalized by string order so it matches und's (a, b)
    val wedges = oriented.select(col("u"), col("v").as("v1"))
      .join(oriented.select(col("u"), col("v").as("v2")), "u")
      .filter(col("v1") < col("v2"))
    // a wedge closes iff the undirected edge {v1, v2} exists
    val closed = wedges.join(
      und.select(col("a").as("v1"), col("b").as("v2")), Seq("v1", "v2"))
    val nTri = closed.agg(cnt.as("n")).head.getLong(0)
    val nEdges = und.count()
    val nNodes = deg.count()
    val spark = edges.sparkSession
    graft.Checkpoints.release(und)
    graft.Checkpoints.release(oriented)
    import spark.implicits._
    Seq((nNodes, nEdges, nTri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Registered query: triangle census of the token co-occurrence graph
    * (the same graph text_textrank ranks). */
  def tokenTriangles(spark: SparkSession, dir: String): DataFrame =
    count(PageRank.textrankEdges(spark, dir))
}
