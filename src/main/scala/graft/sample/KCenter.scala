package graft.sample

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CORESET SELECTION by greedy k-center (Gonzalez 1985 farthest-point
  * traversal — the 2-approximation to the k-center cover): pick the
  * vector farthest (in cosine distance) from everything picked so far,
  * k times. The diversity-first data-curation primitive — seed selection
  * for active learning, diverse few-shot exemplars, cluster-free corpus
  * summaries — and the selection dual of [[graft.sim.Mmr]] (MMR trades
  * relevance against redundancy per query; k-center is pure
  * anti-redundancy over the whole corpus).
  *
  * Scale shape: k rounds, each ONE map-only pass over a checkpointed
  * (vec_id, emb, mc) frame — update mc = max(mc, cos(emb, last pick))
  * under a broadcast single vector, then a bounded TakeOrdered(1) argmin.
  * Per-vector state is one double (its cover cosine), the driver sees one
  * row per round (k·dim floats total), and no round shuffles the corpus:
  * at 100 TB this is k scans, the unavoidable cost of the greedy's
  * sequential dependence (each pick conditions the next; the
  * parallel-batch variant that relaxes this is a documented cutover, not
  * silently substituted — it changes the selected set).
  *
  * Cross-engine surface: every cosine enters as the round-6 native
  * [[graft.functions.VecOps.cosine6Col]]; mc is a max of rounded values
  * and the argmin tie-breaks on vec_id, so both engines walk the
  * identical pick sequence (the MMR unrolled-greedy contract). */
object KCenter {

  /** The k selected centers in pick order: `(sel_rank, vec_id, max_cos)`
    * — max_cos is the pick's cover cosine at selection time (its highest
    * rounded cosine to any EARLIER pick; NULL for the seed, which is the
    * deterministic smallest-vec_id election, the BFS source stance). */
  def kcenter(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    // bounded: ONE seed row to the driver (deterministic election)
    val seed = vecs.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("emb")).head()
    val seedId = seed.getLong(0)
    val seedEmb = seed.getSeq[Double](1).toArray
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seedId, None))
    var cur = vecs.filter(col("vec_id") =!= seedId)
      .withColumn("mc", graft.functions.VecOps.cosine6Col(col("emb"), typedlit(seedEmb)))
      .localCheckpoint(true)
    var r = 2
    while (r <= k) {
      // bounded: ONE argmin row to the driver per round
      val pick = cur.orderBy(col("mc"), col("vec_id")).limit(1).head()
      val pickId = pick.getLong(0)
      val pickEmb = pick.getSeq[Double](1).toArray
      picks += ((r, pickId, Some(pick.getDouble(2))))
      if (r < k) {
        val next = cur.filter(col("vec_id") =!= pickId)
          .withColumn("mc", greatest(col("mc"),
            graft.functions.VecOps.cosine6Col(col("emb"), typedlit(pickEmb))))
          .localCheckpoint(true)
        graft.Checkpoints.release(cur)
        cur = next
      }
      r += 1
    }
    graft.Checkpoints.release(cur)
    picks.toSeq.toDF("sel_rank", "vec_id", "max_cos")
      .select(col("sel_rank").cast("int"), col("vec_id"), col("max_cos"))
  }

  /** DuckDB re-derivation: the greedy unrolled one CTE pair per pick
    * (the MMR device) — m_i carries every unpicked vector's running max
    * rounded cosine to the picks so far; s_{i+1} is its (mc, vec_id)
    * argmin. */
  def oracleSql(k: Int = 8): String = {
    def cos(a: String, b: String) =
      s"""ROUND(list_inner_product($a, $b) /
         |  sqrt(list_inner_product($a, $a) * list_inner_product($b, $b)), 6)""".stripMargin
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |s1 AS (SELECT vec_id AS id, emb FROM e ORDER BY vec_id LIMIT 1),
         |m1 AS (SELECT v.vec_id, v.emb, ${cos("v.emb", "s.emb")} AS mc
         |       FROM e v, s1 s WHERE v.vec_id <> s.id)""".stripMargin
    val steps = (2 until k).map { i =>
      s"""s$i AS (SELECT vec_id AS id, emb, mc FROM m${i - 1} ORDER BY mc, vec_id LIMIT 1),
         |m$i AS (SELECT v.vec_id, v.emb,
         |    GREATEST(v.mc, ${cos("v.emb", "s.emb")}) AS mc
         |  FROM m${i - 1} v, s$i s WHERE v.vec_id <> s.id)""".stripMargin
    }
    val last =
      s"s$k AS (SELECT vec_id AS id, emb, mc FROM m${k - 1} ORDER BY mc, vec_id LIMIT 1)"
    val union = (s"SELECT 1 AS sel_rank, id AS vec_id, CAST(NULL AS DOUBLE) AS max_cos FROM s1" +:
      (2 to k).map(i => s"SELECT $i, id, mc FROM s$i")).mkString("\nUNION ALL ")
    (base +: steps :+ last).mkString(",\n") +
      s"\nSELECT CAST(sel_rank AS INT) AS sel_rank, vec_id, max_cos FROM ($union)"
  }
}
