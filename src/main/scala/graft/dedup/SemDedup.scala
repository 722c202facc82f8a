package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql.cosine6
import graft.Tables
import graft.sim.Similarity

/** SEMANTIC DEDUPLICATION — cluster the embedding space coarsely, then
  * prune near-duplicates WITHIN each cluster (Abbas et al., "SemDeDup: Data
  * efficient learning at web-scale through semantic deduplication", 2023).
  * The published recipe: k-means the corpus, compare only intra-cluster
  * pairs against a cosine threshold, keep one representative per ε-ball.
  * Its enabling observation — clustering quality barely matters, the
  * clusters exist only to bound the pairwise search — is what makes a
  * DETERMINISTIC, cross-engine-reproducible variant possible: instead of
  * k-means (whose centroids no independent SQL engine can re-derive), the
  * cluster centers are the corpus's own K smallest-id vectors, and
  * assignment is nearest-seed by the shared 6-decimal-rounded cosine (ties
  * to the smaller seed id). Every step is then re-derivable by the DuckDB
  * oracle from the data alone — the seed rule replaces the LSH family's
  * plane-literal interpolation as the determinism device.
  *
  * Contrast with the rest of the dedup family: [[Dedup.nearDupComponents]] /
  * [[EmbeddingLsh.dedupKeep]] build the TRANSITIVE closure over a verified
  * pair set (connected components, exact or recall-bounded candidates);
  * SemDeDup is the published alternative that never builds a global graph —
  * its keep rule is local and greedy (drop a vector iff a smaller-id
  * near-dup shares its cluster), so the whole operator is two linear
  * shuffles and a bounded per-task pairwise pass, with no iteration.
  *
  * Scale shape: seeds are K rows collected once (bounded driver traffic,
  * the IVF-codebook precedent) and broadcast; assignment is MAP-ONLY (K
  * cosines per vector, fused in one pass). Intra-cluster pairs reuse the
  * [[Similarity.chunkedNearDups]] block-nested-loop: a hot cluster becomes
  * (nc choose 2) bounded tasks, never one task — exactly the skew story
  * `dedup_embedding` already proves, applied to learned clusters instead of
  * the fixture's label column (the point of SemDeDup: it needs no label).
  * The keep rule is one left-anti join on vec_id. At 100 TB, K grows with
  * the corpus (SemDeDup uses ~100k clusters for LAION-scale); K cosines per
  * vector stay map-side, and the collected seed table stays MBs.
  *
  * Reference: beyond-reference LLM-pipeline family (the reference's
  * /root/reference/src/mrapps/ has no vector surface); the dedup keep-list
  * shape mirrors its wordcount-style grouping idiom.
  */
object SemDedup {

  /** Nearest-seed assignment: (seed_idx, vec_id, embedding) with cluster =
    * argmax over the K broadcast seeds of the rounded cosine, ties to the
    * smallest seed id (iteration in ascending seed order, strict `>` to
    * advance — the oracle's `ORDER BY cos DESC, seed_id` row_number). */
  def assigned(spark: SparkSession, dir: String, k: Int = 8)
  : (Array[Long], org.apache.spark.sql.Dataset[(Int, Long, Array[Float])]) = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    // the K smallest-id vectors ARE the cluster centers: deterministic,
    // data-derived, re-derivable in SQL (ORDER BY vec_id LIMIT k)
    val seeds: Array[(Long, Array[Float])] =
      vecs.orderBy(col("vec_id")).limit(k).collect()
    val seedIds = seeds.map(_._1)
    val bcSeeds = spark.sparkContext.broadcast(seeds)
    val asg = vecs.map { case (id, e) =>
      val ss = bcSeeds.value
      var best = 0
      var bestCos = Similarity.cosine6(e, ss(0)._2)
      var i = 1
      while (i < ss.length) {
        val c = Similarity.cosine6(e, ss(i)._2)
        if (c > bestCos) { best = i; bestCos = c }
        i += 1
      }
      (best, id, e)
    }
    (seedIds, asg)
  }

  /** The registered query: per vector its cluster (the seed's vec_id) and
    * the SemDeDup verdict — `keep` iff no smaller-id vector in the same
    * cluster has cosine ≥ `threshold` with it. One map-only assignment
    * pass, one chunk-pair bounded pairwise pass, one anti-join. */
  def semanticKeep(spark: SparkSession, dir: String, k: Int = 8,
                   threshold: Double = 0.35): DataFrame = {
    import spark.implicits._
    val (seedIds, asg) = assigned(spark, dir, k)
    val dropped = Similarity.chunkedNearDups(asg, threshold)
      .select(col("d2").as("vec_id")).distinct()
    val seedTab = broadcast(
      seedIds.zipWithIndex.map { case (id, i) => (i, id) }.toSeq
        .toDF("seed_idx", "cluster_id"))
    asg.toDF("seed_idx", "vec_id", "emb")
      .join(seedTab, "seed_idx")
      .join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("dup"), lit(false)).unary_!.as("keep"))
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space twin of the n-gram
    * [[Dedup.decontamOverlap]]: flag train vectors whose cosine to ANY
    * held-out eval vector crosses τ (the leak class n-gram overlap misses —
    * an eval document paraphrased or lightly reformatted into the crawl).
    * Emits one row per train vector: its nearest eval neighbor, the rounded
    * cosine, and the τ = 0.9 flag — the report a decontamination run
    * reviews, not just the kill list.
    *
    * Runs over [[graft.Fixtures.contaminatedTrainVecs]]: the fixture's own
    * train↔eval cosines top out at ≈ 0.45, so the contract plants the
    * contamination regime deterministically (perturbed eval copies at
    * cosine ≈ 0.95); exactly the planted rows flag.
    *
    * Scale shape: the eval side is a BENCHMARK SUITE — constant-sized by
    * nature — so it broadcasts and the whole operator is ONE map-side pass
    * over train (|eval| fused codegen cosines per row) followed by a
    * map-side-combinable struct-max agg per train id: no corpus-sized
    * window, no shuffle beyond the final per-train agg (which AQE coalesces
    * to the train row count). At a multi-million-row eval suite the
    * documented cutover is IVF: assign both sides under the frozen codebook
    * and score only shared lists ([[graft.sim.Similarity.knnGraphPrunedSweep]]'s
    * machinery). */
  def semanticDecontam(spark: SparkSession, dir: String,
                       threshold: Double = 0.9): DataFrame = {
    val ev = graft.Fixtures.evalVecs(spark, dir)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ee"))
    val tr = graft.Fixtures.contaminatedTrainVecs(spark, dir)
      .select(col("vec_id").as("train_id"), col("embedding").as("te"))
    tr.crossJoin(broadcast(ev))
      .select(col("train_id"), col("eval_id"),
        graft.functions.VecOps.cosine6Col(col("te"), col("ee")).as("cosine"))
      // per-train argmax as ONE struct-max agg (map-side combinable; the
      // window form would shuffle train×|eval| rows): highest rounded
      // cosine, ties to the SMALLER eval_id via the negated second field
      .groupBy(col("train_id"))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_eval"))).as("m"))
      .select(col("train_id"), (-col("m.neg_eval")).as("eval_id"),
        col("m.cosine").as("cosine"),
        (col("m.cosine") >= lit(threshold)).as("flagged"))
  }

  /** DuckDB re-derivation of [[semanticDecontam]] (τ = 0.9): re-plant the
    * contaminated train split from the parquet, cross-score against the
    * eval split, rank on the SAME rounded cosine with the eval-id
    * tie-break. */
  def decontamOracleSql(threshold: Double = 0.9): String =
    s"""WITH ${graft.Fixtures.contamCtesSql},
       |c AS (SELECT train_id, eval_id, ${cosine6("te", "ee")} AS cosine
       |      FROM tr CROSS JOIN ev),
       |r AS (SELECT train_id, eval_id, cosine,
       |        row_number() OVER (PARTITION BY train_id ORDER BY cosine DESC, eval_id) AS rn
       |      FROM c)
       |SELECT train_id, eval_id, cosine,
       |  (cosine >= CAST($threshold AS DOUBLE)) AS flagged
       |FROM r WHERE rn = 1""".stripMargin

  /** DuckDB re-derivation of [[semanticKeep]] (k=8, τ=0.35): seeds from
    * `ORDER BY vec_id LIMIT 8`, nearest-seed by the rounded cosine with the
    * seed-id tie-break, intra-cluster pairs, greedy min-id keep. */
  def oracleSql(k: Int = 8, threshold: Double = 0.35): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |seeds AS (SELECT vec_id AS seed_id, emb AS semb FROM e ORDER BY vec_id LIMIT $k),
       |sims AS (SELECT e.vec_id, s.seed_id, ${cosine6("e.emb", "s.semb")} AS cos
       |         FROM e CROSS JOIN seeds s),
       |asg AS (SELECT vec_id, seed_id AS cluster_id FROM (
       |          SELECT vec_id, seed_id,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
       |          FROM sims) WHERE rn = 1),
       |p AS (SELECT x.vec_id AS d1, y.vec_id AS d2
       |      FROM asg ax JOIN e x ON x.vec_id = ax.vec_id
       |        JOIN asg ay ON ax.cluster_id = ay.cluster_id
       |        JOIN e y ON y.vec_id = ay.vec_id
       |      WHERE x.vec_id < y.vec_id AND ${cosine6("x.emb", "y.emb")} >= $threshold)
       |SELECT asg.vec_id, asg.cluster_id,
       |  (asg.vec_id NOT IN (SELECT d2 FROM p)) AS keep
       |FROM asg""".stripMargin
}
