package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Similarity.{Vec, Hit, cosine, dot, vectors, bruteForceTopK}

/** PRODUCT QUANTIZATION (PQ) — the index-compression rung past SQ8
  * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011): each d-dim vector splits into `m` subvectors of
  * d/m dims; per subspace a k-means codebook of `ksub` centroids is
  * trained, and a vector is stored as m one-byte codes — 8 bytes against
  * the 256-byte float32 original at (m=8, d=64), a 32× shrink where SQ8
  * gives 4×.
  *
  * Search is ADC (asymmetric distance computation): per query, one
  * m × ksub lookup table of exact partial dots `q_sub · centroid`; a
  * vector's approximate inner product is then m table reads — the corpus
  * scan touches ONLY the codes. Unlike SQ8's error ball, PQ's
  * reconstruction error admits no useful per-vector exactness bound, so
  * the design is candidate-generation + bounded exact rerank, and the
  * oracle surface is RECALL-thresholded (like `sim_ivf_recall`), not
  * row-for-row equality with brute force.
  *
  * Scale shape, same arguments as the rest of [[Similarity]]:
  *   - training: one `treeAggregate` per Lloyd iteration for ALL m
  *     subspaces at once — the driver receives exactly ONE
  *     m × ksub × dsub accumulator, never per-partition partials;
  *   - encode: map-only (broadcast codebook);
  *   - ADC scan: per-partition top-`rerank` heaps ⇒ Q × rerank rows cross
  *     the wire; the float corpus is touched only by the bounded rerank
  *     join. At 100 TB the scan reads the 32×-smaller code table.
  */
object Pq {

  /** [subspace][centroid][coord] plus the per-centroid squared sub-norms
    * the ADC scan needs to reconstruct |v~| without touching floats. */
  final case class PqCodebook(m: Int, dsub: Int,
                              centroids: Array[Array[Array[Float]]],
                              subNorm2: Array[Array[Double]])

  final case class PqCode(vec_id: Long, codes: Array[Byte])

  /** Per-subspace Lloyd iterations, all m subspaces folded in ONE
    * treeAggregate pass per iteration (assignment by plain L2 in each
    * subspace — standard PQ; ties break to the lowest centroid index, so
    * training is deterministic for a fixed partitioning). Init is the
    * deterministic seeded sample used by [[Similarity.trainCentroids]],
    * sliced per subspace. Empty cells keep their previous centroid. */
  def train(vecs: Dataset[Vec], m: Int, ksub: Int, iters: Int = 4): PqCodebook = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val sample = vecs.toDF()
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(ksub).as[Vec].collect().map(_.embedding)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var centroids: Array[Array[Array[Float]]] =
      Array.tabulate(m, ksub)((j, c) =>
        java.util.Arrays.copyOfRange(sample(c % sample.length), j * dsub, (j + 1) * dsub))
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val zero = (Array.fill(m, ksub)(new Array[Double](dsub)),
        Array.fill(m)(new Array[Long](ksub)))
      val (sums, counts) = vecs.rdd.treeAggregate(zero)(
        seqOp = { case ((sums, counts), v) =>
          val cs = bc.value
          var j = 0
          while (j < m) {
            val best = nearestSub(cs(j), v.embedding, j * dsub, dsub)
            counts(j)(best) += 1
            var d = 0
            while (d < dsub) { sums(j)(best)(d) += v.embedding(j * dsub + d).toDouble; d += 1 }
            j += 1
          }
          (sums, counts)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var j = 0
          while (j < m) {
            var c = 0
            while (c < ksub) {
              var d = 0
              while (d < dsub) { s1(j)(c)(d) += s2(j)(c)(d); d += 1 }
              c1(j)(c) += c2(j)(c)
              c += 1
            }
            j += 1
          }
          (s1, c1)
        })
      centroids = Array.tabulate(m, ksub) { (j, c) =>
        if (counts(j)(c) > 0) sums(j)(c).map(x => (x / counts(j)(c)).toFloat)
        else centroids(j)(c)
      }
      bc.unpersist()
    }
    val sn2 = centroids.map(_.map(c => dot(c, c)))
    PqCodebook(m, dsub, centroids, sn2)
  }

  /** Nearest centroid of subspace codebook `cs` to `e[off, off+dsub)` by
    * L2, lowest index on ties. */
  private def nearestSub(cs: Array[Array[Float]], e: Array[Float],
                         off: Int, dsub: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d2 = 0.0; var d = 0
      while (d < dsub) {
        val diff = e(off + d).toDouble - cs(c)(d).toDouble
        d2 += diff * diff; d += 1
      }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** Subspace-j code of `e` under `book` — shared with [[IvfPq]]'s residual
    * encoding. */
  private[sim] def nearestSubCode(book: PqCodebook, e: Array[Float], j: Int): Byte =
    nearestSub(book.centroids(j), e, j * book.dsub, book.dsub).toByte

  /** Map-only encode: m one-byte codes per vector. */
  def encode(vecs: Dataset[Vec], book: PqCodebook): Dataset[PqCode] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(book)
    vecs.map { v =>
      val b = bc.value
      val codes = new Array[Byte](b.m)
      var j = 0
      while (j < b.m) {
        codes(j) = nearestSub(b.centroids(j), v.embedding, j * b.dsub, b.dsub).toByte
        j += 1
      }
      PqCode(v.vec_id, codes)
    }
  }

  /** ADC candidate generation + exact rerank: scan the code table scoring
    * each vector by LUT-summed approximate cosine, keep the top `rerank`
    * per query (per-partition heaps ⇒ Q × rerank rows shuffled), then
    * exact-score exactly those against the float corpus and emit the
    * top k. `rerank >= corpus size` degenerates to brute force (every
    * vector is a candidate and all scoring is exact) — that is the sweep's
    * by-construction endpoint, not a scale path. */
  def pqTopK(spark: SparkSession, dir: String, numQueries: Int = 8, k: Int = 10,
             m: Int = 8, ksub: Int = 16, rerank: Int = 40,
             trained: Option[PqCodebook] = None,
             codes: Option[Dataset[PqCode]] = None): Dataset[Hit] = {
    val vecs = vectors(spark, dir)
    val queries = Similarity.queryArr(spark, dir, numQueries)
    val book = trained.getOrElse(train(vecs, m, ksub))
    val bcB = spark.sparkContext.broadcast(book)
    // NOTE (r14, measured): spreading the encode scan was tried and
    // REVERTED with the rest of the sim-family spreads (18-query A/B,
    // family 1.25× slower) — the cost here is the 4 Lloyd treeAggregate
    // jobs above, a fixed job-count floor, not the encode pass
    val codesDs = codes.getOrElse(encode(vecs, book))
    TopK.reranked(codesDs, queries, vecs, k, rerank)((pc: PqCode) => pc.vec_id) { qs =>
      val b = bcB.value
      // per-partition LUTs of exact partial dots: lut(qi)(j)(c) =
      // q_sub_j · centroid_{j,c}; qnorm for the cosine denominator
      val luts = qs.map { q =>
        Array.tabulate(b.m, b.centroids(0).length) { (j, c) =>
          var s = 0.0; var d = 0
          while (d < b.dsub) { s += q.embedding(j * b.dsub + d).toDouble * b.centroids(j)(c)(d).toDouble; d += 1 }
          s
        }
      }
      val qnorms = qs.map(q => math.sqrt(dot(q.embedding, q.embedding)))
      pc => {
        // |v~|² from the sub-norm table — no float row touched
        var rn2 = 0.0
        var j = 0
        while (j < b.m) { rn2 += b.subNorm2(j)(pc.codes(j) & 0xff); j += 1 }
        val vnorm = math.sqrt(rn2)
        qi => {
          var ip = 0.0
          var j = 0
          while (j < b.m) { ip += luts(qi)(j)(pc.codes(j) & 0xff); j += 1 }
          val denom = qnorms(qi) * vnorm
          if (denom == 0.0) 0.0 else ip / denom
        }
      }
    }
  }

  /** Recall@k of PQ-ADC + rerank against exact brute force, swept over the
    * rerank width — the `sim_ivf_recall`-shaped oracle surface for a LOSSY
    * index (PQ admits no exact-rescan trick; the honest contract is
    * measured recall). The `rerank = corpus` endpoint makes every vector a
    * candidate, so its recall is k/k BY CONSTRUCTION — robust to any float
    * jitter in training; finite widths use fixture floors with margin.
    * `recall_ok` is the oracle column (brute force itself is
    * DuckDB-checked, so the chain grounds out in an independent engine). */
  def pqRecallSweep(spark: SparkSession, dir: String, numQueries: Int = 8,
                    k: Int = 10, m: Int = 8, ksub: Int = 16): DataFrame = {
    import spark.implicits._
    val vecs = vectors(spark, dir)
    val n = vecs.count().toInt
    // codebook training is INGEST (one build per fixture state, identical
    // on re-run — bit-deterministic Lloyd with seeded init); the registered
    // query times the encode + ADC + rerank plans, not the trainer
    // (ArtifactCache contract, as the BPE/unigram/IRLS trainers)
    val book = graft.sources.ArtifactCache.memo(
      s"pqbook:$m:$ksub:${graft.sources.ArtifactCache.fixtureKey(dir)}")(
      train(vecs, m, ksub))
    val brute = bruteForceTopK(spark, dir, numQueries, k).toDF()
      .select(col("query_id"), col("neighbor_id"))
    // (rerank width, min matched-of-k): floors from measured per-query
    // minima — width 4k: 6/10 at sf0.001, 4/10 at sf0.01; width 16k: 8/10
    // at both — with the same margin policy as the IVF sweep; `n` is exact
    // by construction
    val sweep = Seq(4 * k -> 2, 16 * k -> 5).filter(_._1 < n) :+ (n -> k)
    // ONE encode pass shared by every operating point — the code table is
    // codebook-determined, so re-encoding per width would rescan the corpus
    // |sweep| times at 100 TB. persist() is LAZY: the first operating
    // point's scan job materializes the cache in-line (no extra action);
    // the blocks (9 bytes/vector) back the returned frame and are
    // reclaimed by the ContextCleaner when it is GC'd — the same lifecycle
    // as pack_sequences' checkpointed projection.
    val codes = encode(vecs, book).persist()
    val pqAll = sweep.map { case (rr, _) =>
      pqTopK(spark, dir, numQueries, k, m, ksub, rr,
        trained = Some(book), codes = Some(codes)).toDF()
        .select(lit(rr).as("rerank"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionAll _)
      // referenced twice below (hit counts + match join): cache the tiny
      // (|sweep| x Q x k)-row result so the expensive ADC+rerank subtree
      // runs once per operating point, not twice; released together with
      // `codes` right after the caller's action (CacheLifecycle) instead of
      // leaking until ContextCleaner GC across repeated sweep runs
      .persist()
    graft.CacheLifecycle.releaseAfterNextAction(spark, codes, pqAll)
    val matched = pqAll.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("rerank"), col("query_id")).agg(count(lit(1)).as("n_matched"))
    val thr = sweep.tail.foldLeft(when(col("rerank") === sweep.head._1, lit(sweep.head._2))) {
      case (acc, (rr, t)) => acc.when(col("rerank") === rr, lit(t))
    }
    pqAll.groupBy(col("rerank"), col("query_id")).agg(count(lit(1)).as("n_hits"))
      .join(matched, Seq("rerank", "query_id"), "left")
      .select(col("rerank"), col("query_id"), col("n_hits"),
        (coalesce(col("n_matched"), lit(0L)) >= thr).as("recall_ok"))
  }
}
