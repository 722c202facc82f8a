package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import Similarity.{Vec, Hit, dot, vectors, bruteForceTopK, trainCentroids, nearestList, rankedLists}
import Pq.{PqCodebook, train => pqTrain}

/** IVF-PQ (IVFADC, Jégou et al. TPAMI 2011 §V): the composition of the two
  * index rungs this engine already ships — a coarse IVF codebook prunes the
  * corpus to `nprobe`/`nlist` lists per query, and inside each list the
  * vectors' RESIDUALS (x − coarse centroid) are product-quantized, so the
  * scan inside a probed list touches only m one-byte codes per vector.
  * This is the index layout large-scale vector stores actually deploy: at
  * 100 TB the coarse quantizer prunes bytes (stored list-partitioned, as
  * `sim_topk_ivf_stored` proves for parquet), the PQ codes shrink what
  * remains 32×, and the float corpus is touched only by the bounded exact
  * rerank join.
  *
  * Encoding residuals (not raw vectors) matters: within a list, residuals
  * are centered near zero with far less variance than the raw corpus, so
  * the same ksub buys a finer quantization — and the approximate inner
  * product decomposes exactly as
  *
  *   q · x̃ = q · c_list + Σ_j lutR(j)(code_j)            (ADC over residual LUTs)
  *   |x̃|²  = |c_list|² + 2 Σ_j cross(list)(j)(code_j) + Σ_j sn2(j)(code_j)
  *
  * where `cross(l)(j)(c) = c_list_sub_j · pqCentroid(j)(c)` is a tiny
  * nlist × m × ksub table computed once from the codebooks alone — the
  * scan reconstructs each vector's approximate cosine from table lookups
  * only, never a float row.
  *
  * All driver-side artifacts stay bounded: coarse codebook (nlist × dim),
  * PQ codebook (m × ksub × dsub), cross table (nlist × m × ksub), queries
  * (Q × dim). Training is the two existing treeAggregate paths unchanged.
  * PQ is lossy ⇒ the oracle surface is the same recall-sweep contract as
  * `sim_topk_pq`, with the (nprobe = nlist, rerank = corpus) endpoint equal
  * to brute force by construction. */
object IvfPq {

  final case class IvfPqIndex(coarse: Array[Array[Float]], book: PqCodebook,
                              cross: Array[Array[Array[Double]]],
                              cNorm2: Array[Double])
  final case class IvfPqCode(vec_id: Long, list_id: Int, codes: Array[Byte])

  /** Train coarse + residual-PQ codebooks and derive the cross table. The
    * residual frame is a map-only projection of the corpus (broadcast
    * coarse codebook); PQ training runs its usual one-treeAggregate-per-
    * iteration passes over it. */
  def train(vecs: Dataset[Vec], nlist: Int = 16, m: Int = 8,
            ksub: Int = 16): IvfPqIndex = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val coarse = trainCentroids(vecs, nlist)
    val bcC = spark.sparkContext.broadcast(coarse)
    val residuals = vecs.map { v =>
      val c = bcC.value(nearestList(bcC.value, v.embedding))
      val r = new Array[Float](v.embedding.length)
      var i = 0
      while (i < r.length) { r(i) = v.embedding(i) - c(i); i += 1 }
      Vec(v.vec_id, r)
    }
    val book = pqTrain(residuals, m, ksub)
    val cross = Array.tabulate(nlist, m, ksub) { (l, j, c) =>
      var s = 0.0; var d = 0
      while (d < book.dsub) {
        s += coarse(l)(j * book.dsub + d).toDouble * book.centroids(j)(c)(d).toDouble
        d += 1
      }
      s
    }
    IvfPqIndex(coarse, book, cross, coarse.map(c => dot(c, c)))
  }

  /** Map-only encode: coarse assignment + PQ codes of the residual. */
  def encode(vecs: Dataset[Vec], idx: IvfPqIndex): Dataset[IvfPqCode] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(idx)
    vecs.map { v =>
      val ix = bc.value
      val l = nearestList(ix.coarse, v.embedding)
      val c = ix.coarse(l)
      val codes = new Array[Byte](ix.book.m)
      val r = new Array[Float](v.embedding.length)
      var i = 0
      while (i < r.length) { r(i) = v.embedding(i) - c(i); i += 1 }
      var j = 0
      while (j < ix.book.m) {
        codes(j) = Pq.nearestSubCode(ix.book, r, j)
        j += 1
      }
      IvfPqCode(v.vec_id, l, codes)
    }
  }

  /** Probed-ADC candidate generation + bounded exact rerank. The scan reads
    * only code rows (and skips rows outside each query's probe set before
    * touching the LUTs); per-partition heaps ship Q × rerank rows. */
  def topK(spark: SparkSession, dir: String, numQueries: Int = 8, k: Int = 10,
           nlist: Int = 16, m: Int = 8, ksub: Int = 16,
           nprobe: Int = 4, rerank: Int = 40,
           trained: Option[IvfPqIndex] = None,
           codes: Option[Dataset[IvfPqCode]] = None): Dataset[Hit] = {
    val vecs = vectors(spark, dir)
    val queries = Similarity.queryArr(spark, dir, numQueries)
    val idx = trained.getOrElse(train(vecs, nlist, m, ksub))
    val bcI = spark.sparkContext.broadcast(idx)
    val codesDs = codes.getOrElse(encode(vecs, idx))
    TopK.reranked(codesDs, queries, vecs, k, rerank)((pc: IvfPqCode) => pc.vec_id) { qs =>
      val ix = bcI.value
      val mm = ix.book.m
      val probes: Array[Set[Int]] = qs.map(q => rankedLists(ix.coarse, q.embedding, nprobe).toSet)
      // per (query, list): q·c_list; per (query, subspace, code): q_sub·pqCentroid
      val qc: Array[Array[Double]] = qs.map(q => ix.coarse.map(c => dot(q.embedding, c)))
      val lutR: Array[Array[Array[Double]]] = qs.map { q =>
        Array.tabulate(mm, ix.book.centroids(0).length) { (j, c) =>
          var s = 0.0; var d = 0
          while (d < ix.book.dsub) {
            s += q.embedding(j * ix.book.dsub + d).toDouble * ix.book.centroids(j)(c)(d).toDouble
            d += 1
          }
          s
        }
      }
      val qnorms = qs.map(q => math.sqrt(dot(q.embedding, q.embedding)))
      pc => {
        // |x̃|² is query-independent: once per row, from table lookups only
        var cross2 = 0.0; var sn2 = 0.0
        var j = 0
        while (j < mm) {
          val code = pc.codes(j) & 0xff
          cross2 += ix.cross(pc.list_id)(j)(code)
          sn2 += ix.book.subNorm2(j)(code)
          j += 1
        }
        val xnorm = math.sqrt(math.max(ix.cNorm2(pc.list_id) + 2.0 * cross2 + sn2, 0.0))
        qi =>
          if (!probes(qi).contains(pc.list_id)) Double.NaN // unprobed: skip
          else {
            var ipR = 0.0
            var j = 0
            while (j < mm) { ipR += lutR(qi)(j)(pc.codes(j) & 0xff); j += 1 }
            val ip = qc(qi)(pc.list_id) + ipR
            val denom = qnorms(qi) * xnorm
            if (denom == 0.0) 0.0 else ip / denom
          }
      }
    }
  }

  /** Recall@k of IVF-PQ against brute force over (nprobe, rerank) operating
    * points — the same lossy-index oracle contract as `sim_topk_pq`. The
    * (nprobe = nlist, rerank = corpus) endpoint probes every list and keeps
    * every candidate, so it equals brute force BY CONSTRUCTION; the finite
    * point uses fixture floors with margin. */
  def recallSweep(spark: SparkSession, dir: String, numQueries: Int = 8,
                  k: Int = 10, nlist: Int = 16, m: Int = 8,
                  ksub: Int = 16): DataFrame = {
    import spark.implicits._
    val vecs = vectors(spark, dir)
    val n = vecs.count().toInt
    // coarse + residual-PQ codebooks are INGEST (one build per fixture
    // state; deterministic trainers) — the query times probe + ADC +
    // rerank, not the training passes (ArtifactCache contract)
    val idx = graft.sources.ArtifactCache.memo(
      s"ivfpqbook:$nlist:$m:$ksub:${graft.sources.ArtifactCache.fixtureKey(dir)}")(
      train(vecs, nlist, m, ksub))
    val brute = bruteForceTopK(spark, dir, numQueries, k).toDF()
      .select(col("query_id"), col("neighbor_id"))
    // (nprobe, rerank, min matched-of-k): floor from measured per-query
    // minima at (8, 16k) — 6/10 at sf0.001, 4/10 at sf0.01 — minus margin
    // (same policy as the IVF and PQ sweeps); the (nlist, n) endpoint is
    // exact by construction
    val sweep = Seq((8, 16 * k, 3)).filter(p => p._1 < nlist && p._2 < n) :+ ((nlist, n, k))
    // ONE encode pass (coarse assignment + residual PQ codes) shared by
    // every operating point — the code table is index-determined. Lazy
    // persist: the first point's scan materializes the cache in-line; the
    // blocks are ContextCleaner-reclaimed (see Pq.pqRecallSweep).
    val codes = encode(vecs, idx).persist()
    val all = sweep.map { case (np, rr, _) =>
      topK(spark, dir, numQueries, k, nlist, m, ksub, np, rr,
        trained = Some(idx), codes = Some(codes)).toDF()
        .select(lit(np).as("nprobe"), lit(rr).as("rerank"),
          col("query_id"), col("neighbor_id"))
    }.reduce(_ unionAll _)
      // referenced twice below (hit counts + match join): cache the tiny
      // (|sweep| x Q x k)-row result so the expensive ADC+rerank subtree
      // runs once per operating point, not twice; released together with
      // `codes` right after the caller's action (CacheLifecycle)
      .persist()
    graft.CacheLifecycle.releaseAfterNextAction(spark, codes, all)
    val matched = all.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("nprobe"), col("rerank"), col("query_id"))
      .agg(count(lit(1)).as("n_matched"))
    val thr = sweep.tail.foldLeft(
      when(col("nprobe") === sweep.head._1 && col("rerank") === sweep.head._2,
        lit(sweep.head._3))) {
      case (acc, (np, rr, t)) =>
        acc.when(col("nprobe") === np && col("rerank") === rr, lit(t))
    }
    all.groupBy(col("nprobe"), col("rerank"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
      .join(matched, Seq("nprobe", "rerank", "query_id"), "left")
      .select(col("nprobe"), col("rerank"), col("query_id"), col("n_hits"),
        (coalesce(col("n_matched"), lit(0L)) >= thr).as("recall_ok"))
  }
}
