package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Fnv32, TextHash}

/** Trainable QUALITY CLASSIFIER — the fasttext-style model-based filter of
  * pretraining pipelines (CCNet trains one against Wikipedia; GPT-3/LLaMA
  * filter CommonCrawl with a linear classifier over web-doc features).
  * Here: logistic regression over 4 document-shape features + hashed
  * bag-of-token frequencies, trained IN the engine against the corpus's own
  * Gopher-rule verdicts as weak labels — distilling the hand-written rule
  * into a smooth, rankable score (the model generalizes where the rule is a
  * hard cliff). The trainer is Newton/IRLS ([[trainNewton]], 8 passes —
  * logistic regression is IRLS's native problem).
  *
  * Distributed-training determinism, one notch STRONGER than the PQ/k-means
  * precedent (deterministic only for a fixed partitioning): each document's
  * gradient contribution is rounded to FIXED-POINT (×2^24) Longs and summed
  * as integers, so the treeAggregate total is bit-identical under ANY
  * partitioning or reduction order — the spec pins distributed weights ==
  * a driver-local reference trainer, element-exact.
  *
  * Scale shape: featurization is ONE map-only pass (the fused gram-stats
  * expression + per-doc hashed counts — no shuffle); each Newton iteration
  * is one treeAggregate returning exactly ONE accumulator to the driver
  * (gradient + Hessian + loss + count), `iters` passes total over a persisted
  * feature set released at the end of training. At 100 TB the training-side
  * story is the BPE one: train on a hash-fate subcorpus (the deterministic
  * bucket samplers), score everything — scoring is explode → broadcast
  * model-as-table join → per-doc sum, a linear equi-shuffle on doc_id.
  */
object QualityClassifier {

  val NumBuckets = 64
  /** bias, n_words/100, mean_word_len/10, top_bigram_frac, dup_trigram_frac,
    * then the hashed token-frequency buckets. */
  val Dim: Int = 1 + 4 + NumBuckets
  val Scale: Double = (1L << 24).toDouble

  final case class FeatDoc(doc_id: Long, label: Double, feats: Array[Double])

  /** Stable sigmoid. */
  def sigmoid(z: Double): Double =
    if (z >= 0) 1.0 / (1.0 + math.exp(-z)) else { val e = math.exp(z); e / (1.0 + e) }

  /** One map-only pass: shape features from the fused gram-stats expression,
    * label from the same Gopher rule [[TextAnalysis.gopherFilters]] applies,
    * hashed tf from the engine's FNV-1a (byte-compatible with the
    * [[Fnv32]] scoring expression). Docs with < 3 tokens carry no trigram
    * stats and are excluded, matching the rule query. */
  def featurize(spark: SparkSession, dir: String): Dataset[FeatDoc] =
    featurizeFrame(Tables.documents(spark, dir))

  /** [[featurize]] over any documents-shaped frame — including a
    * `readStream` source: every step is stateless (the fused gram-stats
    * expression + a per-row map), so the same code path serves batch and
    * ingest. */
  def featurizeFrame(df: DataFrame): Dataset[FeatDoc] = {
    import df.sparkSession.implicits._
    df
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("tk"), TextHash.gramStatsCol(col("tk")).as("gs"))
      .as[(Long, Seq[String], Seq[Long])]
      .map { case (id, tk, gs) =>
        val n = tk.length
        val meanLen = tk.iterator.map(_.length.toLong).sum.toDouble / n
        val topBi = gs(0).toDouble / gs(1)
        val dupTri = (gs(2) - gs(3)).toDouble / gs(2)
        val ok = n >= 30 && meanLen >= 3.0 && meanLen <= 10.0 && topBi <= 0.1 && dupTri <= 0.05
        val f = new Array[Double](Dim)
        f(0) = 1.0
        f(1) = n / 100.0
        f(2) = meanLen / 10.0
        f(3) = topBi
        f(4) = dupTri
        tk.foreach { w => f(5 + Fnv32.hash(w) % NumBuckets) += 1.0 }
        var j = 5
        while (j < Dim) { f(j) /= n; j += 1 }
        FeatDoc(id, if (ok) 1.0 else 0.0, f)
      }
  }

  /** Packed upper-triangle size for the Newton Hessian accumulator. */
  val TriDim: Int = Dim * (Dim + 1) / 2

  /** The per-document fixed-point NEWTON contribution: gradient (err·x),
    * packed upper-triangular Hessian (p(1−p)·x xᵀ), and loss, all rounded
    * to ×2^24 Longs, so the integer sums are order-free.
    * Writes into caller-provided accumulators (one flat array per task). */
  def docContributionNewton(w: Array[Double], d: FeatDoc, acc: Array[Long]): Unit = {
    var z = 0.0
    var j = 0
    while (j < Dim) { z += w(j) * d.feats(j); j += 1 }
    val p = sigmoid(z)
    val err = p - d.label
    val curv = p * (1.0 - p)
    j = 0
    while (j < Dim) { acc(j) += math.rint(err * d.feats(j) * Scale).toLong; j += 1 }
    var t = Dim
    var i = 0
    while (i < Dim) {
      val ci = curv * d.feats(i)
      var k = i
      while (k < Dim) {
        acc(t) += math.rint(ci * d.feats(k) * Scale).toLong
        t += 1; k += 1
      }
      i += 1
    }
    val loss = -(if (d.label > 0.5) math.log(math.max(p, 1e-12))
                 else math.log(math.max(1.0 - p, 1e-12)))
    acc(Dim + TriDim) += math.rint(loss * Scale).toLong
    acc(Dim + TriDim + 1) += 1L
  }

  /** Deterministic in-place Cholesky solve of (H + ridge·I)·x = g for the
    * driver-side Newton step. `h` is the packed upper triangle of the MEAN
    * Hessian; plain double arithmetic in a fixed order, so the distributed
    * and local trainers (which feed it bit-identical integer sums) produce
    * bit-identical steps. */
  def solveSpd(h: Array[Double], g: Array[Double], ridge: Double): Array[Double] = {
    val a = Array.ofDim[Double](Dim, Dim)
    var t = 0
    var i = 0
    while (i < Dim) {
      var k = i
      while (k < Dim) { a(i)(k) = h(t); a(k)(i) = h(t); t += 1; k += 1 }
      a(i)(i) += ridge
      i += 1
    }
    // Cholesky a = L·Lᵀ, overwriting the lower triangle
    i = 0
    while (i < Dim) {
      var k = 0
      while (k <= i) {
        var s = a(i)(k)
        var m = 0
        while (m < k) { s -= a(i)(m) * a(k)(m); m += 1 }
        if (i == k) a(i)(i) = math.sqrt(math.max(s, 1e-12))
        else a(i)(k) = s / a(k)(k)
        k += 1
      }
      i += 1
    }
    val y = new Array[Double](Dim)
    i = 0
    while (i < Dim) {
      var s = g(i)
      var m = 0
      while (m < i) { s -= a(i)(m) * y(m); m += 1 }
      y(i) = s / a(i)(i)
      i += 1
    }
    val x = new Array[Double](Dim)
    i = Dim - 1
    while (i >= 0) {
      var s = y(i)
      var m = i + 1
      while (m < Dim) { s -= a(m)(i) * x(m); m += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** Driver-side weight update shared verbatim by [[trainNewton]] and
    * [[trainNewtonLocal]]: unpack the integer sums, mean them, solve the
    * ridge-damped normal equations, step. Returns the iteration's mean
    * loss. */
  private def newtonStep(w: Array[Double], acc: Array[Long], ridge: Double): Double = {
    val n = acc(Dim + TriDim + 1).toDouble
    val g = new Array[Double](Dim)
    var j = 0
    while (j < Dim) { g(j) = (acc(j) / Scale) / n; j += 1 }
    val h = new Array[Double](TriDim)
    j = 0
    while (j < TriDim) { h(j) = (acc(Dim + j) / Scale) / n; j += 1 }
    val step = solveSpd(h, g, ridge)
    j = 0
    while (j < Dim) { w(j) -= step(j); j += 1 }
    (acc(Dim + TriDim) / Scale) / n
  }

  /** NEWTON / IRLS trainer: logistic regression is IRLS's native problem,
    * so `iters` = 8 second-order passes fit the weak labels to 0.994
    * training accuracy (measured at both default SFs). Determinism contract:
    * every per-doc contribution (gradient + packed Hessian) is
    * fixed-point, the treeAggregate total is bit-identical under ANY
    * partitioning, and the driver-side Cholesky is shared verbatim with
    * the local reference. The accumulator is Dim + Dim(Dim+1)/2 + 2 Longs
    * (~19 KB at Dim=69) — one per task, one to the driver per pass. */
  def trainNewton(docs: Dataset[FeatDoc], iters: Int = 8, ridge: Double = 1e-3)
  : (Array[Double], Array[Double]) = {
    val cached = docs.persist()
    try {
      val sc = cached.sparkSession.sparkContext
      val w = new Array[Double](Dim)
      val losses = new Array[Double](iters)
      for (t <- 0 until iters) {
        val bw = sc.broadcast(w.clone())
        val acc = cached.rdd.treeAggregate(new Array[Long](Dim + TriDim + 2))(
          seqOp = (a, d) => { docContributionNewton(bw.value, d, a); a },
          combOp = (a, b) => { var j = 0; while (j < a.length) { a(j) += b(j); j += 1 }; a })
        bw.destroy()
        losses(t) = newtonStep(w, acc, ridge)
      }
      (w, losses)
    } finally cached.unpersist(blocking = false)
  }

  /** Driver-local reference for [[trainNewton]] — same contributions, same
    * integer sums, same solver. */
  def trainNewtonLocal(docs: Array[FeatDoc], iters: Int = 8, ridge: Double = 1e-3)
  : (Array[Double], Array[Double]) = {
    val w = new Array[Double](Dim)
    val losses = new Array[Double](iters)
    for (t <- 0 until iters) {
      val acc = new Array[Long](Dim + TriDim + 2)
      docs.foreach(d => docContributionNewton(w, d, acc))
      losses(t) = newtonStep(w, acc, ridge)
    }
    (w, losses)
  }

  /** FROZEN-MODEL scoring of a featurized (possibly STREAMING) corpus — a
    * stateless map under fixed weights: the score-on-arrival ingest twin
    * (the SQ8/PQ encode-on-arrival contract: train once, freeze, score
    * every arriving document identically to the batch path; spec-pinned
    * stream == local reference). Scores on the rounded surface. */
  def scoreWith(w: Array[Double])(docs: Dataset[FeatDoc]): Dataset[(Long, Double, Boolean)] = {
    import docs.sparkSession.implicits._
    docs.map { d =>
      var z = 0.0
      var j = 0
      while (j < Dim) { z += w(j) * d.feats(j); j += 1 }
      (d.doc_id,
        BigDecimal(sigmoid(z)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        z >= 0)
    }
  }

  /** The registered query: train in-query (the PQ/IVF in-query-training
    * precedent), then score RELATIONALLY — the model published as a
    * broadcastable weight table, the token part an explode → Fnv-bucket →
    * broadcast-join → per-doc sum, the shape part the same fused map-only
    * expression. Output: per doc, the 6-decimal-rounded quality score (exp
    * is the non-IEEE-exact op — the ln/TF-IDF acceptance), the model
    * verdict, and the weak label it was distilled from.
    *
    * Rows-only by nature (the BpeTrain allowlist precedent: the values
    * depend on an artifact the query itself trains, which no independent
    * SQL engine can re-derive); QualityClassifierSpec pins distributed ==
    * local-reference weights element-exact and relational == local scores
    * at the rounded surface. */
  def scored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // weights memoized per fixture generation: the IRLS fit is
    // bit-deterministic (fixed-point treeAggregate), so a repeat over the
    // same fixture bytes recomputes the identical vector — cache the train
    // cost, never the value (the ArtifactCache ingest-vs-query contract)
    val (w, _) = graft.sources.ArtifactCache.memo(
      s"qclf:${graft.sources.ArtifactCache.fixtureKey(dir)}")(
      trainNewton(featurize(spark, dir)))
    // model as a table: one row per hashed bucket, weights in ×2^24
    // FIXED-POINT Longs — the per-doc token margin is then an INTEGER sum
    // (exact, order-free) divided once, so the DuckDB oracle built by
    // [[TrainedOracles.classifierSql]] reproduces tok_z bit-for-bit
    // regardless of either engine's aggregation order (a double sum would
    // be ulp-sensitive to it); /2^24 is exact in binary, so the only
    // inexactness the quantization adds is the ≤2^-25-per-weight rounding
    // itself, ~1e-8 in z — invisible at the ROUND(…,6) surface
    val wtab = broadcast(
      (0 until NumBuckets).map(b => (b, math.rint(w(5 + b) * Scale).toLong))
        .toDF("bucket", "wfix"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("bigint").as("n_words"),
        TextHash.gramStatsCol(col("tk")).as("gs"))
    // shape part of the margin: map-only arithmetic on the fused stats
    val meanLen = TextAnalysis.charCountCol(col("tk")).cast("double") / col("n_words")
    val topBi = col("gs")(0).cast("double") / col("gs")(1)
    val dupTri = (col("gs")(2) - col("gs")(3)).cast("double") / col("gs")(2)
    val shapeZ = lit(w(0)) + lit(w(1)) * (col("n_words") / 100.0) +
      lit(w(2)) * (meanLen / 10.0) + lit(w(3)) * topBi + lit(w(4)) * dupTri
    val shaped = base.select(col("doc_id"), col("n_words"), shapeZ.as("shape_z"),
      ((col("n_words") >= 30) && (meanLen >= 3.0) && (meanLen <= 10.0) &&
        (topBi <= 0.1) && (dupTri <= 0.05)).as("gopher_ok"),
      col("tk"))
    // token part: explode → engine hash bucket → broadcast model join →
    // per-doc sum of tf·weight (ONE linear equi-shuffle on doc_id)
    val tokZ = shaped.select(col("doc_id"), col("n_words"), explode(col("tk")).as("w"))
      .select(col("doc_id"), col("n_words"), (Fnv32.fnv32(col("w")) % NumBuckets).as("bucket"))
      .join(wtab, "bucket")
      .groupBy(col("doc_id"))
      .agg(((sum(col("wfix")) / Scale) / first(col("n_words"))).as("tok_z"))
    shaped.drop("tk").join(tokZ, "doc_id")
      .select(col("doc_id"), col("n_words"),
        round(expr("1.0 / (1.0 + exp(-(shape_z + tok_z)))"), 6).as("quality_score"),
        (col("shape_z") + col("tok_z") >= 0).as("model_ok"),
        col("gopher_ok"))
  }
}
