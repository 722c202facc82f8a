package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed UNIGRAM-LM tokenizer training (Kudo 2018, the SentencePiece
  * `unigram` model) — the second trained tokenizer family next to
  * [[BpeTrain]]: instead of greedy merges, a vocabulary of subword PIECES
  * with probabilities, fit by EM over the segmentation lattice and pruned
  * to a budget.
  *
  * This implementation is the deterministic hard-EM (Viterbi-EM) variant:
  *   1. SEED: every ≤ `maxPieceLen` substring of every corpus word, counted
  *      distributed (one exchange of a bounded substring stream), top
  *      `seedSize` by (count·len, then count, then piece) — Kudo's
  *      freq·len seeding — plus every single character (coverage).
  *   2. EM round: segment every DISTINCT word by Viterbi under the current
  *      piece log-probs (words carry their corpus counts — the corpus is
  *      scanned ONCE ever, into a checkpointed (word, count) table;
  *      Zipf makes that table vocabulary-sized), sum EXACT INTEGER piece
  *      counts weighted by word count, re-estimate logp = ln c − ln Σc.
  *   3. PRUNE to `vocabSize` pieces by (count, then piece) — single chars
  *      are immune to the BUDGET cut, then one more EM round on the pruned
  *      vocabulary. A single char that wins no Viterbi cell in that refit
  *      still drops out (countPass only emits pieces some segmentation
  *      used), and such characters are covered at apply time by the OOV
  *      single-char fallback path, not by an in-vocab piece.
  *
  * Determinism contract (the fixed-point-classifier stance): every model
  * update flows through integer counts (hard EM has no fractional expected
  * counts), so the fit is bit-identical under ANY partitioning; the
  * per-word Viterbi shares one code path between the distributed pass and
  * the spec's driver-local reference, with explicit tie-breaks (higher
  * score, then FEWER pieces, then the longer LAST piece at each DP cell —
  * smaller start index wins).
  *
  * Scale shape: one corpus scan total; each EM round is one pass over the
  * broadcast-vocab-segmented word table with a map-side-combined
  * vocab-sized aggregate; the driver only ever holds the ≤ seedSize piece
  * table (the BpeTrain / trainCentroids loop shape).
  *
  * Not SQL-expressible (lattice DP under a trained model), so the
  * registered query `text_unigram_apply` is rows-only with the spec
  * pinning distributed == driver-local reference — the BpeTrain
  * precedent. */
object UnigramLm {

  final case class Piece(piece: String, count: Long, logp: Double)

  /** Distinct corpus words with counts — the ONE corpus scan, which the
    * trainers checkpoint (vocabulary-sized by Zipf; every EM pass reads
    * it, never parquet) and release once the model is fit. */
  def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokensCol(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** `fit` over the checkpointed [[wordCounts]], released afterwards. */
  private def overWords[T](spark: SparkSession, dir: String)(fit: DataFrame => T): T = {
    val words = wordCounts(spark, dir).localCheckpoint(true)
    try fit(words) finally graft.Checkpoints.release(words)
  }

  /** Viterbi segmentation of `word` under piece log-probs; `fallback` is
    * the out-of-vocab single-char penalty (set below every real logp so a
    * known piece always wins). Deterministic: at each end position the
    * best (score, then fewer pieces, then longest last piece) wins. */
  private[text] def viterbi(word: String, logp: java.util.HashMap[String, Double],
                            maxPieceLen: Int, fallback: Double): Array[String] = {
    val n = word.length
    val score = new Array[Double](n + 1)
    val nPieces = new Array[Int](n + 1)
    val back = new Array[Int](n + 1) // start index of the best last piece
    java.util.Arrays.fill(score, Double.NegativeInfinity)
    score(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        if (score(start) != Double.NegativeInfinity) {
          val piece = word.substring(start, end)
          val lp = logp.getOrDefault(piece,
            if (end - start == 1) fallback else Double.NegativeInfinity)
          if (lp != Double.NegativeInfinity) {
            val s = score(start) + lp
            val p = nPieces(start) + 1
            val better = s > score(end) ||
              (s == score(end) && (p < nPieces(end) ||
                (p == nPieces(end) && start < back(end))))
            if (better) { score(end) = s; nPieces(end) = p; back(end) = start }
          }
        }
        start += 1
      }
      end += 1
    }
    val out = new Array[String](nPieces(n))
    var e = n
    var i = nPieces(n) - 1
    while (e > 0) { out(i) = word.substring(back(e), e); e = back(e); i -= 1 }
    out
  }

  /** One hard-EM count pass: per-piece EXACT integer counts over the
    * Viterbi segmentation of every word, weighted by word count. */
  private def countPass(words: DataFrame, vocab: Seq[Piece],
                        maxPieceLen: Int): Seq[(String, Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.map(p => (p.piece, p.logp)))
    val counted = words.as[(String, Long)]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Double]()
        bc.value.foreach { case (p, lp) => m.put(p, lp) }
        val fb = fallbackOf(bc.value.map(_._2))
        it.flatMap { case (w, c) =>
          viterbi(w, m, maxPieceLen, fb).iterator.map(p => (p, c))
        }
      }
      .toDF("piece", "cnt")
      .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
      .as[(String, Long)].collect() // bounded: ≤ vocab pieces
    bc.unpersist()
    counted.toSeq
  }

  /** OOV fallback: below every in-vocab logp so it never beats a real
    * piece; derived from the model (not a magic constant) so the reference
    * reproduces it exactly. */
  private[text] def fallbackOf(logps: Seq[Double]): Double =
    (if (logps.isEmpty) 0.0 else logps.min) - 100.0

  private[text] def toModel(counts: Seq[(String, Long)]): Seq[Piece] = {
    val total = counts.map(_._2).sum.toDouble
    counts.sortBy(_._1)
      .map { case (p, c) => Piece(p, c, math.log(c / total)) }
  }

  /** SEED: substring counts — the top-seedSize selection happens IN THE
    * ENGINE (TakeOrderedAndProject bounded heaps under the fully
    * tie-broken ordering), so the driver receives ≤ seedSize + |alphabet|
    * rows, never the substring vocabulary (which grows with the corpus —
    * collecting it whole would be the driver OOM at scale). Shared by the
    * hard-EM and soft-EM trainers. */
  private[text] def seed(words: DataFrame, seedSize: Int,
                         maxPieceLen: Int): Seq[(String, Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val subs = words.as[(String, Long)].flatMap { case (w, c) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), c)
    }.toDF("piece", "cnt")
      .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
    val chars = subs.filter(length(col("piece")) === 1)
      .as[(String, Long)].collect()
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy((col("n") * length(col("piece"))).desc, col("n").desc, col("piece"))
      .limit(seedSize)
      .as[(String, Long)].collect()
    (chars ++ multi.sortBy { case (p, c) => (-c * p.length, -c, p) }
      .take(math.max(0, seedSize - chars.length))).distinct.toSeq
  }

  /** Seed + EM + prune + EM. Returns the final model sorted by piece.
    * Memoized per fixture generation (bit-deterministic trainer — the
    * ArtifactCache ingest-vs-query contract, as [[BpeTrain.trainMerges]]). */
  def train(spark: SparkSession, dir: String, vocabSize: Int = 64,
            seedSize: Int = 512, maxPieceLen: Int = 6, emIters: Int = 2): Seq[Piece] =
    graft.sources.ArtifactCache.memo(
      s"uni:$vocabSize:$seedSize:$maxPieceLen:$emIters:${graft.sources.ArtifactCache.fixtureKey(dir)}")(
      overWords(spark, dir)(trainOn(_, vocabSize, seedSize, maxPieceLen, emIters)))

  private def trainOn(words: DataFrame, vocabSize: Int, seedSize: Int,
                      maxPieceLen: Int, emIters: Int): Seq[Piece] = {
    val seeded = seed(words, seedSize, maxPieceLen)
    var model = toModel(seeded)
    for (_ <- 1 to emIters)
      model = toModel(countPass(words, model, maxPieceLen))
    // PRUNE to budget (chars immune — coverage), then refit once
    val kept = (model.filter(_.piece.length == 1) ++
      model.filter(_.piece.length > 1)
        .sortBy(p => (-p.count, p.piece))
        .take(math.max(0, vocabSize - model.count(_.piece.length == 1))))
      .filter(_.count > 0)
    model = toModel(countPass(words, kept.map(p => Piece(p.piece, p.count, p.logp)), maxPieceLen))
    model.filter(_.count > 0)
  }

  // ---- SOFT-EM (Kudo's actual E-step) under the fixed-point device ----

  /** Log-sum-exp accumulated in a FIXED left-to-right order — determinism
    * rests on every engine-side and reference-side caller folding spans in
    * the same sequence, never on the reduction tree (per-word math is
    * task-local, so order is code, not partitioning). */
  private def lse(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Micro-units per expected count: the DSIR device — each per-word
    * fractional expectation is rounded ONCE to an integer number of
    * millionths, and everything downstream (cross-word sums, pruning,
    * M-step ratios) is integer arithmetic, so the fit is bit-identical
    * under any partitioning even though the E-step is fractional. */
  val Micro: Double = 1e6

  /** Forward-backward expected piece counts of one word (× corpus count,
    * in micro-units), added into `out`. Shared verbatim by the distributed
    * pass and the spec's driver-local reference. */
  private[text] def expectedCounts(word: String, cnt: Long,
                                   logp: java.util.HashMap[String, Double],
                                   maxPieceLen: Int, fallback: Double,
                                   out: java.util.HashMap[String, Long]): Unit = {
    val n = word.length
    def lpOf(start: Int, end: Int): Double = {
      val piece = word.substring(start, end)
      logp.getOrDefault(piece,
        if (end - start == 1) fallback else Double.NegativeInfinity)
    }
    val la = new Array[Double](n + 1)
    val lb = new Array[Double](n + 1)
    java.util.Arrays.fill(la, Double.NegativeInfinity)
    java.util.Arrays.fill(lb, Double.NegativeInfinity)
    la(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        val lp = lpOf(start, end)
        if (lp != Double.NegativeInfinity && la(start) != Double.NegativeInfinity)
          la(end) = lse(la(end), la(start) + lp)
        start += 1
      }
      end += 1
    }
    lb(n) = 0.0
    var start2 = n - 1
    while (start2 >= 0) {
      var e2 = math.min(n, start2 + maxPieceLen)
      while (e2 > start2) {
        val lp = lpOf(start2, e2)
        if (lp != Double.NegativeInfinity && lb(e2) != Double.NegativeInfinity)
          lb(start2) = lse(lb(start2), lp + lb(e2))
        e2 -= 1
      }
      start2 -= 1
    }
    val logZ = la(n)
    if (logZ == Double.NegativeInfinity) return // unreachable: single-char fallback spans every gap
    var s = 0
    while (s < n) {
      var e = s + 1
      val eMax = math.min(n, s + maxPieceLen)
      while (e <= eMax) {
        val lp = lpOf(s, e)
        if (lp != Double.NegativeInfinity) {
          val expCnt = math.exp(la(s) + lp + lb(e) - logZ)
          val micro = math.rint(expCnt * cnt * Micro).toLong
          if (micro > 0L) {
            val piece = word.substring(s, e)
            out.put(piece, out.getOrDefault(piece, 0L) + micro)
          }
        }
        e += 1
      }
      s += 1
    }
  }

  /** One SOFT-EM pass: per-piece expected MICRO counts (integer) over the
    * full segmentation lattice of every word — the [[countPass]] twin with
    * forward-backward posteriors instead of one Viterbi path. */
  private def softCountPass(words: DataFrame, vocab: Seq[Piece],
                            maxPieceLen: Int): Seq[(String, Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.map(p => (p.piece, p.logp)))
    val counted = words.as[(String, Long)]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Double]()
        bc.value.foreach { case (p, lp) => m.put(p, lp) }
        val fb = fallbackOf(bc.value.map(_._2))
        it.flatMap { case (w, c) =>
          val out = new java.util.HashMap[String, Long]()
          expectedCounts(w, c, m, maxPieceLen, fb, out)
          import scala.jdk.CollectionConverters._
          out.asScala.iterator.map { case (p, micro) => (p, micro) }
        }
      }
      .toDF("piece", "cnt")
      .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
      .as[(String, Long)].collect() // bounded: ≤ vocab pieces
    bc.unpersist()
    counted.toSeq
  }

  /** SOFT-EM training — Kudo 2018's actual E-step (expected counts over
    * the whole lattice by forward-backward, not the single Viterbi path)
    * made any-partitioning bit-deterministic by the [[Micro]] fixed-point
    * device: each word's fractional expectations are rounded once to
    * integer micro-units, so distribution only ever sums Longs. Pruning is
    * likelihood-mass-based through the same counts — the piece budget cut
    * drops the lowest expected-mass multi-char pieces (chars immune, the
    * coverage rule), then one refit. Skeleton, seeding and tie-breaks are
    * [[train]]'s; only the E-step changes. */
  def trainSoft(spark: SparkSession, dir: String, vocabSize: Int = 64,
                seedSize: Int = 512, maxPieceLen: Int = 6, emIters: Int = 2): Seq[Piece] =
    graft.sources.ArtifactCache.memo(
      s"unisoft:$vocabSize:$seedSize:$maxPieceLen:$emIters:${graft.sources.ArtifactCache.fixtureKey(dir)}")(
      overWords(spark, dir)(trainSoftOn(_, vocabSize, seedSize, maxPieceLen, emIters)))

  /** [[trainSoft]] over an explicit (word, count) frame. */
  private def trainSoftOn(words: DataFrame, vocabSize: Int, seedSize: Int,
                          maxPieceLen: Int, emIters: Int): Seq[Piece] = {
    val seeded = seed(words, seedSize, maxPieceLen)
    var model = toModel(seeded)
    for (_ <- 1 to emIters)
      model = toModel(softCountPass(words, model, maxPieceLen))
    val kept = (model.filter(_.piece.length == 1) ++
      model.filter(_.piece.length > 1)
        .sortBy(p => (-p.count, p.piece))
        .take(math.max(0, vocabSize - model.count(_.piece.length == 1))))
      .filter(_.count > 0)
    model = toModel(softCountPass(words, kept, maxPieceLen))
    model.filter(_.count > 0)
  }

  /** Driver-local reference for [[trainSoft]]: same [[expectedCounts]],
    * same integer sums, same M-step — the parity target. */
  private[text] def trainSoftLocal(wordCounts: Array[(String, Long)], seeded: Seq[(String, Long)],
                                   vocabSize: Int = 64, maxPieceLen: Int = 6,
                                   emIters: Int = 2): Seq[Piece] = {
    def pass(vocab: Seq[Piece]): Seq[(String, Long)] = {
      val m = new java.util.HashMap[String, Double]()
      vocab.foreach(p => m.put(p.piece, p.logp))
      val fb = fallbackOf(vocab.map(_.logp))
      val out = new java.util.HashMap[String, Long]()
      wordCounts.foreach { case (w, c) => expectedCounts(w, c, m, maxPieceLen, fb, out) }
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }
    var model = toModel(seeded)
    for (_ <- 1 to emIters) model = toModel(pass(model))
    val kept = (model.filter(_.piece.length == 1) ++
      model.filter(_.piece.length > 1)
        .sortBy(p => (-p.count, p.piece))
        .take(math.max(0, vocabSize - model.count(_.piece.length == 1))))
      .filter(_.count > 0)
    model = toModel(pass(kept))
    model.filter(_.count > 0)
  }

  /** APPLY under the SOFT-EM model — the registered `text_unigram_soft`
    * query: training by expected-count EM, segmentation (as in
    * SentencePiece) still Viterbi best-path under the fitted probabilities. */
  def unigramSoftApply(spark: SparkSession, dir: String, vocabSize: Int = 64): DataFrame =
    applyWith(spark, dir, trainSoft(spark, dir, vocabSize))

  /** APPLY: segment the corpus under the trained model — per-document
    * piece statistics, one map-only broadcast pass with per-partition
    * word → piece-count memoization (the bpeApply shape). Registered as
    * the rows-only query `text_unigram_apply`. */
  def unigramApply(spark: SparkSession, dir: String, vocabSize: Int = 64): DataFrame =
    applyWith(spark, dir, train(spark, dir, vocabSize))

  /** [[unigramApply]] under an explicit frozen model (train once, apply
    * everywhere — batch or stream; the model is a broadcast table). */
  def applyWith(spark: SparkSession, dir: String, model: Seq[Piece],
                maxPieceLen: Int = 6): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.map(p => (p.piece, p.logp)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokensCol(lower(col("text"))).as("t"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Double]()
        bc.value.foreach { case (p, lp) => m.put(p, lp) }
        val fb = fallbackOf(bc.value.map(_._2))
        val memo = new java.util.HashMap[String, Integer]()
        it.map { case (id, toks) =>
          var n = 0L
          toks.foreach { w =>
            val cached = memo.get(w)
            val c = if (cached != null) cached.intValue
            else {
              val v = viterbi(w, m, maxPieceLen, fb).length
              memo.put(w, Integer.valueOf(v)); v
            }
            n += c
          }
          (id, toks.length.toLong, n)
        }
      }.toDF("doc_id", "n_tokens", "n_pieces")
  }
}
