package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  test("fnv64 is deterministic and spreads") {
    assert(Dedup.fnv64("abc") == Dedup.fnv64("abc"))
    assert(Dedup.fnv64("abc") != Dedup.fnv64("abd"))
  }

  test("minhash estimates jaccard within tolerance on synthetic sets") {
    val a = (1 to 100).map(i => s"sh$i").toSet
    val variants = Seq(0.9, 0.5, 0.2).map { j =>
      // build b with |a∩b|/|a∪b| ≈ j by replacing elements
      val keep = (2.0 * j / (1 + j) * 100).toInt
      val b = a.take(keep) ++ (1 to (100 - keep)).map(i => s"other$i")
      (j, b)
    }
    val sigA = Dedup.minhashSig(a)
    variants.foreach { case (_, b) =>
      val sigB = Dedup.minhashSig(b)
      val est = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / Dedup.NumHashes
      val trueJ = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(est - trueJ) < 0.2, s"est=$est true=$trueJ")
    }
  }

  test("identical docs always collide in LSH and estimate 1.0") {
    val sig1 = Dedup.minhashSig(Set("x y z", "y z w"))
    val sig2 = Dedup.minhashSig(Set("x y z", "y z w"))
    assert(sig1.toSeq == sig2.toSeq)
  }

  test("minhashLsh pairs have high true shingle jaccard (no false positives above threshold)") {
    val pairs = Dedup.minhashLsh(spark, sf, threshold = 0.8).collect()
    // verify each flagged pair against exact shingle jaccard
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Dedup.shingles(
        graft.mr.Tokenize(r.getString(1).toLowerCase).toSeq)).toMap
    pairs.foreach { p =>
      val (a, b) = (docs(p.d1), docs(p.d2))
      val trueJ = a.intersect(b).size.toDouble / a.union(b).size
      assert(trueJ > 0.5, s"pair ${p.d1},${p.d2}: est=${p.est_jaccard} true=$trueJ")
    }
  }

  test("prefix-filtered tokenJaccard is lossless vs the naive full self-join") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fast = canon(Dedup.tokenJaccard(spark, sf, threshold = 0.6))
    val naive = canon(Dedup.tokenJaccardNaive(spark, sf, threshold = 0.6))
    assert(fast == naive)
    assert(fast.nonEmpty)
  }

  test("typed minhashSig and native minhash_sig expression agree bit-for-bit") {
    import org.apache.spark.sql.functions._
    val fromExpr = Dedup.signaturesDF(spark, sf).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    fromExpr.foreach { case (id, sig) =>
      val typed = Dedup.minhashSig(
        Dedup.shingles(graft.mr.Tokenize(docs(id)).toSeq)).toSeq
      assert(sig == typed, s"doc $id: expression and typed signatures differ")
    }
  }

  test("minhash_sig survives interpreted eval (non-codegen) identically") {
    import org.apache.spark.sql.functions._
    val sh = Seq("a b c", "b c d", "c d e")
    val interp = graft.functions.MinHash.computeArray(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        sh.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
      .toLongArray().toSeq
    assert(interp == Dedup.minhashSig(sh.toSet).toSeq)
  }

  test("simhash hamming distance small for near-identical token lists") {
    val t = (1 to 200).map(i => s"tok$i")
    val d1 = Dedup.simhash(t)
    val d2 = Dedup.simhash(t.drop(2) :+ "extra")
    val far = Dedup.simhash((1 to 200).map(i => s"zzz$i"))
    assert(java.lang.Long.bitCount(d1 ^ d2) <= 12)
    assert(java.lang.Long.bitCount(d1 ^ far) > 12)
  }

  test("simhashDups finds identical documents") {
    val dups = Dedup.simhashDups(spark, sf, maxDist = 0).collect()
    // exact text duplicates must appear with distance 0
    val texts = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exactDupPairs = texts.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => g.keys.toSeq.sorted.combinations(2).map(c => (c(0), c(1)))).toSet
    val found = dups.map(p => (p.d1, p.d2)).toSet
    exactDupPairs.foreach(p => assert(found.contains(p), s"missed exact dup $p"))
  }

  test("simhash overflow buckets drop WHOLE, never truncate (LSH-consistent cap)") {
    import spark.implicits._
    // three identical sims land in one bucket per chunk; maxBucket=2 must
    // drop the bucket entirely — truncation (the old take(maxBucket)) would
    // still emit the (1,2) pair, biased toward low doc_ids
    val sims = spark.createDataset(Seq(
      Dedup.DocSim(1, 0x1234L), Dedup.DocSim(2, 0x1234L), Dedup.DocSim(3, 0x1234L),
      Dedup.DocSim(10, 0x777700000000L), Dedup.DocSim(11, 0x777700000000L)))
    val pairs = Dedup.simhashPairsOf(sims, maxDist = 3, maxBucket = 2).collect()
    // doc 1/2/3 share EVERY chunk bucket (all dropped); 10/11 share theirs
    // (size 2 <= cap) and must still pair
    assert(pairs.map(p => (p.d1, p.d2)).toSet == Set((10L, 11L)), pairs.toSeq.toString)
  }

  test("droppedBuckets is empty at fixture scale (caps lose nothing)") {
    assert(Dedup.droppedBuckets(spark, sf).count() == 0)
  }

  test("connectedComponents equals driver-side union-find on random graphs (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(13, 29, 71)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // driver-side union-find truth; union always points the larger root at
      // the smaller, so roots ARE component minima
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(v => v.toLong -> find(v).toLong).toMap
      val got = Dedup.connectedComponents(
          edges.toDF("d1", "d2"), (0L until n.toLong).toDF("node"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("connectedComponents converges on a 300-deep path within 12 rounds (pointer jumping)") {
    import spark.implicits._
    // plain min-propagation needs ~300 rounds here; the label-of-label jump
    // doubles reach per round, so 12 rounds (2^12 >> 300) must suffice —
    // this test fails with require(converged) if the jump regresses
    val path = (0L until 300L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(path.toDF("d1", "d2"),
        (0L to 300L).toDF("node"), maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
    assert(got.size == 301)
  }

  test("nearDupComponents: canonical ids are component minima, keep iff canonical") {
    val rows = Dedup.nearDupComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == graft.Tables.documents(spark, sf).count())
    rows.foreach { case (doc, canon, keep) =>
      assert(canon <= doc)
      assert(keep == (doc == canon))
    }
    // every canonical id keeps itself
    val canons = rows.map(_._2).toSet
    val keepers = rows.filter(_._3).map(_._1).toSet
    assert(canons.subsetOf(keepers))
  }

  test("shingle fingerprints: identical docs share all fingerprints") {
    val fps = Dedup.shingleFingerprints(spark, sf).collect().map(f => f.doc_id -> f.fps.toSeq).toMap
    val texts = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.groupBy(_._2).values.filter(_.size > 1).foreach { g =>
      val ids = g.keys.toSeq
      assert(ids.map(fps).distinct.size == 1)
    }
  }

  test("span overlap: one corpus scan, two exchanges, exact dups at dup_frac 1.0") {
    val df = Dedup.spanOverlap(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"span overlap must scan the corpus once:\n${plan.take(1500)}")
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"span overlap is two map-side-combined hash aggs, no join:\n${plan.take(1500)}")
    val rows = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val texts = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == texts.size, "one row per document, including clean ones")
    // an exact duplicate's every span is duplicated
    texts.groupBy(_._2).values.filter(_.size > 1).flatMap(_.keys).foreach { id =>
      assert(rows(id)._3 == 1.0, s"exact-dup doc $id has dup_frac ${rows(id)._3}")
    }
    // fractions are consistent counts
    rows.foreach { case (id, (n, d, f)) =>
      assert(d >= 0 && d <= n && f == d.toDouble / n, s"doc $id inconsistent")
    }
  }

  test("native simhash/fingerprint expressions equal the scalar twins on the corpus") {
    import org.apache.spark.sql.functions.lower
    // the scalar re-derivation, driver-side, over the same tokenization
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.text.TextAnalysis.tokensCol(lower(col("text"))).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(toks.nonEmpty)
    val sims = Dedup.simhashes(spark, sf).collect()
    assert(sims.length == toks.size)
    sims.foreach(d => assert(d.sim == Dedup.simhash(toks(d.doc_id)), s"doc ${d.doc_id}"))
    val fps = Dedup.shingleFingerprints(spark, sf).collect()
    fps.foreach(f => assert(f.fps.toSeq ==
      Dedup.fingerprintsScalar(toks(f.doc_id), 5, 4).toSeq, s"doc ${f.doc_id}"))
  }

  test("span extents: maximal duplicated-span runs equal a driver-local string-gram reference") {
    import org.apache.spark.sql.functions.lower
    val w = 5
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.text.TextAnalysis.tokensCol(lower(col("text"))).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // positional gram STRINGS (whole-doc gram when n < w) — independent of
    // the hashed expression under test
    def grams(ts: Seq[String]): Seq[String] =
      if (ts.length < w) Seq(ts.mkString(" "))
      else ts.sliding(w).map(_.mkString(" ")).toSeq
    val counts = toks.valuesIterator.flatMap(grams)
      .foldLeft(Map.empty[String, Int])((m, g) => m.updated(g, m.getOrElse(g, 0) + 1))
    val want = toks.flatMap { case (id, ts) =>
      val ps = grams(ts).zipWithIndex.collect { case (g, p) if counts(g) >= 2 => p }
      val runs = ps.foldLeft(List.empty[(Int, Int, Int)]) { // (start, lastPos, nGrams)
        case ((s, last, n) :: rest, p) if p - last <= w => (s, p, n + 1) :: rest
        case (acc, p) => (p, p, 1) :: acc
      }.reverse
      runs.map { case (s, last, n) =>
        (id, s.toLong, math.min(last + w - 1, ts.length - 1).toLong, n.toLong) }
    }.toSet
    val got = Dedup.spanExtents(spark, sf, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(want.nonEmpty, "fixture has no duplicated spans — degenerate")
    assert(want.exists(_._4 >= 2), "no multi-gram merged runs — merge logic untested")
    assert(got == want, s"got-only=${(got -- want).take(5)} want-only=${(want -- got).take(5)}")
  }

  test("span clean: excision equals driver-side cut of the (oracle-checked) extents") {
    import org.apache.spark.sql.functions.lower
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.text.TextAnalysis.tokensCol(lower(col("text"))).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val extents = Dedup.spanExtents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(x => (x._2, x._3)).sorted.toSeq }
    val got = Dedup.spanClean(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.size == toks.size)
    var excisedDocs = 0
    toks.foreach { case (id, ts) =>
      val spans = extents.getOrElse(id, Seq.empty[(Long, Long)])
      val kept = ts.zipWithIndex.collect {
        case (w, i) if !spans.exists(s => s._1 <= i && i <= s._2) => w
      }
      if (kept.length < ts.length) excisedDocs += 1
      val want = (ts.length.toLong, (ts.length - kept.length).toLong, kept.mkString(" "))
      assert(got(id) == want, s"doc $id: got=${got(id)} want=$want")
    }
    assert(excisedDocs > 0, "no doc had anything excised — composition untested")
  }

  test("excise_spans expression: hand cases incl. empty, passed, and full spans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit}
    def run(toks: Seq[String], spans: Seq[(Long, Long)]): Seq[String] =
      Seq(toks).toDF("t").select(graft.functions.SpanOps.exciseSpansCol(col("t"),
          array(spans.map(s => lit(s._1)): _*).cast("array<bigint>"),
          array(spans.map(s => lit(s._2)): _*).cast("array<bigint>")).as("k"))
        .collect().head.getSeq[String](0)
    val t = Seq("a", "b", "c", "d", "e")
    assert(run(t, Seq.empty) == t)                        // no spans
    assert(run(t, Seq((1L, 2L))) == Seq("a", "d", "e"))   // interior span
    assert(run(t, Seq((0L, 4L))) == Seq.empty)            // full coverage
    assert(run(t, Seq((0L, -1L))) == t)                   // empty interval (n=0 doc convention)
    assert(run(t, Seq((0L, 0L), (3L, 4L))) == Seq("b", "c")) // two disjoint spans
    assert(run(Seq.empty[String], Seq((0L, 4L))) == Seq.empty) // empty tokens
  }

  test("incremental jaccard: exactly the cross-split subset of the naive all-pairs truth") {
    val naive = Dedup.tokenJaccardNaive(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val m = graft.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val cut = m - m / 5 // divide-first, mirroring incrementalJaccard
    // reorient the naive d1<d2 pairs to (base, delta); intra-side pairs drop
    val want = naive.flatMap { case (a, b, j) =>
      (a <= cut, b <= cut) match {
        case (true, false) => Some((a, b, j)) // base, delta
        case (false, true) => Some((b, a, j))
        case _             => None            // both same side
      }
    }.toSet
    val got = Dedup.incrementalJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fixture has no cross-split near-dup pairs — degenerate")
    assert(got == want, s"got-only=${(got -- want).take(5)} want-only=${(want -- got).take(5)}")
    // the incremental set is strictly smaller work than the full dedup
    assert(got.size < naive.length)
  }

  test("source dup rate: covers the corpus, drop set == greedy jaccard drops, exact rates") {
    val out = Dedup.sourceDupRate(spark, sf).collect()
    val rows = out.map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_dropped"), r.getAs[Double]("dup_rate")))
    // every document is counted exactly once across sources
    assert(rows.map(_._2).sum == graft.Tables.documents(spark, sf).count())
    // the corpus-wide drop total is the distinct set of greedy-dropped docs
    val dropped = Dedup.tokenJaccard(spark, sf).select("d2").distinct().count()
    assert(dropped > 0, "fixture has no near-dup pairs — rate spec degenerate")
    assert(rows.map(_._3).sum == dropped)
    // the published rate is exactly round(n_dropped / n_docs, 6)
    rows.foreach { case (src, n, d, rate) =>
      val expect = BigDecimal(d.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rate == expect, s"source $src")
    }
  }

  test("paragraphDedup: first occurrence of the planted boilerplate wins, later copies drop") {
    val out = Dedup.paragraphDedup(spark, sf)
      .select(col("doc_id"), col("n_paras"), col("n_kept")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0 is the lexicographically-first (doc_id, para_idx) holder of the
    // boilerplate paragraph — it keeps all of its paragraphs
    assert(out(0L)._1 == out(0L)._2)
    // every later doc_id % 7 == 0 doc carries the planted duplicate and
    // must lose at least that one paragraph
    val laterPlanted = out.keys.filter(d => d % 7 == 0 && d > 0)
    assert(laterPlanted.nonEmpty)
    laterPlanted.foreach { d =>
      assert(out(d)._2 < out(d)._1, s"doc $d kept all paragraphs")
    }
    // kept counts never exceed totals and no doc loses everything it owns
    // uniquely: total kept == number of distinct paragraphs corpus-wide
    assert(out.values.forall { case (n, k) => k <= n && k >= 0 })
  }

  test("dedup_containment prefix filter is lossless vs the naive all-gram join") {
    import org.apache.spark.sql.functions._
    // naive truth: full gram self-join (the oracle's shape), hash-space
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextHash.shingleHashesCol(
          graft.text.TextAnalysis.tokensCol(lower(col("text"))), 5).as("gs"))
      .filter(size(col("gs")) > 0)
    val g = docs.select(col("doc_id"), size(col("gs")).cast("bigint").as("n"),
      explode(col("gs")).as("g"))
    val naive = g.select(col("doc_id").as("d1"), col("n").as("n1"), col("g"))
      .join(g.select(col("doc_id").as("d2"), col("g")), Seq("g"))
      .filter(col("d1") =!= col("d2"))
      .groupBy(col("d1"), col("d2"), col("n1")).agg(count(lit(1)).as("shared"))
      .filter(col("shared").cast("double") / col("n1") >= 0.5)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got.map(t => (t._1, t._2)).toSet == naive,
      s"prefix filter lost/invented pairs: got ${got.size}, naive ${naive.size}")
    // every reported pair satisfies its own predicate with exact counts
    got.foreach { case (d1, d2, n, shared) =>
      assert(shared <= n && shared * 2 >= n, s"($d1,$d2) fails containment arithmetic")
    }
  }

  test("dedup_normalized collapses the formatting variants raw hashing misses") {
    val docs = graft.Tables.documents(spark, sf)
    // raw-exact dedup sees nothing on this corpus
    val exactGroups = Dedup.exact(spark, sf).filter(col("n_dups") > 1).count()
    assert(exactGroups == 0, "fixture unexpectedly grew raw exact dups")
    val groups = Dedup.normalized(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val nUpper = docs.filter(col("doc_id") % 40 === 0).count()
    val nPunct = docs.filter(col("doc_id") % 40 === 20).count()
    assert(groups.length == nUpper + nPunct, "one group per planted variant")
    groups.foreach { case (keepId, nDocs, nRaw, members) =>
      assert(nDocs == 2 && nRaw == 2, s"group $keepId not a {base, variant} pair")
      val ids = members.split(',').map(_.toLong)
      assert(ids.head == keepId, "canonical keep must lead the sorted roster")
      assert(ids(1) == keepId + 10000000L || ids(1) == keepId + 20000000L,
        s"group $keepId pairs unrelated docs: $members")
    }
  }
}
