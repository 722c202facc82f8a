package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class SetOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("sorted_intersect_count(string) == |A ∩ B| for random sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toString).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toString).distinct.sorted
      (a, b, a.toSet.intersect(b.toSet).size)
    }
    val rows = cases.toDF("a", "b", "want")
      .select(SetOps.sortedIntersectCountCol(col("a"), col("b")).as("got"), col("want"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("sorted_intersect_count(bigint) == |A ∩ B|, including negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cases = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextLong() % 20L).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextLong() % 20L).distinct.sorted
      (a, b, a.toSet.intersect(b.toSet).size)
    }
    val rows = cases.toDF("a", "b", "want")
      .select(SetOps.sortedIntersectCountCol(col("a"), col("b")).as("got"), col("want"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("string order agrees with array_sort: merge == size(array_intersect)") {
    import spark.implicits._
    // non-ASCII + prefixes exercise UTF8String binary comparison vs array_sort
    val pool = Seq("a", "ab", "abc", "b", "ß", "日本", "日本語", "z", "Z", "0", "")
    val rnd = new scala.util.Random(13)
    val cases = (1 to 100).map { _ =>
      (Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.size))).distinct,
        Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.size))).distinct)
    }
    val rows = cases.toDF("a", "b")
      .select(
        SetOps.sortedIntersectCountCol(array_sort(col("a")), array_sort(col("b"))).as("got"),
        size(array_intersect(col("a"), col("b"))).as("want"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("sorted_intersect_count stays inside whole-stage codegen") {
    import spark.implicits._
    val df = spark.range(100).select(
      SetOps.sortedIntersectCountCol(
        array($"id", $"id" + 50), array($"id" + 50, $"id" + 100)).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect().forall(_.getInt(0) == 1))
  }

  test("sq8_stats: quantized values fit int8, error bounded by scale/2") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (1 to 100).map(_ => Array.fill(64)((rnd.nextFloat() - 0.5f) * 20f)) :+
      Array.fill(64)(0.0f) // all-zero edge: scale 0, zero error
    val rows = vecs.toDF("x")
      .select(Quantize.sq8StatsCol(col("x")).as("s")).collect()
      .map(_.getSeq[Double](0))
    vecs.zip(rows).foreach { case (x, Seq(scale, mse, maxErr)) =>
      val wantScale = x.map(v => math.abs(v.toDouble)).max / 127.0
      assert(scale == wantScale)
      if (scale == 0.0) { assert(mse == 0.0 && maxErr == 0.0) }
      else {
        // round-half-up quantization error is at most scale/2 per element
        assert(maxErr <= scale / 2 + 1e-15, s"maxErr=$maxErr scale=$scale")
        assert(mse <= maxErr * maxErr + 1e-15)
        // quantized codes stay in [-127, 127]
        x.foreach { v =>
          val q = math.floor(v / scale + 0.5)
          assert(q >= -127 && q <= 127)
        }
      }
    }
  }

  test("gram_stats == string-gram recomputation on random token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff")
    val docs = (1 to 120).map(_ => Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    val got = docs.toDF("tk")
      .select(TextHash.gramStatsCol(col("tk")).as("gs"))
      .collect().map(_.getSeq[Long](0))
    docs.zip(got).foreach { case (tk, gs) =>
      val bi = tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val tri = tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val g2max = if (bi.isEmpty) 0L else bi.groupBy(identity).values.map(_.length).max.toLong
      assert(gs == Seq(g2max, bi.length.toLong, tri.length.toLong, tri.distinct.length.toLong),
        s"tokens=$tk")
    }
  }

  /** Edge cases shared by the three window-hash kernels, w = 3. A null
    * element hashes as the empty token. */
  private val edgeDocs = Seq(
    Seq("the", "quick", "brown", "fox", "jumps"),
    Seq("a", "b"),                       // n < w → one whole-doc window
    Seq("solo"),                         // single token
    Seq.empty[String],                   // n = 0
    Seq("x", "x", "x", "x", "x"),        // duplicate shingles
    Seq("a", null, "b", "c"),            // null element
    Seq("käse", "日本語", "😀", "naïve")) // non-ASCII, a surrogate pair included

  private def blank(toks: Seq[String]): Seq[String] = toks.map(s => if (s == null) "" else s)

  /** fnv64 of the string windows of `toks` in position order, formed as
    * `Dedup.shingles` forms them: n < 3 (n = 0 included) is one window. */
  private def windows(toks: Seq[String]): Seq[Long] = {
    val t = blank(toks)
    (if (t.length < 3) Seq(t) else t.sliding(3).toSeq)
      .map(x => graft.dedup.Dedup.fnv64(x.mkString(" ")))
  }

  private def edgeHashes(
      kernel: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Seq[Long]] = {
    import spark.implicits._
    edgeDocs.toDF("toks").select(kernel(col("toks"))).collect().map(_.getSeq[Long](0)).toSeq
  }

  test("shingle_hashes == sorted distinct fnv64 of the string shingles") {
    assert(edgeHashes(TextHash.shingleHashesCol(_)) == edgeDocs.map { toks =>
      graft.dedup.Dedup.shingles(blank(toks)).map(graft.dedup.Dedup.fnv64).toSeq.sorted
    })
  }

  test("positional_shingle_hashes == fnv64 of each string window in position order") {
    assert(edgeHashes(TextHash.positionalShingleHashesCol(_, 3)) == edgeDocs.map(windows(_)))
  }

  test("fingerprint_tokens == the masked, distinct, sorted fnv64 of the string windows") {
    Seq(1, 2, 4).foreach { keepMod =>
      assert(edgeHashes(TextHash.fingerprintTokensCol(_, 3, keepMod)) == edgeDocs.map { toks =>
        if (toks.isEmpty) Seq.empty[Long]
        else windows(toks).filter(h => (h & (keepMod - 1)) == 0).distinct.sorted
      }, s"keepMod=$keepMod")
    }
  }
}
