package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.{GraftExtensions, SparkTestSession}
import graft.dedup.Dedup

class ExtensionsSpec extends AnyFunSuite {

  /** A session built with [[GraftExtensions]] over the shared context:
    * extensions bind at session build, so the session slots are cleared for
    * getOrCreate to build a NEW session, then restored. */
  lazy val spark: SparkSession = {
    val shared = SparkTestSession.spark // pin the shared context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private val abcd = Seq("array('a','b','c','d')")

  /** Per registered name: its SQL arguments, the check on its result, and
    * the static method its generated code calls. */
  private val calls: Map[String, (Seq[String], Any => Boolean, String)] = Map(
    "graft_fnv32" -> ((Seq("'abc'"), _ == Fnv32.hash("abc"), "Fnv32.hashBytes")),
    "graft_minhash_sig" -> ((Seq("array('a b c', 'b c d')"),
      _ == Dedup.minhashSig(Set("a b c", "b c d")).toSeq, "MinHash.computeArray")),
    "graft_minhash_tokens" -> ((abcd,
      _ == Dedup.minhashSig(Dedup.shingles(Seq("a", "b", "c", "d"))).toSeq,
      "MinHash.computeFromTokens")),
    "graft_pos_eq_count" -> ((Seq("array(1L, 2L, 3L)", "array(1L, 5L, 3L, 4L)"), _ == 2,
      "SetOps.posEqCountLong")),
    "graft_simhash_tokens" -> ((abcd, _ == Dedup.simhash(Seq("a", "b", "c", "d")),
      "TextHash.simhashArray")),
    "graft_fingerprint_tokens" -> ((Seq("array('a','b','c','d','e','f','g')"),
      _ == Dedup.fingerprintsScalar(Seq("a", "b", "c", "d", "e", "f", "g"), 5, 4).toSeq,
      "TextHash.fingerprintsFromTokens")),
    "graft_shingle_hashes" -> ((abcd,
      _ == Dedup.shingles(Seq("a", "b", "c", "d")).map(Dedup.fnv64).toSeq.sorted,
      "TextHash.shingleHashesFromTokens")),
    "graft_sorted_intersect_count" -> ((Seq("array(1L, 3L, 5L)", "array(3L, 4L, 5L)"),
      _ == 2, "SetOps.intersectCountLong")),
    // grams of (a b a b): bigrams [ab, ba, ab] -> max mult 2, n 3;
    // trigrams [aba, bab] -> n 2, distinct 2
    "graft_gram_stats" -> ((Seq("array('a','b','a','b')"), _ == Seq(2L, 3L, 2L, 2L),
      "TextHash.gramStatsFromTokens")),
    "graft_sq8_stats" -> ((Seq("array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))"),
      _.asInstanceOf[collection.Seq[Double]].head == 2.0 / 127.0, "Quantize.sq8Stats")),
    "graft_cosine6" -> ((Seq("array(3.0D, 0.0D)", "array(3.0D, 4.0D)"), _ == 0.6,
      "VecOps.cosine6")))

  test("GraftExtensions injects SQL functions at session build time") {
    val names = GraftExtensions.Functions.map(_.name)
    assert(names.toSet == calls.keySet && names.distinct == names)
    val row = spark.sql(names.map(n => s"$n(${calls(n)._1.mkString(", ")}) AS $n")
      .mkString("SELECT ", ", ", "")).collect()(0)
    names.zipWithIndex.foreach { case (n, i) =>
      assert(calls(n)._2(row.get(i)), s"$n returned ${row.get(i)}")
    }
  }

  test("every registered graft_* function is one static call inside whole-stage codegen") {
    import org.apache.spark.sql.execution.debug.codegenString
    GraftExtensions.Functions.foreach { f =>
      val (args, check, kernel) = calls(f.name)
      // each argument depends on the row, so nothing is constant-folded away
      val df = spark.sql(args.map(a => s"IF(id < 0, NULL, $a)")
        .mkString(s"SELECT ${f.name}(", ", ", ") AS v FROM range(4)"))
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("*(1) Project"), s"${f.name}:\n$plan")
      assert(codegenString(plan).contains(s"graft.functions.$kernel("), f.name)
      df.collect().foreach(r => assert(check(r.get(0)), s"${f.name} returned ${r.get(0)}"))
    }
  }

  test("a wrong argument count is a clean WRONG_NUM_ARGS analysis error naming the function") {
    GraftExtensions.Functions.foreach { f =>
      Seq(f.arity - 1, f.arity + 1).foreach { n =>
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT ${f.name}(${Seq.fill(n)("NULL").mkString(", ")})").collect()
        }
        assert(e.getMessage.contains("WRONG_NUM_ARGS") && e.getMessage.contains(f.name),
          s"${f.name} with $n arguments: ${e.getMessage}")
      }
    }
  }

  test("sq8_stats pins its degenerate contracts") {
    // a null ELEMENT nulls the whole sq8 result
    assert(spark.sql(
      "SELECT graft_sq8_stats(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)))")
      .collect()(0).isNullAt(0))
    // an empty vector defines scale 0, mse 0, max_err 0
    assert(spark.sql(
      "SELECT graft_sq8_stats(CAST(array() AS ARRAY<FLOAT>))")
      .collect()(0).getSeq[Double](0) == Seq(0.0, 0.0, 0.0))
  }
}
