package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class FnvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // FNV-1a reference vectors (public constants; cross-checked against the
  // canonical C implementation): fnv1a32("") = 0x811c9dc5,
  // fnv1a32("a") = 0xe40c292c, fnv1a32("foobar") = 0xbf9cf968.
  // The engine masks to 31 bits like the reference's ihash.
  test("fnv32 matches FNV-1a reference vectors (31-bit masked)") {
    assert(Fnv32.hash("") == (0x811c9dc5 & 0x7fffffff))
    assert(Fnv32.hash("a") == (0xe40c292c & 0x7fffffff))
    assert(Fnv32.hash("foobar") == (0xbf9cf968 & 0x7fffffff))
  }

  test("fnv32 column expression evaluates identically to the scala impl") {
    import spark.implicits._
    val words = Seq("", "a", "foobar", "käse", "日本語", "hello world").toDF("w")
    val rows = words.select($"w", Fnv32.fnv32($"w").as("h")).collect()
    rows.foreach { r =>
      assert(r.getInt(1) == Fnv32.hash(r.getString(0)), r.getString(0))
    }
  }

  test("fnv32 stays inside whole-stage codegen") {
    import spark.implicits._
    // spark.range (not a local Seq, which Catalyst collapses to a
    // LocalTableScan) so the projection actually goes through codegen
    val df = spark.range(100).select(Fnv32.fnv32($"id".cast("string")).as("h"))
    // "*(n)" is the simple-string marker for a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect().map(_.getInt(0)).toSeq ==
      (0L until 100L).map(i => Fnv32.hash(i.toString)))
  }

  test("mrBucket routes every key into [0, nReduce)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => s"key-$i").toDF("k")
      .select(Fnv32.mrBucket($"k").as("b"))
    val buckets = df.agg(min($"b"), max($"b"), countDistinct($"b")).collect()(0)
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) < 10)
    assert(buckets.getLong(2) == 10L) // all 10 buckets hit on 1000 keys
  }
}
