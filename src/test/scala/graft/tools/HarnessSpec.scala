package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Checkpoints, SparkTestSession}

/** The per-query turn every registry main shares ([[Harness.runEach]]),
  * driven with a fake registry and the smoke's full-result `noop` write. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private def run(builders: (String, Harness.Builder)*): Seq[Harness.Turn[Unit]] =
    Harness.runEach(spark, "harnessspec", sf, builders)((_, df) => Harness.writeNoop(df))

  test("a tracked checkpoint the result reads is freed after its turn") {
    val sc = spark.sparkContext
    var ckId = -1
    val pinned: Harness.Builder = (s, _) => {
      val ck = Checkpoints.track(s.range(50).toDF("id").localCheckpoint(true))
      ckId = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
      ck.select((col("id") * 2).as("x"))
    }
    val turns = Harness.runEach(spark, "harnessspec", sf, Seq("pinned" -> pinned)) { (_, df) =>
      Harness.writeNoop(df)
      sc.getPersistentRDDs.contains(ckId)
    }
    assert(turns.map(_.result) == Seq(Right(true)), "the checkpoint was not pinned while read")
    assert(!sc.getPersistentRDDs.contains(ckId), "the drain left the checkpoint pinned")
    assert(turns.head.leaked == 0)
  }

  test("a failure is reported by its root cause's first line and the next builder still runs") {
    val fails: Harness.Builder = (_, _) =>
      throw new RuntimeException("outer", new IllegalStateException("root cause\nsecond line"))
    val next: Harness.Builder = (s, _) => s.range(3).toDF("id")
    val turns = run("fails" -> fails, "next" -> next)
    assert(turns.map(_.name) == Seq("fails", "next"))
    assert(turns.head.result == Left("java.lang.IllegalStateException: root cause"))
    assert(turns(1).result == Right(()))
  }

  test("an RDD a builder leaves persisted is reported as a leak") {
    var kept: DataFrame = null
    val leaky: Harness.Builder = (s, _) => {
      kept = s.range(20).toDF("id").persist()
      kept.count()
      kept
    }
    val turns = run("leaky" -> leaky)
    try {
      assert(turns.head.result == Right(()))
      assert(turns.head.leaked == 1)
    } finally kept.unpersist(blocking = true)
  }

  test("an executor-side failure in an output column that count() would prune fails the turn") {
    val raises: Harness.Builder = (s, _) =>
      s.range(10).selectExpr("id", "if(id >= 0, raise_error('boom'), 'x') as b")
    val turns = run("raises" -> raises)
    val result = turns.head.result
    assert(result.isLeft, "the failing column was never computed")
    assert(result.swap.exists(_.contains("boom")), result.toString)
  }
}
