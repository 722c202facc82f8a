package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The one size rule of [[Tables.spreadSmall]] and [[Tables.materializeSmall]]:
  * at most `SmallBytes` (64 MiB) of estimated input they act, above it they
  * hand the frame back untouched. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Estimated at 80 MiB (8 bytes per row): above the threshold. */
  private def big = spark.range(10L << 20).toDF("id")

  test("spreadSmall hash-spreads a few-KB frame to exactly defaultParallelism partitions") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1)
    val small = spark.range(500).toDF("id")
    assert(Tables.sizeOf(small) < 8192)
    val spread = Tables.spreadSmall(small, col("id"))
    val reps = spread.queryExecution.analyzed.collect { case r: RepartitionByExpression => r }
    assert(reps.size == 1, spread.queryExecution.analyzed)
    assert(reps.head.numPartitions == cores)
    assert(reps.head.partitionExpressions.map(_.asInstanceOf[AttributeReference].name) == Seq("id"))
    assert(spread.rdd.getNumPartitions == cores)
    assert(spread.count() == 500L)
  }

  test("spreadSmall returns a frame estimated above 64 MiB with the same plan") {
    val b = big
    assert(Tables.sizeOf(b) > (64L << 20))
    assert(Tables.spreadSmall(b, col("id")).queryExecution.analyzed == b.queryExecution.analyzed)
  }

  test("materializeSmall: a tracked checkpoint below the threshold, the frame itself above") {
    val sc = spark.sparkContext
    Checkpoints.releaseTracked()
    val held = sc.getPersistentRDDs.keySet
    val chk = Tables.materializeSmall(spark.range(100).toDF("id"))
    assert(chk.queryExecution.analyzed.isInstanceOf[LogicalRDD], chk.queryExecution.analyzed)
    val pinned = sc.getPersistentRDDs.keySet -- held
    assert(pinned.size == 1, "the checkpoint pins its blocks")
    assert(chk.count() == 100L)
    Checkpoints.releaseTracked()
    assert((sc.getPersistentRDDs.keySet & pinned).isEmpty, "the drain did not free the checkpoint")
    val b = big
    assert(Tables.materializeSmall(b) eq b)
  }
}
