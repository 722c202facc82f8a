package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}

import graft.SparkTestSession
import graft.sim.Similarity

/** The fused kNN join ([[KnnJoin]]) against a driver-local brute force:
  * every vector's k nearest others, self excluded, ranked by (raw cosine
  * desc, id asc), the cosine rounded to 6 decimals after ranking. Edges are
  * compared as sorted sequences, so an edge emitted twice fails as surely
  * as a missing one. */
class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private type Edge = (Long, Long, Double, Int)

  private def edges(df: DataFrame): Seq[Edge] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  private def brute(vecs: Seq[(Long, Array[Float])], k: Int): Seq[Edge] =
    vecs.flatMap { case (q, qe) =>
      vecs.filter(_._1 != q)
        .map { case (id, e) => (id, Similarity.cosine(qe, e)) }
        .sortBy { case (id, c) => (-c, id) }.take(k)
        .zipWithIndex.map { case ((id, c), r) =>
          (q, id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, r + 1)
        }
    }.sorted

  private def frame(vecs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding").repartition(4)
  }

  /** `SparkPlan.collect` stops at AQE / query-stage leaves; walk through
    * them so assertions see the plan that actually ran. */
  private def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val through = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    pf.lift(p).toSeq ++ through.flatMap(deepCollect(_)(pf))
  }

  private lazy val fixture: Seq[(Long, Array[Float])] =
    Similarity.vectors(spark, sf).collect().map(v => (v.vec_id, v.embedding)).toSeq

  test("fixture: equal to the brute force at maxBlock 7 and 1 << 20, and at k above a group's size") {
    val vecs = Similarity.vectors(spark, sf).toDF()
    assert(fixture.size > 4 * 7, s"only ${fixture.size} vectors: maxBlock 7 makes too few chunks")
    for ((k, maxBlock) <- Seq(3 -> 7, 3 -> (1 << 20), 20 -> 7)) {
      val got = edges(KnnJoin.edges(vecs, k, maxBlock))
      assert(got == brute(fixture, k), s"k=$k maxBlock=$maxBlock")
    }
    // k = 20 against groups of about 2·7 vectors: every vector still gets
    // all 20, which no single group holds
    assert(edges(KnnJoin.edges(vecs, 20, 7)).groupBy(_._1).values.forall(_.size == 20))
  }

  /** Four distinct directions repeated over ids 1..24 (six exact copies
    * each), plus a zero vector (cosine 0 to everything). */
  private val duplicates: Seq[(Long, Array[Float])] = {
    val dirs = Seq(Array(1f, 0f, 0f, 0f), Array(1f, 1f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(1f, 1f, 1f, 0f))
    (1L to 24L).map(id => id -> dirs((id % 4).toInt).clone()) :+ (25L -> Array.fill(4)(0f))
  }

  test("duplicate embeddings: a tie straddling k inside one group and across groups") {
    val df = frame(duplicates)
    // five copies of each vector tie at cosine 1, so k = 3 cuts every tie;
    // maxBlock 1 << 20 keeps them in one group, maxBlock 2 spreads them
    // over 13 chunks
    for (k <- Seq(3, 7); maxBlock <- Seq(1 << 20, 2)) {
      val got = edges(KnnJoin.edges(df, k, maxBlock))
      assert(got == brute(duplicates, k), s"k=$k maxBlock=$maxBlock")
    }
    val top = edges(KnnJoin.edges(df, 3, 2)).filter(_._1 == 4L)
    assert(top == Seq((4L, 8L, 1.0, 1), (4L, 12L, 1.0, 2), (4L, 16L, 1.0, 3)))
  }

  test("the sampled registered form equals the full form at spec sf") {
    val sampled = edges(Similarity.knnGraph(spark, sf, k = 3, sampleN = 2000).toDF())
    assert(sampled == edges(Similarity.knnGraph(spark, sf, k = 3).toDF()))
    assert(sampled == brute(fixture, 3))
  }

  test("sim_knn_graph plans no typed stage and <= 2 shuffles; its work shows in explain") {
    import org.apache.spark.sql.execution.{AppendColumnsWithObjectExec, DeserializeToObjectExec, MapGroupsExec, MapPartitionsExec, SerializeFromObjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.SparkEntry.queries("sim_knn_graph")(spark, sf)
    val rows = df.collect().length
    assert(rows == 3 * fixture.size)
    val plan = df.queryExecution.executedPlan
    val typed = deepCollect(plan) {
      case p @ (_: DeserializeToObjectExec | _: SerializeFromObjectExec | _: MapPartitionsExec |
                _: AppendColumnsWithObjectExec | _: MapGroupsExec) => p.nodeName
    }
    assert(typed.isEmpty, plan.toString)
    assert(deepCollect(plan) { case e: ShuffleExchangeLike => e }.size <= 2, plan.toString)
    val merge = deepCollect(plan) { case m: KnnMergeExec => m }
    assert(merge.size == 1, plan.toString)
    assert(merge.head.metrics("numOutputRows").value == rows)
    val block = deepCollect(plan) { case b: KnnBlockExec => b }.head
    val n = fixture.size.toLong
    assert(block.metrics("pairsScored").value == n * (n - 1) / 2)
    val formatted = df.queryExecution.explainString(FormattedMode)
    assert(formatted.contains(s"edges emitted=$rows"), formatted)
    assert(formatted.contains("groups=") && formatted.contains(s"pairs scored=${n * (n - 1) / 2}"),
      formatted)
  }

  test("k and maxBlock must be positive; the columns must be vec_id bigint, embedding array<float>") {
    import spark.implicits._
    val df = frame(duplicates)
    intercept[IllegalArgumentException](KnnJoin.edges(df, 0, 7))
    intercept[IllegalArgumentException](KnnJoin.edges(df, 3, 0))
    intercept[IllegalArgumentException](KnnJoin.edges(df.withColumnRenamed("vec_id", "id"), 3, 7))
    intercept[IllegalArgumentException](
      KnnJoin.edges(Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "embedding"), 3, 7))
  }
}
