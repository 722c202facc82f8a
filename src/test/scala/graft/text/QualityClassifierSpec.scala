package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  lazy val feats = QualityClassifier.featurize(spark, sf)
  lazy val local = feats.collect().sortBy(_.doc_id)

  test("Newton/IRLS: distributed == local element-exact, loss decreases and the model tracks the weak labels") {
    val (wDist, lossDist) = QualityClassifier.trainNewton(feats)
    val (wLoc, lossLoc) = QualityClassifier.trainNewtonLocal(local)
    // NOT approximate equality: per-doc contributions are rounded to
    // fixed-point Longs and summed as integers, so any partitioning and
    // any reduction order produce the same bits
    assert(wDist.toSeq == wLoc.toSeq)
    assert(lossDist.toSeq == lossLoc.toSeq)
    val (wRep, _) = QualityClassifier.trainNewton(feats.repartition(7))
    assert(wRep.toSeq == wLoc.toSeq)
    assert(lossLoc.last < lossLoc.head * 0.8, s"loss barely moved: ${lossLoc.head} -> ${lossLoc.last}")
    val acc = local.count { d =>
      val z = (0 until QualityClassifier.Dim).map(j => wLoc(j) * d.feats(j)).sum
      (z >= 0) == (d.label > 0.5)
    }.toDouble / local.length
    // weak labels are ~80/20; the distilled model must beat the majority class
    assert(acc >= 0.97, s"Newton accuracy $acc on the training corpus (0.994 measured at both default SFs)")
  }

  test("relational scoring equals the local model at the rounded surface") {
    val (w, _) = QualityClassifier.trainNewton(feats)
    val want = local.map { d =>
      val z = (0 until QualityClassifier.Dim).map(j => w(j) * d.feats(j)).sum
      d.doc_id -> BigDecimal(QualityClassifier.sigmoid(z))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = QualityClassifier.scored(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(got.keySet == want.keySet)
    val off = got.collect { case (id, s) if math.abs(s - want(id)) > 1e-6 => id }
    assert(off.isEmpty, s"scores diverge for docs ${off.take(5)}")
  }

  test("score-on-arrival: streaming scoring under frozen weights == local reference") {
    import org.apache.spark.sql.streaming.OutputMode
    val (w, _) = QualityClassifier.trainNewton(feats)
    val want = local.map { d =>
      val z = (0 until QualityClassifier.Dim).map(j => w(j) * d.feats(j)).sum
      d.doc_id -> BigDecimal(QualityClassifier.sigmoid(z))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val in = java.nio.file.Files.createTempDirectory("qcin")
    java.nio.file.Files.copy(new java.io.File(sf, "documents.parquet").toPath,
      in.resolve("documents.parquet"))
    val ckpt = java.nio.file.Files.createTempDirectory("qcckpt").toString
    val schema = graft.Tables.documents(spark, sf).schema
    val q = QualityClassifier.scoreWith(w)(QualityClassifier.featurizeFrame(
        spark.readStream.schema(schema).parquet(in.toString)))
      .writeStream.option("checkpointLocation", ckpt)
      .format("memory").queryName("qc_stream").outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("qc_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }

  test("scoring plan: broadcast model join, one doc-id aggregation, no model shuffle") {
    val plan = QualityClassifier.scored(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model join not broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }
}
