package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted, SparkListenerTaskStart}

import graft.mr.Probes

/** Speculation probe main — run in its OWN JVM (ProbesSpec spawns it).
  *
  * Spark hard-disables speculation under `local[*]`
  * (TaskSchedulerImpl.start gates the speculation scheduler on !isLocal),
  * so straggler detection can only be exercised against a `local-cluster`
  * master: in-process Master + Workers, executors as real child JVMs.
  *
  * What is assertable on one machine: the scheduler DETECTS the straggler
  * (quantile of finished tasks + multiplier × median) and SUBMITS a
  * speculative attempt — the `SparkListenerSpeculativeTaskSubmitted`
  * event. The *launch* of the backup is topology-gated by design:
  * speculative attempts are never placed on the host already running the
  * original (a backup on the same slow host buys nothing), and every
  * local-cluster executor shares one host — verified empirically: the
  * "Marking task 0 ... as speculatable" log line fires here, the backup
  * launch does not. On a multi-host cluster the launch follows directly
  * from the submission this probe pins down. This is Spark's version of
  * the reference's backup-task reassignment after a 10 s silence
  * (/root/reference/src/mr/master.go:116-134).
  *
  * Prints one parseable line:
  *   [specprobe] ok=<bool> submitted=<bool> launched=<bool> tookMs=<long> sum=<long>
  */
object SpeculationProbe {
  def main(args: Array[String]): Unit = {
    val slowMs = if (args.nonEmpty) args(0).toLong else 10000L
    val spark = Harness.session("local-cluster[2,1,1024]", 4,
      logLevel = if (args.length > 1) args(1) else "WARN", conf = Seq(
        "spark.speculation" -> "true",
        "spark.speculation.interval" -> "100ms",
        "spark.speculation.multiplier" -> "4",
        "spark.speculation.quantile" -> "0.75"))
    @volatile var submitted = false
    @volatile var launched = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onSpeculativeTaskSubmitted(t: SparkListenerSpeculativeTaskSubmitted): Unit =
        submitted = true
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) launched = true
    })
    try {
      val t0 = System.nanoTime()
      val rows = Probes.stragglerProbe(spark, n = 8, slowPart = 0, slowMs = slowMs).collect()
      val tookMs = (System.nanoTime() - t0) / 1000000L
      val sum = rows.map(_.getAs[Long]("part_sum")).sum
      val deadline = System.currentTimeMillis() + 3000
      while (!submitted && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val ok = rows.length == 8 && sum == (0 until 8).sum && submitted
      // the single line the spec greps for
      println(s"[specprobe] ok=$ok submitted=$submitted launched=$launched tookMs=$tookMs sum=$sum")
    } finally spark.stop()
  }
}
