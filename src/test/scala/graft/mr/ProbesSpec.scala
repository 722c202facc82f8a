package graft.mr

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class ProbesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  test("parallelism probe observes >= 2 concurrent tasks (test-mr.sh floor)") {
    val spans = Probes.taskSpans(spark, n = 8, sliceMs = 300)
    val maxc = Probes.maxConcurrency(spans).collect()(0).getLong(0)
    assert(maxc >= 2, s"observed max concurrency $maxc")
  }

  test("chaos: first-attempt task failures are retried and output equals fault-free run") {
    val corpus = MrJob.documentsCorpus(spark, sf)
    val clean = MrJob.run(WordCount, corpus).collect().map(kv => kv.key -> kv.value).sorted
    val chaotic = MrJob.run(Probes.chaosOnce(WordCount), corpus).collect().map(kv => kv.key -> kv.value).sorted
    assert(chaotic.sameElements(clean))
  }

  test("continuous chaos: random repeated deaths + stalls across 5 seeds, output byte-equal") {
    val corpus = MrJob.documentsCorpus(spark, sf)
    val clean = MrJob.run(WordCount, corpus).collect().map(kv => kv.key -> kv.value).sorted
    (1L to 5L).foreach { seed =>
      val chaotic = MrJob.run(Probes.chaosLoop(WordCount, seed), corpus)
        .collect().map(kv => kv.key -> kv.value).sorted
      assert(chaotic.sameElements(clean), s"chaos output diverged at seed $seed")
    }
  }

  test("scheduler submits a speculative attempt for an injected sleeper (own JVM, local-cluster)") {
    // speculation is hard-disabled under local[*] (TaskSchedulerImpl.start
    // gates on !isLocal), so the probe runs in a spawned JVM against a
    // local-cluster master; see SpeculationProbe's scaladoc for what is
    // assertable on a single host (detection/submission, not same-host
    // launch — backups are never placed on the original's host by design)
    import scala.sys.process._
    val java = sys.props("java.home") + "/bin/java"
    val cmd = Seq(java) ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"),
      "graft.tools.SpeculationProbe", "8000")
    val out = new StringBuilder
    val code = Process(cmd, None,
      "SPARK_HOME" -> "/opt/spark", "SPARK_SCALA_VERSION" -> "2.13")
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    val line = out.toString.linesIterator.find(_.startsWith("[specprobe]"))
    assert(code == 0, s"probe JVM exited $code")
    assert(line.isDefined, s"no [specprobe] line in output:\n$out")
    assert(line.get.contains("ok=true"), line.get)
  }
}
