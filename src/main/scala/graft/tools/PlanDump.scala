package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only: dump the physical plans of named registered queries — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`. The session is the benchmark's (`perfbench`): every core,
  * shuffle partitions = cores, AQE on (Spark's default), UTC,
  * [[graft.GraftExtensions]], so the captured plan is the one the benchmark
  * times.
  *
  * Run: `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>`
  *  - `<outDir>/<query>_<suffix>.txt`: the formatted plan, then the final
  *    AQE plan after executing the query's own queryExecution (so join
  *    strategies, reuse and coalescing show as they ran), and the number
  *    of generated classes compiled across the query's build and run (the
  *    JVM-wide count of Spark's codegen compile histogram; a class already
  *    in Spark's codegen cache is not compiled again, so the first query
  *    of a run counts its whole set).
  *  - `<outDir>/<query>__<op>round_<suffix>.txt` per operator tapped
  *    through [[PlanProbe]]: the final AQE plan of its round 2 (round 1 can
  *    carry seed-only shapes), or of round 1 when it stops there. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, out, suffix, queries) = args
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Harness.session("local[*]", cores, logLevel = "ERROR")
    def write(file: String, body: String): Unit = {
      Files.write(outDir.resolve(file), body.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $file")
    }
    queries.split(',').foreach { name =>
      val rounds = mutable.Map.empty[String, Int]
      val roundPlans = mutable.LinkedHashMap.empty[String, String]
      val sink: (String, DataFrame) => Unit = (tag, df) => {
        val op = tag.replaceAll("_\\d+$", "")
        val n = rounds.getOrElse(op, 0) + 1
        rounds(op) = n
        // round 2 overwrites round 1's provisional capture; the round's
        // inputs are checkpoints, so executing it re-runs only its own
        // joins/aggregates
        if (n <= 2) roundPlans(op) = s"== tapped round frame: $tag ==\n${finalPlan(df)}"
      }
      try PlanProbe.withSink(sink) {
        val compiled0 = compiles
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(FormattedMode)
        val executed = finalPlan(df)
        write(s"${name}_$suffix.txt",
          s"""== explain("formatted") ==
             |$formatted
             |== final AQE executedPlan (after execution) ==
             |$executed
             |generated classes compiled: ${compiles - compiled0}
             |""".stripMargin)
      } finally graft.Checkpoints.releaseTracked()
      roundPlans.foreach { case (op, plan) => write(s"${name}__${op}_$suffix.txt", plan) }
    }
    spark.stop()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Execute `df`'s own queryExecution, so AQE finalizes in place, and
    * return the final adaptive plan without its initial-plan appendix. */
  private def finalPlan(df: DataFrame): String = {
    // under the session's artifacts, as a SQL execution runs, so the
    // compile count is the one the query's own actions see
    org.apache.spark.sql.graft.RddBridge.inSession(df.sparkSession)(
      df.queryExecution.toRdd.count()): Unit
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }
}
