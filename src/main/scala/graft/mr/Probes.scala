package graft.mr

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's behavioral probes (SURVEY §2.7), re-expressed on Spark's
  * execution model instead of marker files and process kills:
  *
  *   - mtiming/rtiming (/root/reference/src/mrapps/mtiming.go:22-80,
  *     rtiming.go:20-63) count concurrently-running workers by scanning
  *     timestamp marker files. Here each task emits its own (start, end)
  *     interval and max concurrency is computed *as a query* — a sweep-line
  *     (+1/-1, running sum) over event boundaries.
  *   - crash.go's maybeCrash (33% exit,
  *     /root/reference/src/mrapps/crash.go:23-35) exercises master-side task
  *     reassignment; [[chaosOnce]] throws on every task's FIRST attempt so
  *     Spark's task retry (the DAGScheduler's version of
  *     master.go:116-134 timeout/reassign) must re-run it — output must be
  *     identical to the fault-free run.
  */
object Probes {

  final case class TaskSpan(partition: Int, attempt: Int, start: Long, end: Long)

  /** Run a trivially-parallel pass over `n` slices of work (>= `sliceMs` ms
    * each) and record per-task wall-clock spans. */
  def taskSpans(spark: SparkSession, n: Int, sliceMs: Long = 200): Dataset[TaskSpan] = {
    import spark.implicits._
    spark.range(n).repartition(n).mapPartitions { it =>
      val tc = TaskContext.get()
      val start = System.currentTimeMillis()
      it.size // drain
      Thread.sleep(sliceMs)
      Iterator.single(TaskSpan(tc.partitionId(), tc.attemptNumber(),
        start, System.currentTimeMillis()))
    }
  }

  /** Max observed task concurrency, computed as a sweep-line query over the
    * span boundaries: explode each span to (+1 at start, -1 at end), running
    * sum in time order, take the max. One row per probe run. */
  def maxConcurrency(spans: Dataset[TaskSpan]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("t"), col("delta").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spans
      .select(explode(array(
        struct(col("start").as("t"), lit(1).as("delta")),
        struct(col("end").as("t"), lit(-1).as("delta")))).as("ev"))
      .select(col("ev.t").as("t"), col("ev.delta").as("delta"))
      .withColumn("running", sum(col("delta")).over(w))
      .agg(max(col("running")).as("max_concurrent"))
  }

  /** Wrap an MrApp's map with first-attempt fault injection: every task
    * throws once, forcing a retry; the retried attempt succeeds. Determinism
    * of the final output *is the assertion* — Spark task retry must reproduce
    * the fault-free result exactly (the crash-test contract of
    * /root/reference/src/main/test-mr.sh:155-200). */
  def chaosOnce(app: MrApp): MrApp = new MrApp {
    val name: String = app.name + "_chaos"
    def map(filename: String, contents: String): Iterator[KV] = {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException(s"[chaosOnce] injected failure, task ${tc.partitionId()} attempt 0")
      app.map(filename, contents)
    }
    def reduce(key: String, values: Iterator[String]): String = app.reduce(key, values)
  }

  /** Deterministic per-(seed, partition, attempt) decision hash. */
  private def chaosHash(seed: Long, partition: Int, attempt: Int): Int = {
    var h = 0xcbf29ce484222325L ^ seed
    h = (h ^ partition) * 0x100000001b3L
    h = (h ^ attempt) * 0x100000001b3L
    ((h >>> 33) % 100).toInt
  }

  /** CONTINUOUS chaos — the Spark expression of the reference's crash loop
    * (workers randomly dying and rejoining under load the whole run,
    * /root/reference/src/main/test-mr.sh:160-200 + crash.go `maybeCrash`:
    * 33% die, else maybe stall): every task attempt of BOTH stages decides
    * from hash(seed, partition, attempt) to die (40%, possibly on
    * consecutive attempts) or stall up to 200 ms (reordering stress).
    * Attempts from the third on (keep < `spark.task.maxFailures`) run
    * clean so the job always completes — the reference's crash loop
    * likewise never kills the coordinator. Output must be byte-equal to the fault-free run for
    * EVERY seed; each injected death exercises scheduler reassignment plus
    * shuffle-refetch on the reduce side. */
  def chaosLoop(app: MrApp, seed: Long): MrApp = new MrApp {
    val name: String = app.name + s"_chaosloop$seed"
    private def maybeCrash(stage: String): Unit = {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() < 2) {
        val h = chaosHash(seed, tc.partitionId(), tc.attemptNumber())
        if (h < 40)
          throw new RuntimeException(
            s"[chaosLoop] injected $stage death, task ${tc.partitionId()} attempt ${tc.attemptNumber()} seed $seed")
        if (h >= 80) Thread.sleep(h % 200L) // crash.go's stall branch
      }
    }
    def map(filename: String, contents: String): Iterator[KV] = {
      maybeCrash("map")
      app.map(filename, contents)
    }
    def reduce(key: String, values: Iterator[String]): String = {
      maybeCrash("reduce")
      app.reduce(key, values)
    }
  }

  /** Environmental straggler probe for SPECULATION: partition `slowPart`'s
    * first attempt sleeps `slowMs` (a slow host, not slow work — any other
    * attempt of the same partition is fast), every other partition returns
    * promptly. With speculation enabled the scheduler launches a second
    * attempt of the straggler after the quantile+multiplier threshold and
    * the job finishes without waiting out the sleeper — Spark's version of
    * the reference's backup-task reassignment on a 10 s silence
    * (/root/reference/src/mr/master.go:116-134). */
  def stragglerProbe(spark: SparkSession, n: Int = 8, slowPart: Int = 0,
                     slowMs: Long = 20000): DataFrame = {
    import spark.implicits._
    spark.range(n).repartition(n).mapPartitions { it =>
      val tc = TaskContext.get()
      val partSum = it.foldLeft(0L)((a, x) => a + x)
      if (tc.partitionId() == slowPart && tc.attemptNumber() == 0)
        Thread.sleep(slowMs)
      Iterator.single((tc.partitionId(), tc.attemptNumber(), partSum))
    }.toDF("partition", "attempt", "part_sum")
  }
}
