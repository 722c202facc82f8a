package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

import graft.{Checkpoints, GraftExtensions, SparkEntry}
import graft.sources.ArtifactCache

/** Command line, as `run.py` passes it. */
final case class Opts(
    mode: String, workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, fixture: String, work: String, out: Path, digests: Path,
    commit: String, sourceSha: String, verifyDir: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      mode = kv.getOrElse("mode", "run"),
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "0").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      cores = get("cores").toInt,
      fixture = get("fixture"),
      work = get("work"),
      out = Paths.get(get("out")),
      digests = Paths.get(get("digests")),
      commit = kv.getOrElse("commit", "unknown"),
      sourceSha = kv.getOrElse("source-sha", "unknown"),
      verifyDir = kv.get("verify-dir"))
  }
}

/** One successful timed query: the call into the module's builder, then
  * the write of its full result to the `noop` sink. */
final case class Exec(qid: Long, query: String, buildNs: Long, execNs: Long) {
  def latencyMs: Double = (buildNs + execNs) / 1e6
}

/** One pass as the report lists it: its phase, index, wall seconds, whether
  * every query succeeded, and each query's latency. */
final case class PassLog(phase: String, index: Int, seconds: Double, ok: Boolean,
                         queryMs: Seq[(String, Double)])

/** The outcome of one timed phase: its successful queries, the time its
  * clients were busy, and the phase's pass_s, throughput and live heap. */
final case class Phase(execs: Seq[Exec], wallS: Double, throughput: Double, passS: Double,
                       heapLiveMb: Double)

object Main {
  /** Every timed phase runs at least this many passes' worth of queries,
    * so every query of the mix has at least this many latency samples. */
  val MinPasses = 2
  /** Set-ups per run (each a fresh session, cleared artifact memos and
    * one untimed pass); `setup_s` is their median. */
  val SetUps = 3
  /** No new pass or query starts after this many seconds of the process,
    * so a slow host still ends the run inside its time limit. */
  val HardStopS = 150.0

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val code = o.mode match {
      case "run" => Workloads.byName(o.workload) match {
        case Some(w) => new Run(o, w).apply()
        case None =>
          System.err.println(s"unknown workload '${o.workload}'; known: " +
            Workloads.all.map(_.name).mkString(", "))
          2
      }
      case "record" => Record(o)
      case "list" => println(Workloads.all.flatMap(_.queries).distinct.sorted.mkString(",")); 0
      case m => System.err.println(s"unknown mode '$m'"); 2
    }
    sys.exit(code)
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * q
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Heap in use after full collections. Unpersisted blocks and
    * unreferenced broadcasts are freed by Spark's cleaner threads only
    * after a collection finds them garbage, so the heap is collected until
    * two readings a moment apart agree. */
  def liveHeapMb(): Double = {
    def read(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = read()
    var i = 0
    var settled = false
    while (!settled && i < 3) {
      Thread.sleep(200)
      val now = read()
      settled = math.abs(now - last) <= 0.01 * last
      last = now
      i += 1
    }
    last
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** The traced phase, the engine counters per query execution id, the peak
  * of resident RDD blocks during it, and the legacy `count()` pass. */
final case class Traced(phase: Phase, counters: Map[Long, Counters], peakBlockBytes: Long,
                        legacy: Seq[(String, Double)])

/** Per-query line of the traced run's table; engine counts are per
  * execution of the query. */
final case class QueryRow(query: String, module: String, samples: Int, buildMs: Double,
                          execMs: Double, countMs: Double, jobs: Double, stages: Double,
                          tasks: Double, exchanges: Double, shuffleWriteMb: Double,
                          shuffleReadMb: Double, runS: Double, planMs: Double) {
  def json: Json.Obj = Json.Obj(Seq("query" -> query, "module" -> module, "samples" -> samples,
    "build_ms" -> buildMs, "exec_ms" -> execMs, "count_ms" -> countMs, "jobs" -> jobs,
    "stages" -> stages, "tasks" -> tasks, "exchanges" -> exchanges,
    "shuffle_write_mb" -> shuffleWriteMb, "shuffle_read_mb" -> shuffleReadMb,
    "run_s" -> runS, "plan_ms" -> planMs))
}

/** One benchmark run of one workload. */
final class Run(o: Opts, w: Workload) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  // JVM start on the nanoTime clock: set-up time counts from process start
  private val originNs =
    System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
  private def elapsedS: Double = (System.nanoTime() - originNs) / 1e9
  private def mayStart: Boolean = elapsedS < HardStopS

  private val registry = SparkEntry.queries
  private val MinSamples = MinPasses * w.queries.size
  private val TailQuantile = 1 - 10.0 / MinSamples
  private val expected = Digest.load(o.digests)
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()
  private val qids = new AtomicLong
  private val spans = new Spans(originNs)
  @volatile private var tracing = false
  @volatile private var listener: Option[LayerListener] = None

  private def fail(q: String, what: String): Unit = {
    failed.incrementAndGet()
    failures.add(s"$q: $what")
    System.err.println(s"[perfbench] FAILED $q: $what")
  }

  /** Every pass runs the mix as one rotation of the same cycle, so each
    * query always follows the same predecessor: a query's latency depends
    * on which query ran before it (graph_degree_dist measured 0.4 to 1.1 s
    * by predecessor), and free permutations made that order noise the
    * largest part of the run-to-run spread. The seed picks where the
    * cycle starts; concurrent clients start spread evenly around it. */
  private val offset = Math.floorMod(new Random(o.seed).nextInt(), w.queries.size)

  private def order(client: Int): Seq[String] = {
    val start = offset + client * w.queries.size / math.max(1, clientCount)
    Seq.tabulate(w.queries.size)(i => w.queries((start + i) % w.queries.size))
  }

  private def clientCount: Int = if (w.concurrent) o.cores else 1

  /** Warm/verify pass: build each query, fingerprint its full result and
    * check the fingerprint against the committed one. */
  private def verifyPass(spark: SparkSession, qs: Seq[String]): Unit = qs.foreach { q =>
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val d = Digest.of(registry(q)(spark, o.fixture))
      expected.get(q) match {
        case Some(e) if e == d => ()
        case Some(e) => fail(q, s"digest $d, expected $e")
        case None => fail(q, s"digest $d has no expected value")
      }
    } catch { case NonFatal(e) => fail(q, describe(e)) }
    finally Checkpoints.releaseTracked()
    verifyMs += q -> (System.nanoTime() - t0) / 1e6
  }

  private val verifyMs = ArrayBuffer.empty[(String, Double)]

  private def untimedPass(spark: SparkSession): Unit =
    order(0).foreach { q => runOne(spark, q, 0); Checkpoints.releaseTracked() }

  private def runOne(spark: SparkSession, q: String, passSpan: Long): Option[Exec] = {
    val qid = qids.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerListener.QidKey, qid.toString)
    if (tracing) ListenerBus.post(sc, QueryStarted(System.identityHashCode(spark), qid))
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val df = registry(q)(spark, o.fixture)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      if (tracing) {
        val id = spans.newId()
        spans.add(id, passSpan, qid, q, t0, t2)
        spans.add(spans.newId(), id, qid, "build", t0, t1)
        spans.add(spans.newId(), id, qid, "exec", t1, t2)
      }
      Some(Exec(qid, q, t1 - t0, t2 - t1))
    } catch { case NonFatal(e) => fail(q, describe(e)); None }
    finally sc.setLocalProperty(LayerListener.QidKey, null)
  }

  private val passLog = ArrayBuffer.empty[PassLog]

  /** One client, closed loop: whole passes until `seconds` have gone and
    * at least [[Main.MinPasses]] passes ran. */
  private def serialPhase(spark: SparkSession, label: String, root: Long): Phase = {
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val passes = ArrayBuffer.empty[Double] // seconds of each pass no query failed in
    val execs = ArrayBuffer.empty[Exec]
    var busyNs = 0L
    var k = 0
    while (k == 0 || ((System.nanoTime() < deadline || execs.size < MinSamples) && mayStart)) {
      val pid = spans.newId()
      val p0 = System.nanoTime()
      val got = order(0).map { q =>
        val r = runOne(spark, q, pid)
        Checkpoints.releaseTracked()
        r
      }
      val p1 = System.nanoTime()
      if (tracing) spans.add(pid, root, 0, s"pass $k", p0, p1)
      busyNs += p1 - p0
      execs ++= got.flatten
      val ok = got.forall(_.isDefined)
      if (ok) passes += (p1 - p0) / 1e9
      passLog += PassLog(label, k, (p1 - p0) / 1e9, ok,
        got.flatten.map(e => e.query -> e.latencyMs))
      k += 1
    }
    val wallS = busyNs / 1e9
    Phase(execs.toSeq, wallS, execs.size / wallS, median(passes.toSeq), liveHeapMb())
  }

  /** `cores` clients, closed loop, each on its own session and starting at
    * its own point of the cycle. The checkpoint ledger is JVM-global, so it
    * is drained only at a barrier where every client is between queries. */
  private def concurrentPhase(spark: SparkSession, label: String, root: Long): Phase = {
    val clients = o.cores
    val sessions = Seq.fill(clients)(spark.newSession())
    for (l <- listener; s <- sessions) s.listenerManager.register(l)
    val gate = new ReentrantReadWriteLock(true)
    val sinceDrain = new AtomicInteger
    val done = new AtomicInteger
    val execs = new ConcurrentLinkedQueue[Exec]()
    val rates = new Array[Double](clients)
    val start = System.nanoTime()
    val deadline = start + o.seconds * 1000000000L
    def go: Boolean =
      (System.nanoTime() < deadline || done.get < MinSamples) && mayStart
    val threads = sessions.zipWithIndex.map { case (s, c) =>
      new Thread(() => {
        var n = 0
        var last = start
        var k = 0
        while (go) {
          val pid = spans.newId()
          val p0 = System.nanoTime()
          order(c).iterator.takeWhile(_ => go).foreach { q =>
            gate.readLock().lock()
            val r = try runOne(s, q, pid) finally gate.readLock().unlock()
            r.foreach { e => execs.add(e); n += 1; last = System.nanoTime(); done.incrementAndGet() }
            if (sinceDrain.incrementAndGet() >= w.queries.size) {
              gate.writeLock().lock()
              try if (sinceDrain.get >= w.queries.size) {
                Checkpoints.releaseTracked()
                sinceDrain.set(0)
              } finally gate.writeLock().unlock()
            }
          }
          if (tracing) spans.add(pid, root, 0, s"client $c pass $k", p0, System.nanoTime())
          k += 1
        }
        rates(c) = n / ((last - start) / 1e9)
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - start) / 1e9
    Checkpoints.releaseTracked()
    val throughput = rates.filter(r => !r.isNaN && !r.isInfinite).sum
    passLog += PassLog(label, 0, wallS, ok = true, Seq.empty)
    Phase(execs.asScala.toSeq, wallS, throughput, w.queries.size / throughput, liveHeapMb())
  }

  private def phase(spark: SparkSession, label: String): Phase = {
    val root = spans.newId()
    val t0 = System.nanoTime()
    val p = if (w.concurrent) concurrentPhase(spark, label, root) else serialPhase(spark, label, root)
    if (tracing) spans.add(root, 0, 0, s"${w.name} $label", t0, System.nanoTime())
    p
  }

  /** The traced run's extra pass: `count()` per query, the legacy bench's
    * timing, so its series can be read against the full-result numbers. */
  private def legacyPass(spark: SparkSession): Seq[(String, Double)] = w.queries.map { q =>
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerListener.QidKey, qids.incrementAndGet().toString)
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val s = try { registry(q)(spark, o.fixture).count(); (System.nanoTime() - t0) / 1e9 }
    catch { case NonFatal(e) => fail(q, describe(e)); Double.NaN }
    finally { sc.setLocalProperty(LayerListener.QidKey, null); Checkpoints.releaseTracked() }
    spans.add(spans.newId(), 0, 0, s"legacy count $q", t0, System.nanoTime())
    q -> s
  }

  private val MB = 1048576.0

  private def perLayer(t: Traced, untraced: Phase): Seq[(String, (Double, String))] = {
    val p = t.phase
    val perPass = p.execs.size.toDouble / w.queries.size
    val ids = p.execs.map(_.qid).toSet
    val c = new Counters
    t.counters.foreach { case (id, x) => if (ids(id) || id == -1L) c += x }
    def pp(x: Double): Double = x / perPass
    val modules = Workloads.modules.flatMap { m =>
      val es = p.execs.filter(e => Workloads.module(e.query) == m)
      Seq(s"$m.build_s" -> (pp(es.map(_.buildNs).sum / 1e9), "s"),
        s"$m.exec_s" -> (pp(es.map(_.execNs).sum / 1e9), "s"))
    }
    modules ++ Seq(
      "scan.input_mb" -> (pp(c.inputBytes / MB), "MB"),
      "scan.input_rows" -> (pp(c.inputRows.toDouble), "count"),
      "catalyst.plan_ms" -> (pp(c.planMs.toDouble), "ms"),
      "sched.jobs" -> (pp(c.jobs.toDouble), "count"),
      "sched.stages" -> (pp(c.stages.toDouble), "count"),
      "sched.tasks" -> (pp(c.tasks.toDouble), "count"),
      "sched.core_busy_frac" -> (c.runMs / 1000.0 / (p.wallS * o.cores), "frac"),
      "shuffle.exchanges" -> (pp(c.exchanges.toDouble), "count"),
      "shuffle.write_mb" -> (pp(c.shuffleWrite / MB), "MB"),
      "shuffle.read_mb" -> (pp(c.shuffleRead / MB), "MB"),
      "exec.run_s" -> (pp(c.runMs / 1000.0), "s"),
      "exec.cpu_s" -> (pp(c.cpuNs / 1e9), "s"),
      "exec.gc_s" -> (pp(c.gcMs / 1000.0), "s"),
      "mem.peak_task_mb" -> (c.peakTaskBytes / MB, "MB"),
      "mem.spill_mb" -> (pp(c.spillBytes / MB), "MB"),
      "storage.block_mb" -> (t.peakBlockBytes / MB, "MB"),
      "legacy.count_s" -> (t.legacy.map(_._2).sum, "s"),
      "trace.overhead_frac" -> (p.passS / untraced.passS - 1, "frac"))
  }

  private def perQuery(t: Traced): Seq[QueryRow] = w.queries.map { q =>
    val es = t.phase.execs.filter(_.query == q)
    val c = new Counters
    es.foreach(e => t.counters.get(e.qid).foreach(c += _))
    val n = math.max(es.size, 1).toDouble
    QueryRow(q, Workloads.module(q), es.size,
      median(es.map(_.buildNs / 1e6)), median(es.map(_.execNs / 1e6)),
      t.legacy.collectFirst { case (`q`, s) => s * 1000 }.getOrElse(Double.NaN),
      c.jobs / n, c.stages / n, c.tasks / n, c.exchanges / n,
      c.shuffleWrite / MB / n, c.shuffleRead / MB / n, c.runMs / 1000.0 / n, c.planMs / n)
  }

  private def printTable(rows: Seq[QueryRow]): Unit = {
    println(f"${"query"}%-22s ${"build_ms"}%9s ${"exec_ms"}%9s ${"count_ms"}%9s ${"jobs"}%6s " +
      f"${"stages"}%7s ${"tasks"}%7s ${"exch"}%6s ${"shufW_mb"}%9s ${"shufR_mb"}%9s ${"run_s"}%7s ${"plan_ms"}%8s")
    rows.foreach { r =>
      println(f"${r.query}%-22s ${r.buildMs}%9.1f ${r.execMs}%9.1f ${r.countMs}%9.1f ${r.jobs}%6.1f " +
        f"${r.stages}%7.1f ${r.tasks}%7.1f ${r.exchanges}%6.1f ${r.shuffleWriteMb}%9.3f " +
        f"${r.shuffleReadMb}%9.3f ${r.runS}%7.3f ${r.planMs}%8.1f")
    }
  }

  def apply(): Int = {
    // --- set-up, repeated: the first starts the SparkContext, each later
    // one opens a fresh session on it; every set-up clears the artifact
    // memos and runs one untimed pass, so work moved out of the timed
    // passes into set-up shows in setup_s. The passes double as warm-up
    // (pass times drift down for minutes; the report lists every pass
    // with its index so the drift stays visible); the last, warmest one
    // is the verify pass.
    var spark: SparkSession = null
    val setups = ArrayBuffer.empty[Double]
    val setupPasses = ArrayBuffer.empty[Double]
    for (i <- 1 to SetUps) {
      val t0 = if (i == 1) originNs else System.nanoTime()
      ArtifactCache.clear()
      spark = if (i == 1) session(o) else spark.newSession()
      val v0 = System.nanoTime()
      if (i == SetUps) verifyPass(spark, order(0)) else untimedPass(spark)
      val t1 = System.nanoTime()
      setups += (t1 - t0) / 1e9
      setupPasses += (t1 - v0) / 1e9
    }
    val timedStartS = elapsedS
    val untraced = phase(spark, "timed")
    val traced = if (!o.trace) None else {
      // the listener sees only the traced phase; its counters are read
      // before the legacy pass runs
      val sc = spark.sparkContext
      ListenerBus.drain(sc)
      val l = new LayerListener
      sc.addSparkListener(l)
      spark.listenerManager.register(l)
      listener = Some(l)
      tracing = true
      val p = phase(spark, "traced")
      tracing = false
      ListenerBus.drain(sc)
      val counters = l.counters
      val peak = l.peakBlockBytes
      Some(Traced(p, counters, peak, legacyPass(spark)))
    }

    val n = attempted.get
    val correct = failed.get == 0 && n > 0
    val latencies = untraced.execs.map(_.latencyMs)
    // latency of the typical query: the geometric mean over the mix of each
    // query's median and of each query's worst sample. A percentile of the
    // pooled samples lands on whichever query sits at that rank, so it
    // carries one query's noise; the mean over queries averages it out
    val byQuery = untraced.execs.groupBy(_.query).values.map(_.map(_.latencyMs)).toSeq
    val e2e = Seq(
      "pass_s" -> (untraced.passS, "s"),
      "throughput_qps" -> (untraced.throughput, "1/s"),
      "latency_ms_p50" -> (geomean(byQuery.map(median)), "ms"),
      "latency_ms_tail" -> (geomean(byQuery.map(_.max)), "ms"),
      "setup_s" -> (median(setups.toSeq), "s"),
      "heap_live_mb" -> (untraced.heapLiveMb, "MB"))
    val layers = traced.map(perLayer(_, untraced))
    def asJson(ms: Seq[(String, (Double, String))]): Json.Obj =
      Json.Obj(ms.map { case (k, (v, u)) => k -> Json.Obj(Seq("value" -> v, "unit" -> u)) })

    val rt = Runtime.getRuntime
    val report = Json.Obj(Seq(
      "workload" -> w.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "clients" -> clientCount, "cycle_offset" -> offset,
      "queries" -> w.queries,
      "host" -> Json.Obj(Seq(
        "cores" -> o.cores, "heap_max_mb" -> rt.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version, "os" -> System.getProperty("os.name"),
        "fixture" -> Paths.get(o.fixture).getFileName.toString)),
      "commit" -> o.commit, "source_sha" -> o.sourceSha,
      "setup_s" -> setups, "setup_pass_s" -> setupPasses,
      "verify_ms" -> Json.Obj(verifyMs.toSeq),
      "timed_start_s" -> timedStartS, "process_s" -> elapsedS,
      "passes" -> passLog.map { l =>
        Json.Obj(Seq("phase" -> l.phase, "index" -> l.index, "seconds" -> l.seconds,
          "ok" -> l.ok, "query_ms" -> Json.Obj(l.queryMs)))
      },
      "latency" -> Json.Obj(Seq("samples" -> latencies.size,
        "pooled_p50_ms" -> median(latencies), "pooled_tail_quantile" -> TailQuantile,
        "pooled_tail_ms" -> quantile(latencies, TailQuantile))),
      "attempted" -> n, "failed" -> failed.get, "failed_frac" -> failed.get.toDouble / math.max(n, 1),
      "failures" -> failures.asScala.toSeq,
      "end_to_end" -> asJson(e2e), "per_layer" -> layers.map(asJson),
      "per_query" -> traced.map(perQuery(_).map(_.json))))
    spark.stop()

    Files.createDirectories(o.out)
    val stem = s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.writeString(o.out.resolve(s"$stem.json"), Json(report) + "\n", UTF_8)
    if (o.trace) {
      spans.write(o.out.resolve(s"$stem-spans.jsonl"))
      traced.foreach(t => printTable(perQuery(t)))
    }
    println(Json.obj("report" -> report))
    println(Json.obj("correct" -> correct, "attempted" -> n, "failed" -> failed.get,
      "metrics" -> asJson(layers.getOrElse(e2e))))
    0
  }
}
