package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Checkpoints, GraftExtensions, SparkEntry}

/** The one harness behind the registry mains ([[graft.Verify]],
  * [[ClusterSmoke]], [[ChaosSweep]], [[SpeculationProbe]], [[PlanDump]],
  * [[TenXGen]]). It owns three decisions:
  *
  *  - how a graft session is built ([[session]]);
  *  - how one registered query takes its turn ([[runEach]]): build it,
  *    materialize its full result, report a failure by its root cause,
  *    drain [[Checkpoints]] and report any RDD the query left persisted;
  *  - how the chaos compare is reported ([[chaosCompare]]).
  *
  * Each main keeps its own master and partition count: they are part of
  * what each gate tests. */
private[graft] object Harness {
  type Builder = (SparkSession, String) => DataFrame

  /** UTC, UI off, [[GraftExtensions]], `partitions` shuffle partitions.
    * A `local-cluster` master's executors are fresh JVMs that start in the
    * worker's work dir, so they get this JVM's classpath made ABSOLUTE: a
    * relative `target/scala-2.13/classes` silently vanishes there, graft
    * classes fail codegen ("Unknown type graft.functions.*") and closures
    * stay unresolved SerializedLambdas. Their JDK module opens come from
    * SparkContext itself, which supplements `spark.executor.extraJavaOptions`
    * with `JavaModuleOptions.defaultModuleOptions()`. */
  def session(master: String, partitions: Int, logLevel: String = "WARN",
              conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath",
        sys.props("java.class.path").split(java.io.File.pathSeparator)
          .filter(_.nonEmpty).map(p => new java.io.File(p).getAbsolutePath)
          .mkString(java.io.File.pathSeparator))
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The registered queries in name order, optionally narrowed to `only`. */
  def registry(only: Option[Set[String]]): Seq[(String, Builder)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_.contains(n)) }

  /** One query's turn: its materialized result or its failure, and how
    * many RDDs it left persisted after the drain. */
  final case class Turn[T](name: String, result: Either[String, T], leaked: Int)

  /** Run each builder in turn on `spark`. `materialize` must read the FULL
    * result: a `count()` lets Catalyst prune every column it does not need,
    * so an executor-side failure in a pruned column would pass. A failure
    * is reported as `[tag] <name> failed: <root cause>`. After each turn
    * the [[Checkpoints]] ledger is drained (the result is materialized and
    * no query is in flight), and whatever the query still holds persisted
    * is reported as `[tag] <name> left N persisted RDDs`. A ContextCleaner
    * GC can hide a leak here, never fake one. */
  def runEach[T](spark: SparkSession, tag: String, sfDir: String, builders: Seq[(String, Builder)])
                (materialize: (String, DataFrame) => T): Seq[Turn[T]] =
    builders.map { case (name, fn) =>
      val held = spark.sparkContext.getPersistentRDDs.keySet
      val result =
        try Right(materialize(name, fn(spark, sfDir)))
        catch { case e: Throwable => Left(rootCause(e)) }
      result.swap.foreach(e => System.err.println(s"[$tag] $name failed: $e"))
      Checkpoints.releaseTracked()
      val left = spark.sparkContext.getPersistentRDDs.keySet.count(!held.contains(_))
      if (left > 0) System.err.println(s"[$tag] $name left $left persisted RDDs")
      Turn(name, result, left)
    }

  /** Materialize every column of every row and keep nothing. */
  def writeNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The first line of `e`'s root cause, at most 300 characters. */
  private def rootCause(e: Throwable): String = {
    var root = e
    while (root.getCause != null) root = root.getCause
    root.toString.linesIterator.nextOption().getOrElse("").take(300)
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20), so a tab or CR in builder-authored SQL cannot break the
    * reader's parse. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Order-independent md5 over the sorted, stringified rows, columns in
    * name order: the byte-equality the chaos compare asserts. */
  private def canonicalMd5(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.head, cols.tail.toIndexedSeq: _*).collect()
      .map(_.toSeq.map {
        case null => "\u0000"
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => x.toString
      }.mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\u0002").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Run `builders` fault-free on `local[8]`, then on a fresh
    * `local-cluster[2,2,2048]` session under [[ChaosPlugin]] with `seed`,
    * and compare the [[canonicalMd5]] of each result. Prints one
    * `[tag] ok|FAIL <name>` row each, the injected-death count and a
    * `[tag] total=<n> failed=<n>` line; writes `out` as JSON with the rows
    * under `field`. `registry`, when given, is the count the builders must
    * cover, recorded in the artifact. Returns the failure count. */
  def chaosCompare(tag: String, field: String, sfDir: String, seed: Long,
                   builders: Seq[(String, Builder)], registry: Option[Int],
                   out: Option[String]): Int = {
    def sweep(spark: SparkSession): Map[String, Either[String, String]] = {
      // each session trains its own artifacts: without this the chaos
      // session reuses models memoized fault-free by the clean session
      // (keys carry only the fixture fingerprint) and BPE/unigram/IRLS/
      // codebook training never actually runs under injection
      graft.sources.ArtifactCache.clear()
      try runEach(spark, tag, sfDir, builders)((_, df) => canonicalMd5(df))
        .map(t => t.name -> t.result).toMap
      finally spark.stop()
    }
    val want = sweep(session("local[8]", 8))
    // local-cluster: REAL executor child JVMs, so every injected death
    // exercises scheduler reassignment and shuffle refetch across process
    // boundaries (local[n] would need the nonstandard local[n,f] retry
    // master and retries nothing across JVMs anyway)
    val chaos = session("local-cluster[2,2,2048]", 8, conf = Seq(
      "spark.plugins" -> classOf[ChaosPlugin].getName,
      "spark.graft.chaos.seed" -> seed.toString))
    println(s"[$tag] plugins=${chaos.conf.get("spark.plugins", "<unset>")} " +
      s"master=${chaos.sparkContext.master}")
    // the gate must PROVE it bit: count tasks that died to an injected
    // crash (the driver sees every TaskEnd reason); zero means the plugin
    // never loaded and the "chaos" run was a plain re-run
    val injected = new java.util.concurrent.atomic.AtomicInteger
    chaos.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        te.reason match {
          case ef: org.apache.spark.ExceptionFailure
            if ef.description != null && ef.description.contains("[chaos]") =>
            injected.incrementAndGet(): Unit
          case _ => ()
        }
    })
    val got = sweep(chaos)
    println(s"[$tag] injected_task_deaths=${injected.get()}")

    val rows = builders.map { case (n, _) =>
      val status = (want(n), got(n)) match {
        case (Left(e), _) => s"clean_err:$e"
        case (_, Left(e)) => s"chaos_err:$e"
        case (Right(a), Right(b)) => if (a == b) "ok" else "MISMATCH"
      }
      println(s"[$tag] ${if (status == "ok") "ok" else "FAIL"} $n" +
        (if (status == "ok") "" else s" $status"))
      n -> status
    }
    var failed = rows.count(_._2 != "ok")
    if (injected.get() == 0) {
      println(s"[$tag] FAIL: zero injected deaths — plugin not active")
      failed += 1
    }
    // SELF-SEALING: an artifact that silently covers fewer queries than the
    // registry stops being "full-surface" the day a new query registers;
    // ChaosGateSpec re-checks the recorded total against the registry
    registry.filter(_ != rows.size).foreach { r =>
      println(s"[$tag] FAIL: swept ${rows.size} != registry $r")
      failed += 1
    }
    println(s"[$tag] total=${rows.size} failed=$failed seed=$seed injected=${injected.get()}")
    out.foreach { p =>
      val body = rows.map { case (n, s) => s"${json(n)}: ${json(s)}" }
        .mkString(s"""{"sf": ${json(new java.io.File(sfDir).getName)}, "seed": $seed, """ +
          s""""total": ${rows.size}, """ + registry.fold("")(r => s""""registry": $r, """) +
          s""""failed": $failed, "injected_task_deaths": ${injected.get()}, "$field": {""",
          ",", "}}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), body + "\n"): Unit
    }
    failed
  }
}
