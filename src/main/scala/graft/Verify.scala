package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (not used by the driver): comma-separated query
    // names, to iterate on a subset locally
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions) // custom exprs + AsOfJoinRule
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val held = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the previous query's result is on disk — drop any checkpoint
      // blocks its builder registered (see Checkpoints)
      Checkpoints.releaseTracked()
      // leak check: whatever the query persisted must be gone after the
      // drain. A ContextCleaner GC can hide a leak here, never fake one.
      val left = spark.sparkContext.getPersistentRDDs.keySet -- held
      if (left.nonEmpty)
        System.err.println(s"[verify] $name left ${left.size} persisted RDDs")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The three trained-model apply queries get their oracles generated
    // HERE, after retraining the (bit-deterministic) artifact on this sf
    // dir and interpolating it as SQL literals — a static map cannot know
    // a data-trained model. Skipped when a subset excludes them all.
    val wanted = only.map(_.intersect(graft.text.TrainedOracles.names))
      .getOrElse(graft.text.TrainedOracles.names)
    // a training failure must degrade those queries to rows-only, never
    // take down the whole dump (an unwritten oracle_sql.json would zero
    // every query's correctness signal for the round) — but only NonFatal
    // failures: an OOM/LinkageError must abort rather than write a
    // partially valid oracle_sql.json
    val trained: Map[String, String] =
      if (wanted.isEmpty) Map.empty
      else try graft.text.TrainedOracles.all(spark, sfDir, wanted)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] trained-oracle generation failed: ${e.getMessage}")
        Map.empty
      }
    val json = (SparkEntry.oracleSql ++ trained)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
