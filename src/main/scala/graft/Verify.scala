package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (not used by the driver): comma-separated query
    // names, to iterate on a subset locally
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(',').toSet)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = tools.Harness.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // prints `[verify] <q> failed: <root cause>` and, for a query that
    // still holds a persisted RDD after the drain, `[verify] <q> left N
    // persisted RDDs`
    tools.Harness.runEach(spark, "verify", sfDir, tools.Harness.registry(only)) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }: Unit
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
      .map { case (k, v) => s"${tools.Harness.json(k)}: ${tools.Harness.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
