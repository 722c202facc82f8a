package perfbench

import scala.util.control.NonFatal

import graft.{Checkpoints, SparkEntry}
import graft.sources.ArtifactCache

/** Records the expected digest of every workload query. Each query runs
  * twice, in opposite orders with the artifact memos cleared in between;
  * a digest that differs between the two is reported as not repeatable.
  * With `--verify-dir` (the output of `graft.Verify`, already compared
  * with the DuckDB oracle by `tools/check.py`) each digest must also equal
  * the digest of the oracle-checked result. Only digests that pass every
  * check are written; the exit code is 1 if any query failed one. */
object Record {
  def apply(o: Opts): Int = {
    val spark = Main.session(o)
    val registry = SparkEntry.queries
    val qs = Workloads.all.flatMap(_.queries).distinct.sorted
    def digest(f: => org.apache.spark.sql.DataFrame): String =
      try Digest.of(f) catch { case NonFatal(e) => "error " + Main.describe(e) }
      finally Checkpoints.releaseTracked()
    def pass(order: Seq[String]): Map[String, String] =
      order.map(q => q -> digest(registry(q)(spark, o.fixture))).toMap
    val first = pass(qs)
    ArtifactCache.clear()
    val second = pass(qs.reverse)
    val oracle = o.verifyDir.map(dir => qs.map(q => q -> digest(spark.read.parquet(s"$dir/$q"))).toMap)
    val checked = qs.map { q =>
      val d = first(q)
      val status =
        if (d.startsWith("error")) "ERROR"
        else if (second(q) != d) s"UNREPEATABLE (second run ${second(q)})"
        else oracle.map(m => if (m(q) == d) "PROVEN" else s"MISMATCH (oracle-checked ${m(q)})")
          .getOrElse("RECORDED")
      println(s"$status $q $d")
      (q, d, status == "PROVEN" || status == "RECORDED")
    }
    Digest.save(o.digests, checked.collect { case (q, d, true) => q -> d }.toMap)
    spark.stop()
    if (checked.forall(_._3)) 0 else 1
  }
}
