package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** Order-independent fingerprint of a query result: its row count plus,
  * per column, the exact sum of every row's 64-bit hash of that column.
  * Column names and types are part of the fingerprint, so a schema change
  * is a mismatch too. Computing it is one aggregate job that reads every
  * column of the full result. */
object Digest {

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  // map columns are not hashable; their sorted entry arrays are
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq
    val sums = fields.map(f =>
      sum(xxhash64(hashable(quoted(f.name), f.dataType)).cast("decimal(38,0)")))
    val row = df.agg(count(lit(1)), sums: _*).head()
    val rows = row.getLong(0)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      s"${f.name}:${f.dataType.simpleString}:${Option(row.get(i + 1)).getOrElse("null")}"
    }
    val sha = MessageDigest.getInstance("SHA-256")
      .digest((rows.toString +: cols).mkString("|").getBytes(UTF_8))
    s"$rows:" + sha.take(12).map(b => f"$b%02x").mkString
  }

  /** Expected digests: one `query<TAB>digest` line per query. */
  def load(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\t"); q -> d }.toMap

  def save(path: Path, digests: Map[String, String]): Unit =
    Files.writeString(path, digests.toSeq.sortBy(_._1)
      .map { case (q, d) => s"$q\t$d\n" }.mkString, UTF_8)
}
