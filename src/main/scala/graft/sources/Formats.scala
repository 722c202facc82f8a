package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FILE-FORMAT ingest robustness — the two format surfaces a lakehouse
  * ingest layer meets beyond parquet/JSONL: delimited text with REAL
  * dirt (the fixture is always clean, so the dirt is planted
  * deterministically — the `ev_props_nested` contract at the file-format
  * level), and a second columnar format (ORC) proven value-lossless
  * through a write→read roundtrip.
  *
  * Both queries include their ingest write BY DESIGN (the
  * `q_bucketed_join` amortized-ingest stance) into one deterministic
  * per-session path, overwritten per invocation and deleted on JVM exit
  * — the /tmp-accumulation lesson. */
object Formats {

  /** DIRTY-CSV ingest: customer rows rendered as raw delimited lines with
    * every (custkey % 17 == 3) row's balance replaced by the unparseable
    * token `n/a`, read back under an explicit schema in PERMISSIVE mode
    * with a corrupt-record column. The contract PERMISSIVE promises — a
    * malformed field nulls out, the raw line lands in the corrupt column,
    * every OTHER field of the row still parses — is exactly what the
    * output audits: per nation, total rows, corrupt rows, and the exact
    * DECIMAL balance total over clean rows. The oracle re-derives all
    * three from the parquet source and the planting rule, so the CSV
    * reader's semantics are value-pinned end to end. Lines are built by
    * hand (a proper CSV writer would escape the dirt away); none of the
    * rendered fields contains the delimiter. */
  def csvDirty(spark: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.sessionPath(spark, "csv")
    graft.Tables.customer(spark, dir)
      .select(concat_ws(",",
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        when(col("c_custkey") % 17 === 3, lit("n/a"))
          .otherwise(col("c_acctbal").cast(DecimalType(18, 2)).cast("string")),
        col("c_mktsegment")).as("value"))
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", LongType),
      StructField("c_acctbal", DecimalType(18, 2)),
      StructField("c_mktsegment", StringType),
      StructField("_corrupt", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("_corrupt")).as("n_corrupt"),
        coalesce(sum(when(col("_corrupt").isNull, col("c_acctbal"))),
          lit(0).cast(DecimalType(18, 2))).cast("double").as("clean_bal"))
  }

  /** DuckDB re-derivation of [[csvDirty]]: the planting rule applied to
    * the parquet source — the CSV reader must agree with it exactly. */
  val csvDirtyOracleSql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS n_rows,
       CAST(COUNT(*) FILTER (c_custkey % 17 = 3) AS BIGINT) AS n_corrupt,
       CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
         FILTER (c_custkey % 17 <> 3), 0) AS DOUBLE) AS clean_bal
     FROM customer GROUP BY 1"""

  /** ORC ROUNDTRIP: the lineitem pricing projection written to ORC (the
    * second columnar format Spark ships besides parquet) and aggregated
    * FROM THE ORC COPY — equality with the parquet-derived oracle proves
    * the format path value-lossless, including DECIMAL fidelity. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.sessionPath(spark, "orc")
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    // one ORC generation per fixture state: the copy is the INGEST, the
    // registered query is the scan+agg FROM it (ArtifactCache contract)
    ArtifactCache.cachedBuild(path, ArtifactCache.fixtureKey(dir)) {
      graft.Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          dec(col("l_quantity")).as("qty"), dec(col("l_extendedprice")).as("price"))
        .write.mode("overwrite").orc(path)
    }
    spark.read.orc(path)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty")).cast("double").as("sum_qty"),
        sum(col("price")).cast("double").as("sum_price"),
        count(lit(1)).as("n_rows"))
  }

  /** DuckDB re-derivation of [[orcRoundtrip]] from the parquet source. */
  val orcRoundtripOracleSql: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_rows
     FROM lineitem GROUP BY 1, 2"""
}
