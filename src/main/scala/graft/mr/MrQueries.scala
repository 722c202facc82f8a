package graft.mr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Declarative (Catalyst-planned, codegen'd) DataFrame forms of the reference
  * MapReduce apps, run over the fixture `documents` table. These are the
  * oracle-checked surface; [[MrJob]] +[[MrApp]] is the equivalent typed
  * plugin-style surface (differentially tested against these in MrSpec).
  *
  * Scale notes: `explode(split(...))` runs inside whole-stage codegen; the
  * groupBy gets map-side partial aggregation. No driver-side collection
  * anywhere. The inverted index's `collect_set` is per-word bounded by the
  * distinct-doc count — at 100 TB you'd cap/sample the posting list or page
  * it, which is why n_docs is also emitted as a scalar.
  */
object MrQueries {

  /** explode documents into non-empty word tokens (P1, wc.go:26-29). */
  private def words(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), Tokenize.NonLetter)).as("word"))
      .filter(length(col("word")) > 0)

  /** Word count (A2, /root/reference/src/mrapps/wc.go). */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir).groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Inverted index (A3, /root/reference/src/mrapps/indexer.go): per word,
    * distinct-doc count + comma-joined sorted doc list (docs as strings,
    * sorted lexically — matches Go sort.Strings, indexer.go:39). */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir)
      .select(col("word"), col("doc_id").cast("string").as("doc"))
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col("doc"))).as("docs"))
      .select(col("word"),
        size(col("docs")).cast("bigint").as("n_docs"),
        concat_ws(",", col("docs")).as("doc_list"))

  /** Sorted value concat per group (A4, crash/nocrash reduce shape,
    * /root/reference/src/mrapps/nocrash.go:40-50): group documents by lang,
    * value list = sorted doc ids, space-joined. */
  def sortedConcat(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id").cast("string").as("doc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(" ", sort_array(collect_list(col("doc")))).as("docs"))
}
