package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftrightunsigned}

/** Data-layout control for at-rest tables — the scan-pruning lever that
  * matters most at 100 TB: a predicate can only skip what the layout made
  * skippable.
  *
  * [[sortedWrite]] range-partitions on the sort key and sorts within each
  * output file, so every parquet row group covers a narrow, disjoint key
  * interval and its min/max footer stats become selective: a range
  * predicate then prunes row groups (and with partition-count planning,
  * whole files) instead of decoding them. On an unsorted layout every row
  * group spans the whole key domain and min/max stats can never exclude
  * anything — the same predicate decodes the full table. The delta is
  * measured directly by LayoutSpec via filesystem byte statistics.
  *
  * This is the same at-rest argument as the IVF index's `partitionBy
  * (list_id)` (prune by list) — here applied to the general "big fact
  * table scanned by range predicates" case, e.g. event time. At scale the sort is a one-time
  * write-amplification cost paid once per ingest batch, amortized over
  * every subsequent scan. */
object Layout {

  def sortedWrite(df: DataFrame, path: String, sortCols: Seq[String],
                  nFiles: Int, rowGroupBytes: Int = 1 << 20): Unit =
    df.repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toLong)
      .parquet(path)

  /** SMALL-FILE COMPACTION — the other at-rest layout chore a 100 TB table
    * needs: streaming ingest and per-partition writers leave thousands of
    * KB-sized files whose open/footer/seek overhead dominates scans and
    * whose count bloats the driver's file index. Compact by SIZE, not file
    * count: read the table, measure its bytes from the filesystem, and
    * rewrite into ceil(bytes / targetFileBytes) files. A plain `coalesce`
    * would be cheaper (no shuffle) but skew-prone — it glues ADJACENT
    * input files, so hot ingest hours stay hot; `repartition`'s round-robin
    * shuffle costs one pass over the data and yields uniform output files.
    * Content is preserved row-for-row (no sort — compose with
    * [[sortedWrite]]/[[zorderWrite]] when re-clustering is wanted, which
    * subsume compaction). Writes to a NEW path: same zero-read-downtime
    * generation contract as `compactIvfIndex`.
    *
    * The frame is derived from `inPath` INSIDE the function: output file
    * count is sized from that path's on-disk bytes, so letting a caller
    * supply an arbitrary (filtered, joined, re-projected) frame would
    * silently size the output from data it doesn't contain. Compacting a
    * transformed frame is just `sortedWrite`/`df.repartition(n).write`
    * with a caller-chosen n.
    *
    * Returns the number of output data files. */
  def compactSmallFiles(spark: SparkSession, inPath: String, outPath: String,
                        targetFileBytes: Long = 128L << 20): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath).repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    nOut
  }

  /** HIVE-STYLE PARTITIONED write — the third at-rest layout lever next to
    * [[sortedWrite]] (row-group pruning) and [[zorderWrite]] (multi-column
    * pruning): directory-level partitioning on a low-cardinality column,
    * which static predicates prune at FILE-LISTING time (no footer is even
    * opened) and — the 100 TB join lever — DYNAMIC PARTITION PRUNING
    * prunes at runtime: when the fact table joins a filtered dimension on
    * the partition column, Catalyst plants the broadcast-built key set as
    * a `DynamicPruningExpression` on the fact scan, so only the joined
    * partitions' files are read at all. LayoutSpec proves both from the
    * executed plan and the scan's file-count metric. Partition column
    * cardinality is the caller's contract (hundreds of directories, not
    * millions — the standard hive-layout caveat). */
  def partitionedWrite(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Bit-interleaved Z-value of integer columns (each already scaled into
    * [0, 2^bits)): bit i of column c lands at position i·n + c, so sorting
    * by the result walks the Z-order space-filling curve. Disjoint target
    * bits make the reduce a plain sum; ~bits·n codegen'd integer ops, no
    * UDF. */
  def zvalue(cols: Seq[Column], bits: Int): Column =
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, ci) =>
        shiftleft(shiftrightunsigned(c.cast("long"), i).bitwiseAND(lit(1L)),
          i * cols.length + ci)
      }
    }.reduce(_ + _)

  /** Z-ORDER write — the MULTI-column pruning layout (the lakehouse
    * `OPTIMIZE ZORDER BY` technique): [[sortedWrite]] makes ONE column's
    * row-group stats selective and leaves every other column's stats
    * spanning the full domain; sorting by the interleaved-bit Z-curve makes
    * row groups cover small HYPER-RECTANGLES of the key space, so a range
    * predicate on ANY of the z-columns prunes — the per-column selectivity
    * degrades from 1/s (dedicated sort) to ≈ (1/s)^(1/n) for n columns,
    * the standard trade for pruning on all of them at once.
    *
    * `cols` maps each column to its domain bound; values are linearly
    * scaled into [0, 2^bitsPerCol) (the caller picks bounds the way the
    * IVF index picks nlist — from corpus stats; skewed domains would
    * pre-bucket by rank first, the same range-partition machinery
    * sortedWrite already rides). The Z-value exists only as a sort/
    * partition expression — the written schema is unchanged. LayoutSpec
    * proves the contract from parquet footers: a 1/32 range on EITHER
    * column touches a small fraction of Z-ordered row groups, while the
    * single-column-sorted layout prunes only its own column and the
    * hash-scattered layout prunes nothing. */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[(String, Long)],
                  nFiles: Int, rowGroupBytes: Int = 1 << 20,
                  bitsPerCol: Int = 16): Unit = {
    val z = zvalue(cols.map { case (c, max) =>
      col(c).cast("long") * (1L << bitsPerCol) / (max + 1)
    }, bitsPerCol)
    df.repartitionByRange(nFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toLong)
      .parquet(path)
  }

  /** Write `df` as a BUCKETED (and per-bucket sorted) table: rows are
    * hash-placed into `buckets` files by `bucketCol` at write time, and the
    * catalog records the layout. Two tables bucketed the same way on their
    * join key then sort-merge join with ZERO exchange on either side — the
    * repeated-join shuffle is paid once at ingest instead of per query.
    * This is the at-rest form of the co-located fact-fact join: at
    * 100 TB, orders⋈lineitem on orderkey is THE recurring join, and
    * bucketing both sides makes every instance of it exchange-free. */
  def bucketedWrite(df: DataFrame, table: String, path: String,
                    bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Overwrite replaces the path's previous generation in place — callers
    // reuse one deterministic path per session instead of leaking a fresh
    // directory per invocation
    df.write.mode(SaveMode.Overwrite).bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path).saveAsTable(table)
  }

  /** Equi-join two same-bucketed tables written by [[bucketedWrite]]; the
    * physical plan must show a SortMergeJoin with NO Exchange below it
    * (plan-asserted by LayoutSpec). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable),
      col(leftKey) === col(rightKey))
}
