package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and reads
  * only through these helpers so predicate pushdown / column pruning reach the
  * parquet scan (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet SCHEMAS memoized per (dir, table): without the explicit
    * schema, every `spark.read.parquet` call runs a footer-inference job —
    * 50-200 ms per read per query invocation (StageTimeProbe r13), and a
    * 178-query bench pass pays it hundreds of times for ten fixed fixture
    * schemas. Metadata only — the DATA is re-read from parquet on every
    * invocation; re-inferred once per JVM. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private def schemaOf(spark: SparkSession, path: String) =
    schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` arrives as parquet TIMESTAMP whose unit has CHANGED across
    * fixture generations (NANOS first, now MICROS) — so this loader owns the
    * one normalization point: whatever the physical type, downstream always
    * sees `ts` as epoch-NANOS BIGINT and derives epoch-millis via exact
    * integer division ([[eventMs]]) — no float or timestamp precision ever
    * crosses the oracle boundary.
    *  - TIMESTAMP(NANOS): Spark 4 refuses it as a timestamp type; legacy
    *    long mode reads the raw nanos directly.
    *  - TIMESTAMP(MICROS) (naive → TIMESTAMP_NTZ): cast through TIMESTAMP
    *    under the UTC session (instant-preserving), then exact
    *    `unix_micros * 1000` — the same nanos the NANOS fixture carried. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(apply(s, d, "events"))
  }

  /** Rewrite a raw events frame so `ts` is epoch-nanos BIGINT (see
    * [[events]]); shared by the batch loader and the streaming source. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, unix_micros}
    df.schema("ts").dataType match {
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df // already BIGINT nanos (legacy-long read of NANOS parquet)
    }
  }

  /** Streaming file source over a fixture table, handling BOTH physical
    * layouts: the driver's fixtures are single FILES named
    * `<table>.parquet` (a bare-file path makes the file source fail with
    * "Option 'basePath' must be a directory"), while Spark-written tables
    * — the 10×/100× probe fixtures — are DIRECTORIES of part files (where
    * a `pathGlobFilter` on the parent matches nothing and the stream reads
    * ZERO rows). The r13 snapshot shipped the direct-path half of this
    * migration only, breaking every single-file streaming spec; the layout
    * check makes the choice from the filesystem. */
  def streamSource(s: SparkSession, d: String, table: String): DataFrame = {
    val schema = schemaOf(s, s"$d/$table.parquet")
    if (new java.io.File(s"$d/$table.parquet").isDirectory)
      s.readStream.schema(schema).parquet(s"$d/$table.parquet")
    else
      s.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(d)
  }

  /** The size gate of [[spreadSmall]] and [[materializeSmall]]: both act
    * only on frames whose ESTIMATED size ([[sizeOf]]) is at most this. */
  private val SmallBytes: Long = 64L << 20

  /** Spread a CPU-HEAVY narrow pipeline across the session's cores when its
    * input relation is tiny: the driver fixtures are single sub-MB parquet
    * files, so every scan is ONE split and per-row-expensive operators
    * (MinHash/shingle hashing, tokenize+explode fan-out, PNG/WAV decode,
    * URL canonicalization) ran single-threaded — measured 6-15 s
    * single-task stages at sf0.1 (r13 StageTimeProbe).
    *
    * Scale-adaptive: the repartition fires only below [[SmallBytes]] of
    * estimated input (plan stats ≈ file bytes), where the added exchange
    * moves a provably trivial volume; at real scale the scan already
    * yields ≥ cores splits and this is a no-op. Hash-keyed (deterministic
    * under retry — the chaos-gate contract), never round-robin.
    *
    * `bytesPerTask` scales the TARGET partition count with the estimated
    * input instead of always using the session's core count (r13 verdict:
    * always-cores over-partitioned sub-MB frames — `sample_dsir` and
    * `text_window_cooc` measured FASTER at 8 cores than 32, scheduling +
    * exchange overhead exceeding the win). The caller picks it from the
    * known per-row cost of the consumer: per-row DECODE (ImageIO/WAV) and
    * fused MinHash want every core even on tiny bytes (≈8-16 KB/task);
    * tokenize/explode pipelines saturate around 64 KB/task. */
  def spreadSmall(df: DataFrame, key: Column, bytesPerTask: Long = 64L << 10): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = sizeOf(df)
    if (bytes <= SmallBytes && cores > 1) {
      val target = (bytes + bytesPerTask - 1) / bytesPerTask
      val p = target.min(BigInt(cores)).max(BigInt(1)).toInt
      if (p > 1) df.repartition(p, key) else df
    } else df
  }

  /** Estimated size of `df` in bytes, from its optimized plan's statistics
    * (≈ file bytes for a scan-rooted frame): the one size statistic that
    * [[spreadSmall]] and [[materializeSmall]] gate on. */
  def sizeOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Eager materialization of a derived (projected) frame that several
    * consumers re-derive, usually over a [[spreadSmall]] input: at most
    * [[SmallBytes]] the projection is computed ONCE and checkpointed
    * (released at the harness's between-queries drain via
    * [[graft.Checkpoints]]); above it the frame is returned as-is — the
    * consumers' re-derivation is the at-scale shape (a corpus-sized pinned
    * block set would be worse than recompute). The checkpoint leaf is also
    * an optimizer barrier: without it, filters INFERRED from a downstream
    * explode (size > 0, isnotnull) re-expand the projection's expensive
    * expressions below the spread exchange and the whole derivation runs
    * 2-3× per row on the single scan split — the r13 StageTimeProbe
    * measured 3-4.4 s single-task tokenize stages per consumer at sf0.1
    * from exactly that. */
  def materializeSmall(df: DataFrame): DataFrame =
    if (sizeOf(df) <= SmallBytes) graft.Checkpoints.track(df.localCheckpoint(true))
    else df

  /** Epoch-millis of the nanos `ts` column of [[events]] (exact: `DIV`). */
  def eventMs: Column = expr("ts DIV 1000000")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
