package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-generated 10× fixture for the full-set scale recording (BASELINE.md
  * round-10 section): every fact table replicated `copies` times with
  * CONSISTENT foreign-key offsets (the TPC-H scaling stance — dimensions
  * stay fixed, facts grow), documents/embeddings perturbed per copy so the
  * dedup/similarity families see realistic near-dup cliques rather than
  * degenerate exact clones.
  *
  * Key-offset choices that keep every query's contracts intact:
  * - event_id += copy·100,000 (max 999,999) — stays under ev_ohlc's 10⁶
  *   injectivity guard;
  * - vec_id += copy·100,000 (max ≈ 902,000) — stays disjoint from
  *   dedup_lsh_pairs_prod's planted ids at +10⁶;
  * - TPC-H keys += copy·10,000,000 — far above any base key, applied to
  *   both sides of every FK so joins keep their selectivity.
  *
  * Copies > 10 switch to WIDE 10⁹ strides (the 100× probe regime — see
  * the stride-regime comment in `main`); ≤ 10 byte-reproduces the
  * committed 10× fixture.
  *
  * Run: `runMain graft.tools.TenXGen [outDir] [srcDir] [copies]`, then
  * `runMain graft.Verify outDir <dumpDir>`. */
object TenXGen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1x10")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val nCopies = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // The per-copy ID offsets below assume the base fixture's ID ranges;
    // a larger source fixture or more copies would silently collide IDs
    // across copies and break uniqueness contracts downstream (ev_ohlc's
    // injectivity, the LSH planted-ID disjointness at +10^6) — so assert
    // the assumptions loudly up front, the evOhlc-guard stance.
    def guard(df: DataFrame, idCol: String, bound: Long): Unit = {
      val mx = df.agg(max(col(idCol))).head().getLong(0)
      require(mx < bound, s"[tenx] max($idCol) = $mx >= offset stride $bound: " +
        s"copies would collide; shrink the source fixture or widen the stride")
    }
    // Two stride regimes (round-12, VERDICT r11 #3):
    //   - copies <= 10: the LEGACY strides, byte-reproducing the committed
    //     10x fixture (BENCH_10X comparability) and keeping EVERY query
    //     contract intact (event_id stays under ev_ohlc's 10^6 packing);
    //   - copies > 10 (the 100x probe): WIDE strides derived from the
    //     measured maxima + each table's plant band, all rounded up to
    //     10^9 — copy bands leave the plant offsets (+10^6/+2*10^6 vec,
    //     +10^7/+2*10^7 doc) inside each copy's unused gap, so the LSH /
    //     case-variant / contamination plants stay collision-free at ANY
    //     copy count that fits a Long. Out-of-envelope in wide mode (and
    //     loudly printed): ev_ohlc's event_id<10^6 packing injectivity —
    //     the 100x recording targets the top-10 heavy queries, not it.
    val wide = nCopies > 10
    guard(graft.Tables.events(spark, src), "event_id", 100000L)
    guard(graft.Tables.embeddings(spark, src).select(col("vec_id")), "vec_id", 100000L)
    guard(graft.Tables.documents(spark, src).select(col("doc_id")), "doc_id", 1000000L)
    guard(graft.Tables.orders(spark, src).select(col("o_orderkey")), "o_orderkey", 10000000L)
    guard(graft.Tables.lineitem(spark, src)
      .select(greatest(col("l_orderkey"), col("l_partkey"), col("l_suppkey")).as("k")),
      "k", 10000000L)
    guard(graft.Tables.customer(spark, src).select(col("c_custkey")), "c_custkey", 10000000L)
    guard(graft.Tables.supplier(spark, src).select(col("s_suppkey")), "s_suppkey", 10000000L)
    guard(graft.Tables.part(spark, src).select(col("p_partkey")), "p_partkey", 10000000L)
    val W = 1000000000L // wide stride: 10^9 > every base max + plant band
    require(!wide || nCopies.toLong * W > 0 && nCopies.toLong < Long.MaxValue / W,
      s"[tenx] $nCopies copies overflow Long at stride $W")
    // the wide-mode doc suffix is two base-26 LETTERS — ('a'+i/26) leaves
    // [a-z] at i >= 676 and the tokenizer would drop the suffix, silently
    // reintroducing the copy-collapse skew wide mode exists to fix
    require(!wide || nCopies <= 676,
      s"[tenx] wide-mode letter suffix is only alphabetic for <= 676 copies, got $nCopies")
    if (wide) println(s"[tenx] WIDE mode ($nCopies copies, stride $W): " +
      "ev_ohlc's event_id<10^6 packing contract is OUT OF ENVELOPE on this fixture")

    val cps = spark.range(nCopies).select(col("id").as("cp"))
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[tenx] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    val K = if (wide) W else 10000000L
    val strideEvent = if (wide) W else 100000L
    val strideDoc = if (wide) W else 1000000L
    val strideVec = if (wide) W else 100000L

    // dimensions: fixed (the TPC-H scaling model)
    write(graft.Tables.region(spark, src), "region")
    write(graft.Tables.nation(spark, src), "nation")

    write(graft.Tables.customer(spark, src).crossJoin(cps)
      .select((col("c_custkey") + col("cp") * K).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    write(graft.Tables.supplier(spark, src).crossJoin(cps)
      .select((col("s_suppkey") + col("cp") * K).as("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal")), "supplier")
    write(graft.Tables.part(spark, src).crossJoin(cps)
      .select((col("p_partkey") + col("cp") * K).as("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")), "part")
    write(graft.Tables.orders(spark, src).crossJoin(cps)
      .select((col("o_orderkey") + col("cp") * K).as("o_orderkey"),
        (col("o_custkey") + col("cp") * K).as("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")), "orders")
    write(graft.Tables.lineitem(spark, src).crossJoin(cps)
      .select((col("l_orderkey") + col("cp") * K).as("l_orderkey"),
        (col("l_partkey") + col("cp") * K).as("l_partkey"),
        (col("l_suppkey") + col("cp") * K).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate")), "lineitem")

    // events: ts arrives as epoch-nanos BIGINT through Tables.events and is
    // written back as BIGINT (normalizeEventTs passes LONG through on read)
    val maxUser = graft.Tables.events(spark, src).agg(max(col("user_id"))).head().getLong(0)
    write(graft.Tables.events(spark, src).crossJoin(cps)
      .select((col("event_id") + col("cp") * strideEvent).as("event_id"), col("ts"),
        (col("user_id") + col("cp") * (maxUser + 1L)).as("user_id"),
        col("event_type"), col("value"), col("props")), "events")

    // documents: per-copy letter-coded suffix token — copies are NEAR dups
    // of each other (tokens differ by one), so dedup families work against
    // realistic cross-copy cliques instead of byte-identical clones
    val docs = graft.Tables.documents(spark, src)
      .as[(Long, String, String, String, Long)]
      .flatMap { case (id, text, lang, source, _) =>
        (0 until nCopies).iterator.map { i =>
          // wide mode: base-26 LETTER suffix — ('a'+i) leaves \p{L} past
          // i≈25, the tokenizer would drop it and collapse copies into
          // byte-equal-after-tokenization cliques, skewing dedup workloads
          val t = if (i == 0) text
            else if (wide) text + " c" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
            else text + " c" + ('a' + i).toChar
          (id + i * strideDoc, t, lang, source, t.length.toLong)
        }
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docs, "documents")

    // embeddings: per-copy deterministic ±1 sign blend at factor 0.6
    // (cos(base, copy) ≈ 0.86 — below the τ=0.9 production threshold, so
    // copies are plausible neighbors, not planted dups)
    val emb = graft.Tables.embeddings(spark, src)
      .as[(Long, Array[Float], Int)]
      .flatMap { case (id, v, label) =>
        (0 until nCopies).iterator.map { i =>
          if (i == 0) (id, v, label)
          else {
            var s = 100L + i
            val out = v.map { x =>
              s = (s * 1103515245L + 12345L) & 0x7FFFFFFFL
              val sign = if (((s >> 16) & 1L) == 1L) 1.0f else -1.0f
              x * (1.0f + 0.6f * sign)
            }
            (id + i * strideVec, out, label)
          }
        }
      }.toDF("vec_id", "embedding", "label")
    write(emb, "embeddings")
    spark.stop()
  }
}
