package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational query surface over the TPC-H-ish fixture tables.
  *
  * Design notes for scale (local[32] today, 1000-executor cluster tomorrow):
  *   - Money/quantity math is done in `DECIMAL(18,2)` and cast back to double
  *     at the output boundary — exact, engine-independent results (the
  *     DuckDB oracle computes the identical decimal sums), and still
  *     whole-stage-codegen-friendly.
  *   - Dimension tables (region/nation/supplier/customer at these SFs) are
  *     explicitly `broadcast()` so the big fact-side scan never shuffles for
  *     the join. At 100 TB, lineitem/orders are the only tables that matter;
  *     all joins below are either broadcast or co-partitioned on the join key.
  *   - Aggregations are declarative (`groupBy.agg`) so Catalyst plans
  *     partial (map-side) aggregation before the exchange.
  */
object RelationalQueries {

  /** Cast a 2-decimal money/qty double to exact decimal for aggregation. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Pricing summary report — groupBy two low-cardinality flags, wide set of
    * aggregates. Map-side partial agg collapses 60k rows to ~6 groups per
    * partition before the shuffle; at 100 TB this stays a 2-stage plan with a
    * tiny exchange. (Reference analogue: A1/A2 grouped reduce,
    * /root/reference/src/mr/worker.go:161-182.)
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  /** Selective filter + tiny projection; the filter and the 3-column read
    * schema must reach the parquet scan (PushedFilters in explain). */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"))
  }

  /** Fact-fact join (orders ⋈ lineitem, co-keyed on orderkey — at scale both
    * sides shuffle on the same key once; with bucketing they co-locate) plus a
    * broadcast dimension join (customer). Top-10 by exact decimal revenue. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    // JOIN-FIRST, not eager pre-aggregation — deliberately the opposite of
    // q5's shape, because here the dimension filter is SELECTIVE (~1/5 of
    // customers): joining first lets the (orders ⋈ BUILDING-customers)
    // side collapse — AQE broadcasts it when small, so lineitem reaches the
    // final agg without a raw shuffle — and the group-by then aggregates
    // only the surviving fifth of lineitem, with map-side combine on the
    // one exchange it does pay. Pre-aggregating per orderkey first (q5's
    // trick) would compute 5× more groups than survive and pin a full
    // lineitem-wide exchange into the plan regardless of what AQE learns.
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Multi-way star join: fact table joined to a chain of broadcast dims.
    * Revenue per nation. All dimension joins are broadcast; only the
    * lineitem ⋈ orders pair shuffles (on orderkey). */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    // EAGER per-orderkey pre-aggregation below the join — the right shape
    // here (and deliberately NOT q3's): this query has no selective filter,
    // every order survives, so the join cannot reduce the data and the only
    // question is what the fact-fact exchange carries. lineitem ⋈ orders is
    // N:1 on orderkey, so sum/count per l_orderkey below the join is exact
    // — decimal partial sums re-sum exactly in the final n_name agg — and
    // the orderkey exchange ships one pre-agged row per order instead of
    // every lineitem. Catalyst doesn't push aggregates below joins itself.
    val liAgg = li.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .as("rev"),
        count(lit(1)).as("items"))
    liAgg.join(o, liAgg("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        sum(col("items")).as("n_items"))
  }

  /** Semi/anti join semantics (EXISTS / NOT EXISTS): customers that do vs
    * don't have orders, per market segment. left_semi/left_anti never
    * materialize the right side's columns — cheapest join shapes at scale. */
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
    withO.join(without, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  /** Window functions: top-2 orders per customer by price (dense ranking) and
    * running revenue. Partition-local after one shuffle on o_custkey. */
  def qWindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .withColumn("running_spend",
        sum(dec(col("o_totalprice"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("bigint").as("rn"), col("running_spend"))
  }

  /** Set operations: parts referenced by lineitem vs the part catalog —
    * INTERSECT / EXCEPT / reverse-EXCEPT cardinalities. Computed in ONE pass:
    * full-outer join of the two distinct key sets and a per-key
    * classification, instead of three independent intersect/except plans
    * (which re-scan and re-shuffle both inputs 3×: 6 scans / 12 exchanges vs
    * 2 scans / 3 exchanges here — the distincts' hash partitioning on
    * `partkey` is reused by the join, so the join itself adds no exchange). */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val used = Tables.lineitem(spark, dir).select(col("l_partkey").as("partkey"))
      .distinct().withColumn("u", lit(1))
    val cat  = Tables.part(spark, dir).select(col("p_partkey").as("partkey"))
      .distinct().withColumn("c", lit(1))
    val counts = used.join(cat, Seq("partkey"), "full_outer")
      .select(
        when(col("u").isNotNull && col("c").isNotNull, "both")
          .when(col("u").isNotNull, "used_only")
          .otherwise("cat_only").as("side"))
      .groupBy(col("side")).agg(count(lit(1)).as("n"))
    // all three sides always present (count 0 when empty), like the
    // three-branch INTERSECT/EXCEPT form the oracle runs
    import spark.implicits._
    Seq("both", "used_only", "cat_only").toDF("side")
      .join(counts, Seq("side"), "left")
      .select(col("side"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Grouping sets / rollup: order counts and revenue at (status, priority),
    * (status) and grand-total granularities in one pass. */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("total_price"))
  }

  /** CUBE over (status, priority): all four grouping combinations in one
    * pass — completes the rollup / grouping-sets family. Same single
    * shuffle as a plain groupBy: Spark expands the grouping sets map-side. */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("total_price"))
  }

  /** Time-bucketed event aggregation (the batch shape of a streaming
    * tumbling-window agg; the Structured Streaming twin lives in
    * [[graft.streaming.EventStreams]]). Bucket is epoch-millis of the hour —
    * timestamp types never cross the oracle boundary. */
  def evHourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val ms = Tables.eventMs
    ev.groupBy(
        (ms - (ms % 3600000L)).as("hour_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** FUNNEL analysis: how far each user got through the strictly-ordered
    * view → click → purchase sequence (each stage's FIRST qualifying event
    * must be strictly after the previous stage's). SINGLE-SCAN, single
    * exchange: three stacked whole-partition min-windows on one user_id
    * partitioning, each stage's predicate referencing the previous window's
    * column (a null previous stage nulls the comparison, so the chain
    * short-circuits exactly like the join form), then a final per-user
    * aggregate that rides the SAME partitioning — no second shuffle. The
    * windows have no orderBy (unbounded frame ⇒ one linear pass per group,
    * sort on user_id only), so nothing here is the single-task global-
    * window trap. Replaces the round-7 shape that read the events table 4×
    * (one filtered scan per stage + distinct-users). Millisecond integers
    * only; no timestamps cross the oracle boundary. */
  def evFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), Tables.eventMs.as("ms"))
      .withColumn("view_ms",
        min(when(col("event_type") === "view", col("ms"))).over(w))
      .withColumn("click_ms",
        min(when(col("event_type") === "click" && col("ms") > col("view_ms"),
          col("ms"))).over(w))
      .withColumn("purchase_ms",
        min(when(col("event_type") === "purchase" && col("ms") > col("click_ms"),
          col("ms"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("view_ms")).as("view_ms"), min(col("click_ms")).as("click_ms"),
        min(col("purchase_ms")).as("purchase_ms"))
      .select(col("user_id"), col("view_ms"), col("click_ms"), col("purchase_ms"),
        when(col("purchase_ms").isNotNull, 3)
          .when(col("click_ms").isNotNull, 2)
          .when(col("view_ms").isNotNull, 1)
          .otherwise(0).as("stage"))
  }

  /** COHORT RETENTION: users bucketed by their signup day, counted as
    * retained on each later day they produced any event. One distinct pass
    * over (user, day) plus a cohort join on user_id — the (cohort_day,
    * day_offset) matrix is the output, day arithmetic all integer
    * epoch-day. The activity `distinct` is the only corpus-sized exchange;
    * the cohort table is users-sized and joins on the same user_id key. */
  def evRetention(spark: SparkSession, dir: String): DataFrame = {
    val day = expr("ts DIV 1000000 DIV 86400000") // exact integer epoch-day
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), day.as("day"))
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.select(col("user_id"), col("day")).distinct()
      .join(cohort, "user_id")
      .filter(col("day") >= col("cohort_day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** As-of join: for every `purchase` event, the most recent `view` event of
    * the same user at or before the purchase time.
    *
    * Implemented as the scalable union+window shape — tag both sides, one
    * shuffle on the join key, then a partition-local ordered carry-forward
    * (`last(..., ignoreNulls)`). This is linear in |L|+|R| with a single
    * exchange; the naive `L join R on key and r.ts <= l.ts` range join is
    * quadratic per key and is exactly what this operator exists to avoid at
    * 100 TB. Ties (view and purchase at the same ms) order the view first. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Tables.eventMs.as("ms"), col("event_id"), col("event_type"))
    val views     = ev.filter(col("event_type") === "view")
    val purchases = ev.filter(col("event_type") === "purchase")
    val tagged = views.select(col("user_id"), col("ms"), lit(0).as("side"), col("event_id"))
      .unionAll(purchases.select(col("user_id"), col("ms"), lit(1).as("side"), col("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_id", last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_view_ms", last(when(col("side") === 0, col("ms")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ms").as("purchase_ms"),
        col("last_view_id"), col("last_view_ms"))
  }

  /** Sketch aggregation: HyperLogLog++ distinct users per event type at 2%
    * target error, next to the exact count. At 100 TB the sketch is THE
    * answer for high-cardinality distincts: partial sketches merge
    * associatively map-side (bytes per group cross the wire, not values).
    * Estimates are engine-specific, so the oracle checks exact_users and the
    * estimate's documented error envelope rather than sketch equality. */
  def evApproxUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        // bounded sanity flag comparable across engines: estimate within 10%
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.1).as("estimate_ok"))

  /** Correlated scalar subquery (TPC-H Q2 shape on the fixture schema): per
    * part, the rows achieving the minimum extended price, aggregated to
    * (part, best_supp, best_price, n_best). Written in SQL so Catalyst's
    * decorrelation (RewriteCorrelatedScalarSubquery) turns the per-row
    * subquery into one aggregate + join — the scalable plan — instead of a
    * re-execution per outer row. */
  def qMinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_li")
    spark.sql(
      """SELECT l.l_partkey,
                MIN(l.l_suppkey) AS best_supp,
                MIN(l.l_extendedprice) AS best_price,
                COUNT(*) AS n_best
         FROM graft_li l
         WHERE l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                                    FROM graft_li l2
                                    WHERE l2.l_partkey = l.l_partkey)
         GROUP BY l.l_partkey""")
  }

  /** [[qAsofJoin]] expressed through the custom `AsOfJoinPlan` logical
    * operator (graft.plans.AsOf.join) — same semantics, same oracle; the
    * session must carry [[graft.GraftExtensions]] so the resolution rule can
    * expand the node. Exercises the (c)-tier extension path end-to-end
    * against DuckDB. */
  def qAsofOperator(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Tables.eventMs.as("ms"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ms").as("v_ms"), col("event_id").as("v_id"))
    graft.plans.AsOf.join(purchases, views, "user_id" -> "v_user", "ms" -> "v_ms")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ms").as("purchase_ms"),
        col("v_id").as("last_view_id"), col("v_ms").as("last_view_ms"))
  }

  /** Time-range join, binned: for every purchase, the count of (and most
    * recent) `view` events by the same user in the hour before it.
    *
    * The naive plan — `p JOIN v ON v.user = p.user AND v.ms BETWEEN p.ms-1h
    * AND p.ms` — gives Catalyst only `user_id` as an equi-key, so a hot user
    * degenerates to an O(|P|·|V|) per-key nested loop. Binning restores a
    * composite equi-key: replicate each view to time buckets
    * `floor(ms/1h)` and `floor(ms/1h)+1` (a 1-hour window spans at most two
    * 1-hour bins), equi-join on `(user_id, bin)`, then re-check the exact
    * range. Each qualifying pair matches in exactly one replica (the two
    * replicas carry different bins), so no dedup is needed. Cost: 2× shuffle
    * volume on the views side in exchange for hash-partitionable parallelism
    * that survives any per-user skew — the standard interval-join build
    * (Flink's interval join and range-join binning hints do the same). */
  def evRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val windowMs = 3600000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Tables.eventMs.as("ms"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms").as("pms"), col("event_id").as("purchase_id"))
      .withColumn("bin", expr(s"pms DIV $windowMs"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ms").as("vms"))
      .withColumn("vbin", expr(s"vms DIV $windowMs"))
      .withColumn("bin", explode(array(col("vbin"), col("vbin") + 1)))
      .drop("vbin")
    purchases.join(views,
        purchases("user_id") === views("v_user") && purchases("bin") === views("bin") &&
          col("vms") >= col("pms") - windowMs && col("vms") < col("pms"),
        "left")
      .groupBy(col("user_id"), col("purchase_id"), col("pms"))
      .agg(count(col("vms")).as("n_views_1h"), max(col("vms")).as("last_view_ms"))
      .select(col("user_id"), col("purchase_id"), col("pms").as("purchase_ms"),
        col("n_views_1h"), col("last_view_ms"))
  }

  /** GROUPING SETS with non-hierarchical sets — (status) and (priority)
    * marginals in one pass (rollup/cube can't express exactly this pair).
    * Catalyst expands to a single Expand + one aggregate: one scan, one
    * shuffle, versus two scans + two shuffles for the UNION ALL phrasing. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status_dim,
                COALESCE(o_orderpriority, 'ALL') AS priority_dim,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM graft_orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
  }

  /** Two-phase salted aggregation ([[graft.shard.Salting]]) registered
    * against the plain group-by oracle: the skew-proof plan must be
    * bit-identical to the direct one. `l_returnflag` has ~3 values over all
    * of lineitem — at 100 TB each key is a hot key, and the salt spreads each
    * over 16 reducers before the tiny (key, salt)-partial re-aggregation. */
  def qSkewSalted(spark: SparkSession, dir: String): DataFrame =
    graft.shard.Salting.saltedSumCount(
        Tables.lineitem(spark, dir),
        key = col("l_returnflag"), value = dec(col("l_quantity")),
        saltFrom = col("l_orderkey"), buckets = 16)
      .select(col("k").as("l_returnflag"),
        col("total_sum").cast("double").as("sum_qty"),
        col("total_count").as("n_items"))

  /** Exact interpolated quantiles (median / p90 / p99) of event value per
    * type, plus min/max. `percentile` sorts within the (tiny) group state —
    * exact, matching the oracle's quantile_cont; for sketch-based quantiles at
    * extreme cardinality swap in approx_percentile. */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        percentile(col("value"), lit(0.99)).as("p99"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        count(lit(1)).as("n"))

  /** PIVOT: long → wide over the closed `lang` domain (explicit value list,
    * so the plan is a single pass of conditional aggregates — Spark never
    * runs the two-phase distinct-discovery job an open pivot needs). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** UNPIVOT (melt): wide → long, the inverse reshape — n_tokens-ish doc
    * measures as (doc_id, metric, value) rows. Map-only. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"),
        size(split(col("text"), " ")).cast("bigint").as("n_space_tokens"))
      .unpivot(Array(col("doc_id")), Array(col("n_chars"), col("n_space_tokens")),
        "metric", "value")

  /** Quantile SKETCH next to the exact answer — the distributed-quantile
    * pattern at 100 TB (exact percentile is holistic: it buffers each
    * group's values; the GK sketch is bounded-memory and mergeable
    * map-side). Like [[evApproxUsers]], sketch values are engine-specific,
    * so each engine asserts ITS sketch lands inside the exact p45..p55
    * value envelope (rank error at accuracy 1000 is 0.1% — orders of
    * magnitude inside the band) and the oracle compares the exact median
    * plus both booleans. */
  def qQuantilesSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.5)).as("p50_exact"),
        count(lit(1)).as("n"),
        (percentile_approx(col("value"), lit(0.5), lit(1000))
          .between(percentile(col("value"), lit(0.45)), percentile(col("value"), lit(0.55))))
          .as("sketch_ok"))

  /** Sessionization via gap > 30 min: lag window + conditional cumulative sum.
    * One shuffle on user_id, then partition-local windows. */
  def evSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Tables.eventMs.as("ms"), col("event_id"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    ev.withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"))
  }

  /** SEMI-STRUCTURED extraction: `events.props` is a JSON string; parse it
    * with a declared schema (`from_json` — the typed door, not per-path
    * string probing) and aggregate the extracted field per event type.
    * Malformed/absent keys become NULL and are counted separately
    * (`n_events` vs `n_with_k`), the standard dirty-JSON contract.
    *
    * Scale shape: the parse is a map-only projection fused into the scan
    * stage (only `props` + `event_type` are read — column pruning reaches
    * the parquet footer). At 100 TB the JSON parse dominates CPU and
    * parallelizes embarrassingly; the aggregate itself has TWO exchanges
    * because of countDistinct — Spark's rewrite first aggregates on
    * (event_type, k), so one row per distinct pair crosses the first
    * exchange (map-side combined, but it grows with k's cardinality). For
    * a high-cardinality field swap in approx_count_distinct — the
    * ev_approx_users trade, sketch bytes instead of distinct values. */
  def evPropsExtract(spark: SparkSession, dir: String): DataFrame = {
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))).getField("k")
    Tables.events(spark, dir)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
  }

  /** NESTED/ARRAY JSON extraction with the dirty rows the flat fixture
    * lacks: the driver's `events.props` is always clean `{"k":N}`, so the
    * from_json NULL-contract [[evPropsExtract]] advertises was never
    * actually exercised by the gate. This query DERIVES a nested JSON
    * column from the events row itself — deterministically, so the oracle
    * rebuilds the identical strings with `||` — including a malformed row
    * (truncated JSON ⇒ every field NULL) and a quoted-numeric row
    * (`"u":"42"` ⇒ only `u` NULL: PERMISSIVE nulls the mismatched FIELD,
    * not the record — pinned empirically, see the oracle's comment), then
    * parses with a struct-of-array-of-struct schema and explodes the tag
    * array (`explode_outer`, so corrupt rows keep their NULL-tag row).
    *
    * Scale shape: identical to [[evPropsExtract]] — generate + parse +
    * explode are one fused map-only stage over the pruned scan; the
    * explode multiplies rows ×2 (tag count) before ONE map-side-combined
    * aggregate on (event_type, tag); countDistinct adds its standard
    * second exchange over (event_type, tag, u) partials. */
  def evPropsNested(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val m = col("event_id") % 13
    val json = when(m === 0, lit("{\"u\":"))
      .when(m === 1, concat(lit("{\"u\":\""), col("user_id").cast("string"),
        lit("\",\"tags\":[\"a\"],\"m\":{\"a\":1,\"s\":\"x\"}}")))
      .otherwise(concat(
        lit("{\"u\":"), col("user_id").cast("string"),
        lit(",\"tags\":[\"t"), (col("user_id") % 5).cast("string"),
        lit("\",\"t"), (col("event_id") % 3).cast("string"),
        lit("\"],\"m\":{\"a\":"), (col("event_id") % 100).cast("string"),
        lit(",\"s\":\""), col("event_type"), lit("\"}}")))
    val schema = StructType(Seq(
      StructField("u", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("m", StructType(Seq(
        StructField("a", LongType), StructField("s", StringType))))))
    // spreadSmall: from_json over a synthesized payload is the expensive
    // per-row op and the single-file events scan is one split (sf0.1,
    // local[4], median of 28: 586 ms spread vs 1040 ms unspread)
    Tables.spreadSmall(Tables.events(spark, dir), col("event_id"))
      .select(col("event_type"), from_json(json, schema).as("p"))
      .select(col("event_type"), col("p.u").as("u"), col("p.m.a").as("a"),
        col("p.m.s").as("s"), explode_outer(col("p.tags")).as("tag"))
      .groupBy(col("event_type"), col("tag"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("u")).as("n_u"),
        sum(col("a")).as("sum_a"),
        countDistinct(col("u")).as("n_users"),
        count(when(col("s") === col("event_type"), 1)).as("n_s_echo"))
  }

  /** 3·1.4826·MAD ≈ the 3σ rule under normality (1.4826 = 1/Φ⁻¹(3/4));
    * computed ONCE here and interpolated verbatim into the oracle SQL so
    * both engines compare against the same double literal (the BM25
    * float-constant device). */
  val AnomalyK: Double = 3.0 * 1.4826

  /** ROBUST OUTLIER DETECTION per event type: median/MAD (median absolute
    * deviation) instead of mean/stddev, so the detector itself is not
    * dragged by the outliers it hunts. An event is anomalous when
    * |value − median| > 3·1.4826·MAD ([[AnomalyK]]).
    *
    * Exactness contract: medians are EXACT (`percentile`, linear
    * interpolation — the q_quantiles stance), both engines interpolate
    * identically on the same doubles, and the rounded median/MAD columns
    * are the boundary-safe output surface. The two medians are holistic
    * (per-group value buffers); at 100 TB swap in `approx_percentile`
    * exactly as q_quantiles_sketch documents — the query shape (two
    * tiny broadcast joins back to the fact scan) is unchanged.
    *
    * Scale shape: three scans of a 2-column projection — (1) median per
    * type, (2) MAD per type given the broadcast medians, (3) the final
    * count-vs-threshold aggregate given both broadcast. Each intermediate
    * is |event_type| rows; nothing corpus-sized ever shuffles. */
  def evAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val withMed = ev.join(broadcast(med), "event_type")
    val mad = withMed.groupBy(col("event_type"))
      .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(abs(col("value") - col("med")) > lit(AnomalyK) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(first(col("med")), 6).as("p50"),
        round(first(col("mad")), 6).as("mad"))
  }

  /** The 100 TB form of [[evAnomaly]], REGISTERED (not just documented):
    * median and MAD via the mergeable `percentile_approx` sketch — exact
    * `percentile` is holistic (it buffers every group's values; at 100 TB
    * a hot event type OOMs the task), the sketch is bounded-memory and
    * map-side mergeable, so the detector keeps evAnomaly's exact shape
    * (two broadcast joins back to the fact scan) with sketch-sized state.
    *
    * Verification follows [[qQuantilesSketch]]'s envelope contract:
    * sketch values are engine-specific, so each engine asserts ITS sketch
    * median/MAD lands inside its own exact p45..p55 value envelope and
    * its sketch-threshold outlier count inside the exact counts at ±10%
    * threshold slack; the oracle compares the exact rounded medians plus
    * the three booleans. The exact columns exist to power that check —
    * a production run drops them and keeps the sketch side. */
  def evAnomalySketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type")).agg(
      percentile(col("value"), lit(0.5)).as("med"),
      percentile(col("value"), lit(0.45)).as("p45"),
      percentile(col("value"), lit(0.55)).as("p55"),
      percentile_approx(col("value"), lit(0.5), lit(1000)).as("med_sk"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"), col("p45"), col("p55"), col("med_sk"),
        abs(col("value") - col("med")).as("adev"),
        abs(col("value") - col("med_sk")).as("adev_sk"))
    val mad = dev.groupBy(col("event_type")).agg(
      percentile(col("adev"), lit(0.5)).as("mad"),
      percentile(col("adev"), lit(0.45)).as("mad45"),
      percentile(col("adev"), lit(0.55)).as("mad55"),
      percentile_approx(col("adev_sk"), lit(0.5), lit(1000)).as("mad_sk"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(first(col("med")), 6).as("p50"),
        round(first(col("mad")), 6).as("mad"),
        first(col("med_sk").between(col("p45"), col("p55"))).as("p50_sketch_ok"),
        first(col("mad_sk").between(col("mad45"), col("mad55"))).as("mad_sketch_ok"),
        sum(when(col("adev_sk") > lit(AnomalyK) * col("mad_sk"), 1L).otherwise(0L))
          .as("n_out_sk"),
        sum(when(col("adev") > lit(AnomalyK) * col("mad") * lit(1.1), 1L).otherwise(0L))
          .as("n_out_loose"),
        sum(when(col("adev") > lit(AnomalyK) * col("mad") * lit(0.9), 1L).otherwise(0L))
          .as("n_out_tight"))
      .select(col("event_type"), col("n_events"), col("p50"), col("mad"),
        col("p50_sketch_ok"), col("mad_sketch_ok"),
        col("n_out_sk").between(col("n_out_loose"), col("n_out_tight"))
          .as("outliers_sketch_ok"))
  }

  /** TIME-SERIES GAP FILL: densify the hourly per-type aggregate onto the
    * full [min_hour, max_hour] spine and carry the last observed value
    * forward (LOCF) across empty hours — the missing-bucket repair every
    * downstream charting/feature pipeline needs, and a surface the plain
    * hourly agg cannot express (absent groups produce no rows at all).
    *
    * Scale shape: the corpus-sized work is the SAME single exchange as
    * ev_hourly_agg; the spine is |event_type| × |hours| (built from a
    * 1-row broadcast range via `sequence`, never a corpus scan), the
    * left join against it is broadcast-sized, and the LOCF window is
    * partitioned per type over the hour count — bounded regardless of
    * corpus size. Leading gaps (no value yet to carry) stay NULL. */
  def evGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ms = Tables.eventMs
    // checkpoint: the hourly aggregate feeds THREE consumers (range, type
    // list, join) — without it each re-plans the corpus scan (plan audit
    // showed scans=3). The checkpointed frame is |types|×|hours| rows, so
    // materializing it is free at any corpus size and the corpus is
    // scanned ONCE. The returned plan reads it: tracked.
    val hourly = graft.Checkpoints.track(Tables.events(spark, dir)
      .groupBy(col("event_type"), (ms - (ms % 3600000L)).as("hour_ms"))
      .agg(sum(dec(col("value"))).cast("double").as("sum_value"),
        count(lit(1)).as("n_events"))
      .localCheckpoint(true))
    val range = hourly.agg(min(col("hour_ms")).as("lo"), max(col("hour_ms")).as("hi"))
    val spine = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(3600000L))).as("hour_ms"))
    val locf = Window.partitionBy(col("event_type")).orderBy(col("hour_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour_ms"), "left")
      .select(col("event_type"), col("hour_ms"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.as("filled"),
        last(col("sum_value"), ignoreNulls = true).over(locf).as("sum_value_locf"))
  }

  /** RANGE-frame moving aggregate: trailing 24-hour sum/avg over the hourly
    * per-type series — the VALUE-based window frame (`rangeBetween` on the
    * epoch-ms ORDER key) that no other registered query exercises; a rows
    * frame would silently be wrong wherever hours are missing.
    *
    * Float discipline: window engines disagree on double summation ORDER
    * (DuckDB's segment tree reassociates; Spark's running frame does not),
    * so the moving sum runs in DECIMAL(18,2) — associative, exact — and
    * only the final sum and sum/count division are cast to double.
    *
    * Scale shape: same single corpus exchange as ev_hourly_agg; the window
    * partitions per type over hour counts — bounded regardless of corpus
    * size, never the single-task global-window trap. */
  def evMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val ms = Tables.eventMs
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), (ms - (ms % 3600000L)).as("hour_ms"))
      .agg(sum(dec(col("value"))).as("sum_dec"), count(lit(1)).as("n_events"))
    val w24 = Window.partitionBy(col("event_type")).orderBy(col("hour_ms"))
      .rangeBetween(-23L * 3600000L, 0L)
    hourly
      .withColumn("ma24_sum", sum(col("sum_dec")).over(w24).cast("double"))
      .withColumn("ma24_hours", count(lit(1)).over(w24))
      .select(col("event_type"), col("hour_ms"),
        col("sum_dec").cast("double").as("sum_value"), col("n_events"),
        col("ma24_sum"), col("ma24_hours"),
        (col("ma24_sum") / col("ma24_hours")).as("ma24_avg"))
  }

  /** The remaining WINDOW RANK FAMILY in one surface: percent_rank,
    * cume_dist and ntile(4) of each supplier's account balance within its
    * nation. All three are exact small-integer arithmetic ((rank−1)/(n−1),
    * peaked-count/n, balanced-bucket assignment), so the doubles are
    * IEEE-identical across engines; the ORDER key includes s_suppkey so
    * ties can never make ntile/rank assignment engine-dependent.
    *
    * Scale shape: one exchange on s_nationkey, partition-local sort —
    * the textbook distributed window; no global ordering anywhere. */
  def qRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal"), col("s_suppkey"))
    Tables.supplier(spark, dir)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
  }

  /** OHLC (open/high/low/close) candlesticks per (event_type, hour) — the
    * ARGMIN/ARGMAX aggregate family (`min_by`/`max_by`) no other query
    * exercises: open/close pick the value AT the earliest/latest event
    * rather than an extremum OF the values. The ordering key is the exact
    * integer composite ms·10⁶ + event_id (unique — event_id is unique;
    * a runtime guard raises if event_id ever reaches 10⁶, where the
    * composite would stop being injective — widen the multiplier there),
    * so the pick is deterministic in both engines; picked values are raw
    * doubles (no arithmetic), high/low are exact MIN/MAX.
    *
    * Scale shape: one map-side-combined exchange over |types|×|hours|
    * groups — min_by/max_by partials carry one (value, ord) pair per
    * group, so the candlestick costs the same as a count. */
  def evOhlc(spark: SparkSession, dir: String): DataFrame = {
    val ms = Tables.eventMs
    // the composite is only injective while event_id < 10⁶ — past that,
    // two events in one ms could tie and open/close would be partition-
    // order lottery. Fail loudly instead of silently nondeterministic
    // (at that scale, widen the multiplier or switch ord to a
    // struct(ms, event_id) ordering).
    val guardedId = when(col("event_id") >= 1000000L,
      raise_error(lit("evOhlc ord overflow: event_id >= 1e6 breaks the " +
        "ms*1e6+event_id tie-break — widen the multiplier")))
      .otherwise(col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), (ms - (ms % 3600000L)).as("hour_ms"),
        col("value"), (ms * 1000000L + guardedId).as("ord"))
      .groupBy(col("event_type"), col("hour_ms"))
      .agg(min_by(col("value"), col("ord")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ord")).as("close"),
        count(lit(1)).as("n_events"))
  }

  /** TREND REGRESSION per event type: ordinary least squares of the hourly
    * value series (y = hourly decimal sum, x = hour index from the global
    * min hour) — slope, intercept and r², the analytics-dashboard
    * regression family (`regr_slope`-style). NEVER the built-in regr or
    * corr aggregates: their double moments accumulate in partition
    * order. All five moments here are EXACT (Σx, Σx² integer; Σy, Σxy,
    * Σy² decimal), so the closed-form normal equations are the same IEEE
    * doubles in any engine at any parallelism — the evImpute stance
    * extended to second-order cross moments. 6-decimal rounded surface.
    *
    * Scale shape: the hourly pre-aggregate is the one corpus exchange
    * (checkpointed — it feeds the min-hour broadcast and the moment agg);
    * moments are a |type|-row map-side-combined aggregate. */
  def evForecast(spark: SparkSession, dir: String): DataFrame = {
    val ms = Tables.eventMs
    val hourly = graft.Checkpoints.track(Tables.events(spark, dir)
      .groupBy(col("event_type"), (ms - (ms % 3600000L)).as("hour_ms"))
      .agg(sum(dec(col("value"))).as("y"))
      .localCheckpoint(true))
    val minHour = hourly.agg(min(col("hour_ms")).as("h0"))
    val d = hourly.crossJoin(broadcast(minHour))
      .select(col("event_type"),
        expr("(hour_ms - h0) DIV 3600000").as("x"), col("y"))
    d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"),
        col("sx").cast("double").as("sxd"), col("sxx").cast("double").as("sxxd"),
        col("sy").cast("double").as("syd"), col("sxy").cast("double").as("sxyd"),
        col("syy").cast("double").as("syyd"))
      .select(col("event_type"), col("n"),
        round((col("n") * col("sxyd") - col("sxd") * col("syd")) /
          (col("n") * col("sxxd") - col("sxd") * col("sxd")), 6).as("slope"),
        round((col("syd") - ((col("n") * col("sxyd") - col("sxd") * col("syd")) /
          (col("n") * col("sxxd") - col("sxd") * col("sxd"))) * col("sxd")) / col("n"), 6)
          .as("intercept"),
        round(((col("n") * col("sxyd") - col("sxd") * col("syd")) *
               (col("n") * col("sxyd") - col("sxd") * col("syd"))) /
          ((col("n") * col("sxxd") - col("sxd") * col("sxd")) *
           (col("n") * col("syyd") - col("syd") * col("syd"))), 6).as("r2"))
  }

  /** TPC-H Q7 shape (volume shipping): the nation→nation trade matrix —
    * lineitem joined to its supplier's nation AND its order's customer's
    * nation, revenue per (supp_nation, cust_nation, ship year). Exercises
    * the multi-hop star join with TWO roles of the same dimension.
    *
    * Scale shape: supplier/customer/nation broadcast; orders⋈lineitem is
    * the one co-keyed fact-fact shuffle (bucketing co-locates it). Year
    * extraction is calendar arithmetic both engines share under UTC. */
  def q7TradeVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .as("rev"),
        year(col("l_shipdate")).as("ship_year"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .join(broadcast(nat.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q12 shape (the fixture has no l_shipmode, so the classified
    * dimension is the order's priority class): per ship year, how many
    * line items belong to URGENT/HIGH orders vs the rest — the
    * conditional-count (CASE-aggregation) pattern over a fact-fact join. */
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), year(col("l_shipdate")).as("ship_year"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("ship_year"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
  }

  /** TPC-H Q14 (promo revenue share): per ship year, the fraction of
    * revenue from PROMO-type parts. Conditional DECIMAL sums; the share is
    * one double division of two exact decimals at the boundary. */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), year(col("l_shipdate")).as("ship_year"), rev.as("rev"))
      .join(broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_year"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("promo_dec"),
        sum(col("rev")).as("total_dec"))
      .select(col("ship_year"),
        col("promo_dec").cast("double").as("promo_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        (lit(100.0) * col("promo_dec").cast("double") / col("total_dec").cast("double"))
          .as("promo_share"))
  }

  /** TPC-H Q19 shape (bracketed disjunction): revenue from three
    * (brand, quantity-range, size-range) brackets OR-ed together — the
    * classic OR-of-ANDs predicate a naive engine evaluates post-join and a
    * good plan pushes: the part-side conjuncts (brand, size) filter the
    * broadcast BEFORE the join, the lineitem side keeps only the quantity
    * window union. One row out. */
  def q19Brackets(spark: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), rev.as("rev"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bracket =
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#19" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(sum(col("rev")).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  /** REFERENTIAL-INTEGRITY AUDIT — the data-quality gate a pipeline runs
    * before trusting a snapshot: orphan counts for every foreign-key
    * relation in the star schema, via left-anti joins. The fixture is
    * clean, so (exactly as [[qTableDiff]] does) each child key is
    * deterministically corrupted (every 101st key negated) so the audit
    * exercises a non-zero answer both engines must agree on.
    *
    * Scale shape: each relation is one anti join — dimension parents
    * broadcast; the lineitem→orders anti join shuffles both sides on the
    * key once (or rides bucketing, the Layout story). Output is 4 rows. */
  def qIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def corrupt(k: Column): Column = when(k % 101 === 0, -k).otherwise(k)
    // ONE child scan per relation: left-join against the (unique-keyed)
    // parent and count the null-extended rows — the count+anti-join pair
    // would scan the child twice (first plan audit showed scans=11)
    def audit(name: String, child: DataFrame, key: Column,
              parent: DataFrame, pkey: Column): DataFrame =
      child.select(corrupt(key).as("k"))
        .join(parent.select(pkey.as("pk")), col("k") === col("pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"))
    audit("lineitem->orders", Tables.lineitem(spark, dir), col("l_orderkey"),
        Tables.orders(spark, dir), col("o_orderkey"))
      .unionAll(audit("orders->customer", Tables.orders(spark, dir), col("o_custkey"),
        Tables.customer(spark, dir), col("c_custkey")))
      .unionAll(audit("customer->nation", Tables.customer(spark, dir), col("c_nationkey"),
        Tables.nation(spark, dir), col("n_nationkey")))
      .unionAll(audit("supplier->nation", Tables.supplier(spark, dir), col("s_nationkey"),
        Tables.nation(spark, dir), col("n_nationkey")))
  }

  /** FEATURE CLEANING for ML prep: mean-impute missing values and z-score,
    * per event type. Nulls are derived deterministically (every 7th
    * event_id) so both engines clean the identical dirty column. The
    * moments come from EXACT decimal sums — never a `stddev`/`avg` agg,
    * whose double accumulation is partition-order-dependent: sum and
    * sum-of-squares in DECIMAL (value has 2 decimals → the square has 4;
    * both associative), then mean/var/z as IEEE doubles OF those exact
    * sums, bit-identical in any engine at any parallelism.
    *
    * Scale shape: one map-side-combined |type|-group aggregate broadcast
    * back onto the scan — the same two-pass clean a 100 TB feature
    * pipeline runs; nothing corpus-sized shuffles. */
  def evImpute(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")).as("v"))
    val sq = col("v").cast(DecimalType(18, 2)) * col("v").cast(DecimalType(18, 2))
    val stats = dirty.groupBy(col("event_type")).agg(
      count(col("v")).as("n_obs"),
      sum(dec(col("v"))).as("sum_dec"),
      sum(sq).as("sumsq_dec"))
    dirty.join(broadcast(stats), "event_type")
      .withColumn("mean", col("sum_dec").cast("double") / col("n_obs"))
      .withColumn("variance",
        (col("sumsq_dec").cast("double") -
          col("sum_dec").cast("double") * col("sum_dec").cast("double") / col("n_obs"))
          / col("n_obs"))
      .select(col("event_id"), col("event_type"),
        col("v").isNull.as("was_null"),
        coalesce(col("v"), col("mean")).as("value_filled"),
        ((coalesce(col("v"), col("mean")) - col("mean")) / sqrt(col("variance"))).as("z"))
  }

  /** SNAPSHOT DIFF (CDC shape): classify every key of two table versions as
    * added / deleted / changed via one full-outer join on the key, emitting
    * only the difference rows (the realistic contract — at 100 TB the
    * unchanged majority must not be materialized). Version 2 is derived
    * deterministically from the fixture so both engines build the identical
    * pair: every 97th key deleted, every 89th repriced (+1.00 in
    * DECIMAL(18,2) — exact), every 83rd re-keyed negative (an add).
    *
    * Scale shape: both sides shuffle once on the join key (or co-locate for
    * free if both snapshots are bucketed/sorted on it — the Layout story);
    * the change classification is a map-side projection of the joined row.
    * No window, no skew sensitivity beyond the join itself. */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("price"))
    val v2 = v1
      .filter(col("k") % 97 =!= 0)
      .select(
        when(col("k") % 83 === 0, -col("k")).otherwise(col("k")).as("k"),
        when(col("k") % 89 === 0, col("price") + dec(lit(1.0)))
          .otherwise(col("price")).as("price"))
    v1.select(col("k"), col("price").as("old_price"))
      .join(v2.select(col("k"), col("price").as("new_price")), Seq("k"), "full_outer")
      .withColumn("change",
        when(col("old_price").isNull, "added")
          .when(col("new_price").isNull, "deleted")
          .when(col("old_price") =!= col("new_price"), "changed"))
      .filter(col("change").isNotNull)
      .select(col("k").as("o_orderkey"), col("change"),
        col("old_price").cast("double").as("old_price"),
        col("new_price").cast("double").as("new_price"))
  }

  /** The co-located fact-fact join THROUGH the at-rest bucketed layout
    * ([[graft.sources.Layout.bucketedWrite]]): orders and lineitem are
    * written bucketed-and-sorted on orderkey into a fresh generation, then
    * joined with ZERO exchange below the join (the one shuffle left is the
    * 3-group rollup). Registered against the plain-join oracle — the
    * layout must buy the exchange-free plan without changing a single
    * value. At 100 TB the bucketed write is paid once per ingest batch and
    * amortized over every orderkey join after it. */
  def qBucketedJoin(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    // one deterministic generation per session, overwritten in place on
    // every invocation (a fresh createTempDirectory per call accumulated
    // unbounded /tmp data across bench runs — DROP TABLE does not delete
    // an external table's path) and deleted on JVM exit
    val wh = graft.sources.ArtifactCache.sessionPath(spark, "bkt")
    // one bucketed-ingest generation per fixture state (ArtifactCache):
    // the write is the per-batch ingest cost, the registered query is the
    // exchange-free join THROUGH the layout — the skip requires the
    // catalog tables to have survived too (same session)
    graft.sources.ArtifactCache.cachedBuild(wh,
      graft.sources.ArtifactCache.fixtureKey(dir) + s":b$buckets",
      alive = spark.catalog.tableExists("graft_bkt_orders") &&
        spark.catalog.tableExists("graft_bkt_lineitem")) {
      graft.sources.Layout.bucketedWrite(
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus")),
        "graft_bkt_orders", s"$wh/orders", "o_orderkey", buckets)
      graft.sources.Layout.bucketedWrite(
        Tables.lineitem(spark, dir).select(col("l_orderkey"),
          (dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("rev")),
        "graft_bkt_lineitem", s"$wh/lineitem", "l_orderkey", buckets)
    }
    graft.sources.Layout.bucketedJoin(spark,
        "graft_bkt_orders", "graft_bkt_lineitem", "o_orderkey", "l_orderkey")
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q15 (top supplier): suppliers achieving the maximum revenue in
    * a ship-year window — the aggregate-vs-its-own-max shape (the classic
    * phrasing is a view referenced twice; here the revenue aggregate is
    * computed once and its max joins back as a broadcast 1-row frame, so
    * the fact table is scanned exactly once). All comparisons are on exact
    * DECIMAL sums — equality against the max cannot float-drift. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1998)
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("total_dec"))
    val mx = rev.agg(max(col("total_dec")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_dec") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_dec").cast("double").as("total_revenue"))
  }

  /** TPC-H Q16 (parts/supplier relationship): distinct supplier counts per
    * (brand, type, size) bucket, excluding suppliers on a complaint list
    * (stand-in: negative account balance — the fixture has no comment
    * column). The exclusion is a broadcast anti join BEFORE the aggregate;
    * the distinct count is the one expensive exchange. */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
          .filter(col("p_brand") =!= "Brand#15" && col("p_size").isin(1, 5, 9, 13))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** User-journey transition mining: the event-type Markov transition
    * matrix — for each user's time-ordered event stream, count (from →
    * to) consecutive pairs and each from-state's outgoing share. The
    * sequential structure comes from ONE lead() window per user (unique
    * (ms, event_id) ordering, so the successor is engine-deterministic);
    * the share is integer counts divided once at the boundary. At 100 TB
    * this is one shuffle on user_id + one on the 5×5 transition key. */
  def evTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val t = Tables.events(spark, dir)
      .select(col("user_id"), Tables.eventMs.as("ms"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val w2 = Window.partitionBy(col("from_type"))
    t.withColumn("share",
        col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(w2).cast("double"))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("share"))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — keep a materialized aggregate
    * current under an arriving batch WITHOUT rescanning the base corpus:
    * the base partition's pricing summary is aggregated once and STORED
    * (the materialized view); the delta batch (every 97th order — standing
    * in for a late-arriving ingest partition) is aggregated alone; the
    * refresh merges the two group-level partials. Summable state makes the
    * merge exact: DECIMAL sums re-sum (associative — the reason the money
    * contract is decimal, not double), counts add, and the oracle's
    * full-recompute over base ∪ delta must agree to the bit.
    *
    * The 100 TB economics this demonstrates: a full-corpus rollup costs a
    * corpus scan per refresh; the merge costs ONE delta scan plus a
    * groups-sized parquet read (here literally a few rows). In-query the
    * base build is paid once so the oracle can check the whole lifecycle —
    * the [[qBucketedJoin]] amortized-ingest stance; a production pipeline
    * would refresh against yesterday's stored view. Same per-session
    * deterministic path + JVM-exit cleanup as the bucketed layout. */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(18, 2))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val isDelta = col("l_orderkey") % 97 === 0
    // base and delta partials from ONE corpus pass (r14, §2.3): the former
    // shape aggregated lineitem twice (complementary filters, two full
    // scans, ~0.85 s each at sf0.1). Grouping by (group key, is_delta) in
    // one pass yields EXACTLY the per-slice partials — DECIMAL sums and
    // counts are exact and associative, so the base slice equals the old
    // filtered aggregate row-for-row. Groups-sized frame (2 × |flag ×
    // status| rows), checkpointed for its two consumers (MV write + delta
    // branch) and released at the harness drain.
    val parts = graft.Checkpoints.track(li
      .groupBy(col("l_returnflag"), col("l_linestatus"), isDelta.as("is_delta"))
      .agg(sum(dec(col("l_quantity"))).as("qty_dec"),
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("rev_dec"),
        count(lit(1)).as("count_order"))
      .localCheckpoint(true))
    val slice = (d: Boolean) => parts.filter(col("is_delta") === d).drop("is_delta")
    val mv = graft.sources.ArtifactCache.sessionPath(spark, "mv")
    // groups-sized MV: ONE output file (it is a handful of rows at any
    // corpus size — the whole point of the materialized rollup), and the
    // readback declares the schema we just wrote instead of re-running
    // footer inference (guide §6)
    val base = slice(false)
    base.coalesce(1).write.mode("overwrite").parquet(mv)
    // the refresh: stored view (groups-sized) ∪ delta partials, re-summed
    spark.read.schema(base.schema).parquet(mv).unionByName(slice(true))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty_dec")).as("q"), sum(col("rev_dec")).as("r"),
        sum(col("count_order")).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("q").cast("double").as("sum_qty"),
        col("r").cast("double").as("sum_revenue"), col("count_order"))
  }

  /** SLOWLY-CHANGING-DIMENSION (type 2) history build — turn each user's
    * event stream into versioned validity intervals of their current
    * event_type: consecutive repeats collapse (an SCD2 row records a
    * CHANGE, not an occurrence), each surviving change opens an interval
    * [valid_from, valid_to) closed by the next change (the last one runs
    * to the +∞ sentinel 253402300800000 ms = year 9999 — a NULL-free
    * boundary both engines carry as exact BIGINT). The standard
    * warehouse maintenance op: the dimension a fact table joins by
    * `valid_from <= ts < valid_to` (the [[evRangeJoin]] shape) to answer
    * "what was this user's state WHEN the fact happened".
    *
    * Scale shape: two per-user windows (lag to mark changes, lead +
    * row_number over survivors to close intervals and number versions) —
    * both partitioned by user_id, so one exchange on the user key and
    * bounded per-group sorts; no global window, no corpus-sized state.
    * Unique (ms, event_id) ordering makes every interval engine-
    * deterministic. */
  def evScd2(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val changes = Tables.events(spark, dir)
      .select(col("user_id"), Tables.eventMs.as("ms"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wAll))
      // null-safe change test: the first event (prev NULL) always opens
      .filter(!(col("prev_type") <=> col("event_type")))
    val wKept = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    changes
      .withColumn("valid_to_ms",
        coalesce(lead(col("ms"), 1).over(wKept), lit(253402300800000L)))
      .withColumn("version", row_number().over(wKept))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ms").as("valid_from_ms"), col("valid_to_ms"))
  }

  /** TPC-H Q18 (large-volume orders): customers whose order's total line
    * quantity exceeds a threshold — the aggregate-HAVING-subquery shape.
    *
    * The plan to want at 100 TB: ONE aggregation of lineitem by orderkey
    * (map-side partials collapse ~4 lines/order before the exchange), the
    * HAVING filter applied to the aggregate BEFORE any join (a few-percent
    * survivor set), then orders joins the tiny survivor frame and the
    * customer dimension broadcasts. Never join first and aggregate after —
    * that drags the full fact-fact join through the quantity sum. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
      .filter(col("qty_dec") > dec(lit(250)))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("qty_dec").cast("double").as("order_qty"))
  }

  /** TPC-H Q21 (waiting suppliers): for finished ('F') orders, suppliers
    * whose line shipped late (> 90 days after the order date — the fixture
    * has no commit/receipt dates) in a multi-supplier order where they were
    * the ONLY late supplier. Written in SQL because the interesting part is
    * Catalyst's decorrelation: the EXISTS / NOT EXISTS pair rewrites to a
    * left-semi and a left-anti join on `l_orderkey` (equi key) with the
    * `l_suppkey <>` tests as residual predicates — three hash joins
    * co-keyed on orderkey, no per-row re-execution. At scale all three
    * lineitem sides shuffle on the same key once (or co-locate bucketed). */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_li21")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_ord21")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supp21")
    spark.sql(
      """SELECT s_name, COUNT(*) AS numwait
         FROM graft_supp21, graft_li21 l1, graft_ord21
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM graft_li21 l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM graft_li21 l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY s_name""")
  }

  /** TPC-H Q22 (idle high-balance customers): per market segment, customers
    * with above-average positive account balance and no order since a
    * cutoff — the scalar-average-subquery + anti-join shape.
    *
    * The global average is ONE broadcast row (sum in DECIMAL, one double
    * division — the [[evImpute]] exactness device, never `avg` on doubles);
    * the "no recent order" test is a left-anti join against the distinct
    * recent buyer set, which at 100 TB is the only shuffle (and rides the
    * orderdate partition pruning if orders is date-partitioned — the
    * Layout story). */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    val recentBuyers = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recentBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
  }
  /** Touch ATTRIBUTION over the event stream (the marketing-analytics
    * staple): every purchase is credited to the user's LAST preceding
    * click (last-touch, 7-day lookback) and FIRST click ever
    * (first-touch). The "preceding click" is a running MAX/MIN over the
    * packed (ms·10⁶ + event_id) BIGINT — the [[evOhlc]] injective
    * composite, same loud overflow guard — so the whole attribution is
    * ONE user-partitioned window of integer extrema: no purchases⋈clicks
    * self-join, no per-purchase rescans, and the window order is total,
    * so both engines agree to the bit. At 100 TB this is a single
    * user-hash exchange; the alternative (range self-join) would shuffle
    * clicks once per purchase. */
  def evAttribution(spark: SparkSession, dir: String,
                    lookbackMs: Long = 7L * 24 * 3600 * 1000): DataFrame = {
    val ms = Tables.eventMs
    val guardedId = when(col("event_id") >= 1000000L,
      raise_error(lit("evAttribution ord overflow: event_id >= 1e6 breaks " +
        "the ms*1e6+event_id composite — widen the multiplier")))
      .otherwise(col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickOrd = when(col("event_type") === "click", col("ord"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        (ms * 1000000L + guardedId).as("ord"))
      .withColumn("lco", max(clickOrd).over(w))
      .withColumn("fco", min(clickOrd).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("ord % 1000000").as("purchase_id"),
        expr("ord DIV 1000000").as("purchase_ms"),
        col("value"),
        expr("lco % 1000000").as("click_id"),
        expr("lco DIV 1000000").as("click_ms"),
        expr("(ord DIV 1000000) - (lco DIV 1000000)").as("gap_ms"),
        coalesce(expr("(ord DIV 1000000) - (lco DIV 1000000)") <= lookbackMs,
          lit(false)).as("attributed"),
        expr("fco % 1000000").as("first_click_id"))
  }

  /** CDC MERGE-apply (the lakehouse `MERGE INTO` compaction): a keyed
    * change log — every event upserts `value` for its user; 'error' events
    * are deletes — collapsed to the last-writer-wins snapshot. ONE
    * exchange: `groupBy(user)` with a `max(struct(seq…))` argmax (the
    * struct-max device), so the log collapses MAP-SIDE exactly like a
    * count would — never a per-key window or a sort of the full log, the
    * shapes that break at a 100 TB change stream. Deletes ride the same
    * max and suppress the row at the end: an order-correct tombstone
    * (a late upsert under the delete's seq stays dead). */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables.events(spark, dir).select(
      col("user_id"), Tables.eventMs.as("ms"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("value"))
    log.groupBy(col("user_id"))
      .agg(max(struct(col("ms"), col("event_id"), col("op"), col("value"))).as("last"),
        count(lit(1)).as("n_changes"))
      .filter(col("last.op") === "U") // tombstoned keys vanish from the snapshot
      .select(col("user_id"), col("last.value").as("last_value"),
        col("last.ms").as("last_ms"), col("n_changes"))
  }

  // ---- TPC-H tail batch (round 11): Q4, Q8, Q9, Q10, Q11, Q13, Q17, Q20 ----

  /** TPC-H Q4 (order priority checking). The fixture carries no
    * commit/receipt dates, so "late" is a line shipped more than 60 days
    * after its order date — the same correlated-EXISTS shape as the spec's
    * l_commitdate < l_receiptdate. The date filter is pushed to the orders
    * scan; the EXISTS becomes one LEFT SEMI hash join co-keyed on orderkey
    * (the compound condition carries o_orderdate into the probe), so at
    * 100 TB both sides shuffle once on the same key and the semi join stops
    * at the first matching line — no row explosion, no second scan. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-12-31").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q8 (national market share): among STANDARD-part purchases by
    * ASIA-region customers, NATION_2's supplier revenue share per order
    * year. One lineitem scan; part / customer⋈nation / supplier⋈nation are
    * all broadcast dims (the dim-side joins run inside the broadcast build,
    * never touching the fact); share is one double division of two exact
    * DECIMAL sums (the q14 device). */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
    val nat = Tables.nation(spark, dir)
    val part = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val asiaCust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(nat.filter(col("n_regionkey") === 2).select(col("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(nat.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), rev.as("rev"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_2", col("rev"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("nat_dec"),
        sum(col("rev")).as("tot_dec"))
      .select(col("o_year"),
        col("nat_dec").cast("double").as("nation_revenue"),
        col("tot_dec").cast("double").as("total_revenue"),
        (col("nat_dec").cast("double") / col("tot_dec").cast("double")).as("mkt_share"))
  }

  /** TPC-H Q9 (product-type profit). The fixture has no partsupp, so unit
    * cost is the part's retail price: profit = Σ extprice·(1−disc) −
    * retail·qty over parts whose name contains 'gear', per supplier nation
    * per order year. part and supplier⋈nation broadcast; the only raw
    * shuffle is lineitem ⋈ orders on orderkey; all money math is exact
    * DECIMAL until the output cast. */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val profit = dec(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))) -
      dec(col("p_retailprice")) * dec(col("l_quantity"))
    val part = Tables.part(spark, dir)
      .filter(col("p_name").contains("gear"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name").as("nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(profit).cast("double").as("sum_profit"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q10 (returned-item reporting): top 20 customers by revenue lost
    * to returns in 1998-H1. Fact⋈fact co-keyed on orderkey (both filters —
    * returnflag on lineitem, the date window on orders — are pushed to the
    * scans, so the shuffle carries only survivors); customer⋈nation
    * broadcast. The top-20 orders on the EXACT decimal revenue with a
    * custkey tiebreak, then casts at the boundary — engine-deterministic. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      .join(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev.as("rev"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(col("rev")).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("rev_dec").cast("double").as("revenue"))
  }

  /** TPC-H Q11 (important stock, adapted: part "value" is its lineitem
    * revenue, no partsupp in the fixture): parts whose revenue exceeds
    * 0.0006 of the corpus total. Per-part DECIMAL agg (one shuffle), the
    * global total is a 1-row agg broadcast back via cross join — the
    * HAVING-vs-global-scalar shape. The share compare happens in DOUBLE on
    * purpose: decimal·decimal at the needed precision overflows both
    * engines' 38-digit cap differently, while one division of two exact
    * decimals is the same two input bit patterns — hence the same quotient
    * — everywhere. */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
    val v = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), rev.as("rev"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("rev")).as("val_dec"))
    val tot = v.agg(sum(col("val_dec")).as("tot_dec"))
    v.crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("val_dec").cast("double").as("part_value"),
        (col("val_dec").cast("double") / col("tot_dec").cast("double")).as("part_share"))
      .filter(col("part_share") > 0.0006)
  }

  /** TPC-H Q13 (customer order-count distribution): how many customers
    * placed k non-urgent orders, including k = 0. Orders is aggregated per
    * custkey FIRST (one map-side-combined shuffle collapses the fact to one
    * row per customer), the LEFT join back to customer is co-keyed on
    * custkey, and the second agg groups a |customers|-row frame by a tiny
    * integer — the groupBy-of-groupBy shape with the fact collapsed before
    * any join. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(counts, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q17 (small-quantity-order revenue): Brand#23 lines whose
    * quantity is below 20% of their part's average quantity. The per-part
    * average never exists as a float: qty < 0.2·(s/n) ⇔ 5·qty·n < s, and
    * quantities are carried as exact integer centiunits (the 2-dp DECIMAL
    * ×100), so the predicate is pure BIGINT math — engine-bit-identical by
    * construction. The per-part agg and the re-join are co-keyed on
    * partkey — at scale one shuffle produces both sides; Brand#23 is a
    * broadcast-dim filter applied to the probe before the agg join. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val qtyC = (dec(col("l_quantity")) * lit(100)).cast("long")
    val stats = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(qtyC).as("s"), count(lit(1)).as("n"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(stats, col("l_partkey") === col("pk"))
      .filter(qtyC * lit(5L) * col("n") < col("s"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q20 (part promotion, adapted: no partsupp — a supplier
    * qualifies by having SHIPPED more than 2200 units of 'small…' parts).
    * lineitem ⋈ broadcast(name-filtered part) collapses to one row per
    * supplier (map-side combine), the HAVING is a post-agg filter, and the
    * supplier join is against that tiny agg — the
    * aggregated-subquery-semi-join shape. */
  def q20PromoSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_name").startsWith("small")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("tq"))
      .filter(col("tq") > lit(2200).cast(DecimalType(18, 2)))
    Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .join(shipped, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("tq").cast("double").as("shipped_qty"))
  }

  /** DAU / WAU ACTIVITY — daily actives, trailing-7-day actives, and
    * their ratio (stickiness), the product-analytics staple. Exact
    * semantics: the corpus collapses ONCE to the distinct (day, user)
    * frame — far smaller than events — DAU is a count per day, and WAU(d)
    * re-counts distinct users over days [d−6, d] via a bounded range join
    * of the user-day frame against the day spine (≤ 7× user-day rows).
    * Integer epoch-day arithmetic end-to-end; stickiness is one double
    * division of exact counts. At 100 TB the documented cutover is
    * per-day HLL sketches merged over the window (the ev_approx_users
    * machinery) — the exact form here is the truth it calibrates against. */
  def evDauWau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(Tables.eventMs.as("ms"), col("user_id"))
      // integer DIV, not double-divide-then-cast: a ms exactly on a day
      // boundary can land at k−ε in binary and truncate to the wrong day
      .select(expr("ms DIV 86400000").as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val spine = ud.select(col("day")).distinct().select(col("day").as("d"))
    val wau = spine.join(ud, col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d")).agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** The 100 TB form of [[evDauWau]], REGISTERED (the ev_anomaly /
    * ev_anomaly_sketch pairing): one HyperLogLog++ sketch per day, WAU(d)
    * as the MERGE of the 7 sketches in [d−6, d] — sketch bytes move
    * through the window join, never user ids, so the per-day frame the
    * window re-reads is |days| rows of ~4 KB sketches instead of 7× the
    * user-day corpus. The exact DAU/WAU ride along as the calibration
    * truth ([[evDauWau]]'s range-join shape); a production run drops them
    * and keeps the sketch side.
    *
    * Verification follows the [[evApproxUsers]] envelope contract:
    * sketch estimates are engine-specific bytes, so each engine asserts
    * ITS OWN estimate lands within 5% of ITS exact count (HLL at
    * lgConfigK = 12 has ~1.6% standard error — 5% is ≳3σ) and the oracle
    * compares the exact counts plus the two booleans. */
  def evDauWauSketch(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(Tables.eventMs.as("ms"), col("user_id"))
      .select(expr("ms DIV 86400000").as("day"), col("user_id"))
      .distinct()
    // ONE pass over the user-day frame produces both the sketch and the
    // exact truth; everything after this aggregate is |days|-sized
    val perDay = ud.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"),
        countDistinct(col("user_id")).as("dau"))
    val spine = perDay.select(col("day").as("d"))
    val wauSk = spine.join(perDay.select(col("day"), col("sk")),
        col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_est"))
    val wauExact = spine.select(col("d").as("d2")).join(ud,
        col("day").between(col("d2") - 6, col("d2")))
      .groupBy(col("d2")).agg(countDistinct(col("user_id")).as("wau"))
    perDay.select(col("day"), col("dau"),
        hll_sketch_estimate(col("sk")).as("dau_est"))
      .join(wauSk, col("day") === col("d"))
      .join(wauExact, col("day") === col("d2"))
      .select(col("day"), col("dau"), col("wau"),
        (abs(col("dau_est") - col("dau")).cast("double") /
          col("dau").cast("double") <= 0.05).as("dau_sketch_ok"),
        (abs(col("wau_est") - col("wau")).cast("double") /
          col("wau").cast("double") <= 0.05).as("wau_sketch_ok"))
  }

  /** A/B EXPERIMENT READOUT — the two-proportion z-test every product
    * experiment ends with: users hash-split into two arms (the sampling
    * family's salted-FNV fate, so assignment is reproducible in both
    * engines and at any parallelism), per-arm user and converter counts
    * (a converter has ≥1 purchase), conversion rates, and the pooled
    * z-statistic  z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)). A
    * converter is a user with a purchase over 100 — every fixture user
    * purchases SOMETHING, so raw purchase-rate saturates at p̂ = 1 and
    * the z denominator hits √0 (found the ANSI way: DIVIDE_BY_ZERO); a
    * saturated pool also gets a NULL z explicitly, the honest undefined
    * answer.
    *
    * Cross-engine surface: counts are exact integers; every float after
    * them is a fixed expression tree of IEEE-exact ops (divide, add,
    * multiply, sqrt — no ln, no reassociated summation), so both engines
    * produce the identical double unrounded (the ev_forecast closed-form
    * contract). Scale shape: one user_id exchange to collapse events to
    * (user, converted), then a 2-row arm aggregate — the z-math runs on a
    * broadcast-sized frame. */
  def evAbTest(spark: SparkSession, dir: String): DataFrame = {
    val arm = graft.functions.Fnv32.fnv32(
      concat(col("user_id").cast("string"), lit(":ab"))) % 2
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"),
        (col("event_type") === "purchase" && col("value") > 100).cast("int").as("p"))
      .groupBy(col("user_id"))
      .agg(max(col("p")).as("converted"))
      .select(arm.as("arm"), col("converted"))
    // BOTH arms in one conditional aggregation — the filter/crossJoin form
    // consumed the user-collapse twice (PlanAudit: scans=2, exch=5)
    perUser.agg(
        count(when(col("arm") === 0, 1)).as("n_a"),
        count(when(col("arm") === 1, 1)).as("n_b"),
        sum(when(col("arm") === 0, col("converted")).otherwise(lit(0))).as("conv_a"),
        sum(when(col("arm") === 1, col("converted")).otherwise(lit(0))).as("conv_b"))
      .withColumn("rate_a", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("p_pool", (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z_score", when(col("p_pool") > 0.0 && col("p_pool") < 1.0,
        (col("rate_a") - col("rate_b")) /
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a"), col("rate_b"), col("z_score"),
        coalesce(abs(col("z_score")) > 1.96, lit(false)).as("significant"))
  }

  /** K-ANONYMITY AUDIT (Sweeney 2002) — the data-governance gate a
    * training-data release runs before shipping anything person-shaped:
    * group the table by its quasi-identifier tuple (here nation ×
    * market segment × 1000-unit balance band — attributes an adversary
    * can link from outside) and report every group smaller than k, whose
    * members are re-identifiable. One exchange on the quasi-identifier
    * key, map-side combined; the balance band is exact integer centiunit
    * division (the q17 device) over a SHIFTED-non-negative value —
    * Spark's DIV truncates toward zero while DuckDB's // floors, and
    * acctbal goes negative, so the band is only engine-identical on
    * non-negative operands. */
  def qKanonAudit(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("c_nationkey"), col("c_mktsegment"),
        (dec(col("c_acctbal")) * 100).cast("long").as("cents"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(cents + 100000) DIV 100000").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") < k)
}
