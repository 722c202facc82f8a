package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{OracleSql, Tables}

/** Random-hyperplane LSH over the embedding column (Charikar, "Similarity
  * Estimation Techniques from Rounding Algorithms", STOC 2002): each vector
  * gets a bit per hyperplane (the sign of its projection), bits are grouped
  * into bands, and only vectors colliding in some band become candidate
  * pairs — the standard sub-quadratic candidate generator for
  * embedding-space near-dup when no precomputed blocking key (label,
  * cluster) exists. Candidates are then EXACTLY verified (cosine ≥ τ), so
  * reported pairs are always true pairs; bands only control recall.
  *
  * Reference behavior: the MinHash-LSH band join of
  * [[Dedup.minhashLsh]] transplanted from Jaccard/shingle space to
  * cosine/embedding space (reference analogue: the wordcount-style grouping
  * of /root/reference/src/mr/ has no vector surface; this operator is part
  * of the beyond-reference LLM-pipeline family).
  *
  * Scale shape: signatures are a map-only pass (planes ride inside the
  * expression); the band join is a linear equi-shuffle on (band, key) —
  * never an all-pairs product; verification joins embeddings back by id.
  * The honest physics, made visible by [[sweep]]: at a LOW threshold
  * (τ = 0.35 here — the fixture's near-dup band) hyperplane LSH must trade
  * candidate volume for recall (p_collide = 1 − θ/π per bit), so the
  * 8×2-band default reaches ~97% recall on this fixture at ~89% of the
  * all-pairs candidate volume, while 4×8 prunes 50× harder at ~10% recall.
  * At PRODUCTION near-dup thresholds (τ ≥ 0.9, θ ≤ 26°) the same machinery
  * gives p_bit ≈ 0.86, so 16-bit bands retain ≈ 8.8% of true pairs per
  * band with near-zero random collisions — aggressive pruning AND high
  * recall; the sweep query is the dashboard for choosing that operating
  * point on real data.
  *
  * Cross-engine determinism: the ±1 plane matrix comes from a fixed LCG and
  * the SAME literals are interpolated into the DuckDB oracle SQL; both
  * engines compute projections in double and compare the 6-decimal-rounded
  * value against zero (the cosine6 acceptance: rounding is the
  * boundary-safe cross-engine surface for non-IEEE-exact reductions).
  */
object EmbeddingLsh {

  val Dims = 64
  val NumPlanes = 32

  /** The fixture-config (τ = 0.35, 8×2) trio is a DIAGNOSTIC — the sweep's
    * physics says no hyperplane config prunes at 69°, so its candidate set
    * is inherently near-quadratic. Since round 11 the whole trio therefore
    * runs on a FIXED-COUNT hash-order subcorpus (the sweep-truth device):
    * the diagnostic's cost is pinned at DiagSampleN²/2 forever instead of
    * following the corpus, while the production configs (`*_prod`, τ=0.9,
    * 24×12) remain the full-corpus scale path. At sf ≤ 0.1 the sample IS
    * the whole table (n ≤ 2000), so recorded values and baselines are
    * unchanged; only the 10×+ growth collapses from measured-quadratic
    * (106× at 10×) to flat. */
  val DiagSampleN = 2000

  /** ±1 hyperplane matrix from a fixed LCG (seed 42, the classic glibc
    * multiplier; sign from bit 16 of the 31-bit state — the LOW bits of a
    * power-of-two-modulus LCG alternate with period 2 and are unusable).
    * The first [[NumPlanes]] rows of ANY requested size are identical (one
    * stream, row-major), so wider probe configurations extend, never
    * reshuffle, the production planes. */
  def planesFor(numPlanes: Int): Array[Array[Int]] = {
    var s = 42L
    Array.fill(numPlanes, Dims) {
      s = (s * 1103515245L + 12345L) & 0x7FFFFFFFL
      if (((s >> 16) & 1L) == 1L) 1 else -1
    }
  }

  lazy val planes: Array[Array[Int]] = planesFor(NumPlanes)

  /** vec_id, emb (double), bits: the first `numPlanes` sign bits — callers
    * request exactly the planes their band configuration consumes (the
    * 8×2 default pays for 16 projections, not all 32; planesFor guarantees
    * prefix stability so narrower requests agree with wider ones). */
  def signatures(spark: SparkSession, dir: String,
                 numPlanes: Int = NumPlanes): DataFrame =
    signaturesFrame(Tables.embeddings(spark, dir), numPlanes)

  /** [[signatures]] over any embeddings-shaped frame (vec_id,
    * embedding: array<float|double>[Dims]) — the production-threshold spec
    * drives this with a planted-dup corpus the fixture cannot supply (its
    * near-dup band sits at cosine ≈ 0.35; a real pipeline prunes at
    * τ ≥ 0.9). */
  def signaturesFrame(emb: DataFrame, numPlanes: Int = NumPlanes): DataFrame =
    emb
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
      // ONE native pass for all raw projections (the per-plane HOF stack
      // was the whole-query bottleneck at 288 planes), then Spark's own
      // round(…,6) >= 0 per element — the rounding surface the oracle
      // mirrors is untouched. The bit extraction is ONE transform() over
      // the projection array, not numPlanes unrolled element_at chains:
      // the unrolled form generated an 11k-line processNext() that blew
      // Janino's 64 KB method limit at 288 planes and silently disabled
      // whole-stage codegen for the signature stage.
      .withColumn("proj", graft.functions.VecOps.planeProjCol(col("emb"), planesFor(numPlanes)))
      .withColumn("bits", expr(
        "transform(proj, x -> CASE WHEN round(x, 6) >= 0 THEN 1 ELSE 0 END)"))
      .drop("proj")

  /** One row per (vector, band): the band's key is the little-endian integer
    * of its `width` bits starting at plane `band*width`. `sigPlanes` is the
    * bit count the signature frame actually carries — element_at past the
    * array end would yield NULL keys and the equi-join would silently drop
    * every candidate, so the mismatch fails fast here instead. */
  private def bandRows(sig: DataFrame, bands: Int, width: Int,
                       sigPlanes: Int): DataFrame = {
    require(bands * width <= sigPlanes,
      s"band config ${bands}x$width needs ${bands * width} planes but the " +
        s"signatures carry only $sigPlanes")
    // one HOF builds every band's little-endian key — same arithmetic as
    // the unrolled element_at·2^i sum, but O(1) generated code regardless
    // of bands×width (the unrolled form was the other 64 KB codegen blowout)
    sig.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b -> struct(b AS band,
              aggregate(transform(slice(bits, b * $width + 1, $width),
                (x, i) -> shiftleft(x, i)), 0, (a, x) -> a + x) AS key))"""))
        .as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Distinct candidate pairs (d1 < d2) colliding in ≥1 band. */
  private[dedup] def candidates(sig: DataFrame, bands: Int, width: Int,
                                sigPlanes: Int): DataFrame = {
    val bk = bandRows(sig, bands, width, sigPlanes)
    bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
  }

  /** The cosine6 surface: the native codegen expression (the interpreted
    * aggregate/zip_with HOF form computes the same value but was measured
    * far slower on the verify join's millions of candidate rows). */
  private def cosineCol(a: Column, b: Column): Column =
    graft.functions.VecOps.cosine6Col(a, b)

  /** The diagnostic subcorpus: the [[DiagSampleN]] vectors with the
    * smallest salted-FNV hash (vec_id tiebreak — [[sampleTopN]]'s total
    * order, shared with the sweep so one oracle device serves all three
    * fixture-config queries). */
  private def diagFrame(spark: SparkSession, dir: String): DataFrame =
    sampleTopN(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")), DiagSampleN)

  /** LSH-found near-dup pairs at the default 8 bands × 2 bits, exactly
    * verified at `threshold` — every output row is a true near-dup pair
    * (subset of the all-pairs truth by construction; recall is pinned by
    * the spec and measured by [[sweep]]). Runs on the fixed-count
    * [[diagFrame]] — see [[DiagSampleN]] for why the low-τ diagnostic must
    * not follow the corpus. */
  def pairs(spark: SparkSession, dir: String, bands: Int = 8, width: Int = 2,
            threshold: Double = 0.35): DataFrame =
    pairsFrame(diagFrame(spark, dir), bands, width, threshold)

  /** [[pairs]] over any embeddings-shaped frame. At PRODUCTION operating
    * points (τ ≥ 0.9, wide bands — e.g. 24×12) the spec demonstrates the
    * regime the scaladoc physics promises on a planted-dup corpus:
    * ≥ 95% recall of true pairs while the band join emits < 2% of all
    * n·(n−1)/2 candidates (vs the fixture's low-τ regime where recall
    * requires near-all-pairs candidate volume). */
  def pairsFrame(emb: DataFrame, bands: Int, width: Int,
                 threshold: Double): DataFrame = {
    // exactly the planes this configuration consumes (prefix-stable),
    // materialized ONCE: the plan consumes sig three ways (band rows +
    // both verify sides), and without the checkpoint each consumer
    // recomputes every projection — measured 7.3 → 2.9 s on the 288-plane
    // production config at bench SF (the sweep's countedOnce precedent)
    val sig = graft.Checkpoints.track(
      signaturesFrame(emb, bands * width).localCheckpoint(true))
    val e = sig.select(col("vec_id"), col("emb"))
    candidates(sig, bands, width, bands * width)
      .join(e.as("x"), col("d1") === col("x.vec_id"))
      .join(e.as("y"), col("d2") === col("y.vec_id"))
      .select(col("d1"), col("d2"), cosineCol(col("x.emb"), col("y.emb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The sweep's FIXED-COUNT hash-fate sample: the `sampleN` vectors with
    * the smallest salted-FNV hash (vec_id tiebreak — a total order, so the
    * sample is deterministic in both engines). A fixed RATE sample keeps
    * the dashboard itself quadratic — its all-pairs truth side grows as
    * (p·n)², 21× at the 10× recording — while a fixed COUNT caps the truth
    * at sampleN²/2 cosines forever. Hash-fate keeps the estimate unbiased;
    * the recall/cand_frac ratios carry ~1/√sampleN ≈ 3% sampling error at
    * the default 1000, constant at any corpus size. Physically a
    * TakeOrdered (per-partition top-sampleN heaps, driver merge of sampleN
    * rows), then repartitioned back out so the quadratic truth scan
    * parallelizes. */
  private def sampleTopN(df: DataFrame, sampleN: Int): DataFrame =
    df.orderBy(graft.functions.Fnv32.fnv32(
        concat(col("vec_id").cast("string"), lit(":lshsweep"))), col("vec_id"))
      .limit(sampleN)
      .repartition(16)

  /** All-pairs exact truth (broadcast nested-loop over the small build side;
    * the chunk-pair decomposition of [[graft.sim.Similarity]] is the path
    * for corpora whose embedding table no longer broadcasts). */
  /** Deterministic hash-fate rate sample (the sampling family's salted FNV
    * bucket); 100 means "no sampling". Only the exact-truth helper below
    * still rate-samples — the sweep moved to [[sampleTopN]]. */
  private def sampleFilter(pct: Int): Column =
    graft.functions.Fnv32.fnv32(
      concat(col("vec_id").cast("string"), lit(":lshsweep"))) % 100 < pct

  def allPairs(spark: SparkSession, dir: String, threshold: Double = 0.35,
               samplePct: Int = 100): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(sampleFilter(samplePct))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        cosineCol(col("a.emb"), col("b.emb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** LSH TUNING DASHBOARD: per band-configuration, the candidate count, the
    * verified-pair count, the exact truth count, recall, and the candidate
    * fraction of all n·(n−1)/2 pairs — the numbers that pick a band/width
    * operating point before a 100 TB run. One row per configuration; every
    * number re-derivable by the oracle from the same plane literals.
    * Runs on the deterministic FIXED-COUNT [[sampleTopN]] sample: the
    * ratios it estimates are scale-free while its exact-truth side is
    * quadratic, so the truth cost is pinned at sampleN²/2 cosines no
    * matter how the corpus grows (the fixed-RATE 20% sample this replaced
    * was itself quadratic — 0.66 → 13.8 s at the 10× recording). */
  def sweep(spark: SparkSession, dir: String,
            configs: Seq[(Int, Int)] = Seq((16, 2), (8, 4), (4, 8)),
            threshold: Double = 0.35, sampleN: Int = 1000): DataFrame = {
    require(configs.nonEmpty)
    val maxPlanes = configs.map { case (b, w) => b * w }.max
    // ONE projection pass, materialized: every config's candidate join,
    // both verify sides, the truth, and the vector count all reuse the
    // checkpointed sample (the Packing countedOnce precedent — without it
    // the scan + projections recompute once per consumer, 6+ times here)
    val sig = graft.Checkpoints.track(
      sampleTopN(signatures(spark, dir, maxPlanes), sampleN).localCheckpoint(true))
    val e = sig.select(col("vec_id"), col("emb"))
    val nTrue = e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .filter(cosineCol(col("a.emb"), col("b.emb")) >= threshold)
      .agg(count(lit(1)).as("n_true"))
    val nVec = e.agg(count(lit(1)).as("n_vec"))
    val perCfg = configs.map { case (bands, width) =>
      candidates(sig, bands, width, maxPlanes)
        .join(e.as("x"), col("d1") === col("x.vec_id"))
        .join(e.as("y"), col("d2") === col("y.vec_id"))
        .select(cosineCol(col("x.emb"), col("y.emb")).as("cosine"))
        .agg(count(lit(1)).as("n_cand"),
          count(when(col("cosine") >= threshold, 1)).as("n_found"))
        .select(lit(s"${bands}x$width").as("cfg"), col("n_cand"), col("n_found"))
    }.reduce(_ unionAll _)
    perCfg.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nVec))
      .select(col("cfg"), col("n_cand"), col("n_found"), col("n_true"),
        round(col("n_found").cast("double") / col("n_true"), 6).as("recall"),
        round(col("n_cand").cast("double") /
          (col("n_vec") * (col("n_vec") - 1) / 2), 6).as("cand_frac"))
  }

  /** END-TO-END embedding dedup: LSH candidates → exact cosine verify →
    * connected components → canonical keep-list (the vector-space twin of
    * [[Dedup.nearDupComponents]], sharing its components engine).
    * Vectors in no verified pair keep themselves. */
  def dedupKeep(spark: SparkSession, dir: String, bands: Int = 8, width: Int = 2,
                threshold: Double = 0.35): DataFrame = {
    val p = pairs(spark, dir, bands, width, threshold).select(col("d1"), col("d2"))
    val nodes = diagFrame(spark, dir).select(col("vec_id").as("node"))
    Dedup.connectedComponents(p, nodes)
      .select(col("node").as("vec_id"), col("label").as("canonical_id"),
        (col("node") === col("label")).as("keep"))
  }

  /** THE PRODUCTION OPERATING POINT, registered as `dedup_lsh_pairs_prod`
    * (the scale-regime twin the 8×2 fixture query cannot be): τ = 0.9,
    * 24 bands × 12 bits — the configuration whose candidate growth a
    * corpus-scaling probe measured at exponent ~1.14 (vs 1.85 for
    * fixed-narrow bands), i.e. the one a 100 TB dedup run would actually ship. The
    * fixture's own near-dup band sits at cosine ≈ 0.35 where NO hyperplane
    * config can prune and recall simultaneously (the sweep's physics), so
    * this query PLANTS the production regime deterministically FROM the
    * fixture table itself — every value re-derivable by DuckDB from the
    * same parquet: each vec_id ≡ 0 (mod 5) gains a copy at id + 1,000,000
    * with coordinates scaled by (1 + 0.45·s_j), s the ±1 seed-43 LCG
    * vector, landing planted pairs at cosine ≈ 0.89-0.93 around the
    * threshold while random pairs stay far below it. */
  def pairsProd(spark: SparkSession, dir: String): DataFrame =
    pairsFrame(prodFrame(spark, dir), bands = 24, width = 12, threshold = 0.9)

  /** The END-TO-END dedup pipeline (pairs → connected components →
    * canonical keep-list) at the SAME production operating point as
    * [[pairsProd]] — the user-facing composition a 100 TB run would
    * actually execute, registered as `dedup_lsh_components_prod`. The
    * fixture-config [[dedupKeep]] stays registered as the low-τ physics
    * exhibit; THIS is the scaling twin: candidate volume inherits
    * `pairs_prod`'s measured ~1.1 exponent (3.7× at 10× data), and the
    * components engine is the same iteration every other dedup family
    * shares. */
  def dedupKeepProd(spark: SparkSession, dir: String): DataFrame = {
    val frame = prodFrame(spark, dir)
    val p = pairsProd(spark, dir).select(col("d1"), col("d2"))
    val nodes = frame.select(col("vec_id").as("node"))
    Dedup.connectedComponents(p, nodes)
      .select(col("node").as("vec_id"), col("label").as("canonical_id"),
        (col("node") === col("label")).as("keep"))
  }

  /** ±1 perturbation signs: the planes' LCG recipe under seed 43 (seed 42
    * is the signature stream; a distinct seed keeps the planted direction
    * uncorrelated with every band bit). */
  private[dedup] val perturbSigns: Array[Double] = {
    var s = 43L
    Array.fill(Dims) {
      s = (s * 1103515245L + 12345L) & 0x7FFFFFFFL
      if (((s >> 16) & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** The planted-dup corpus: fixture vectors ∪ perturbed copies. */
  private[dedup] def prodFrame(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    val pert = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), typedLit(perturbSigns),
          (x, sj) => x * (lit(1.0) + lit(0.45) * sj)).as("embedding"))
    base.unionAll(pert)
  }

  // ---- oracle SQL (interpolating the SAME plane literals) ----

  private def planeLit(p: Array[Int]): String =
    p.map(v => s"$v.0").mkString("[", ",", "]")

  private def bitsColsFor(numPlanes: Int): String =
    planesFor(numPlanes).zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ROUND(list_inner_product(emb, ${planeLit(p)}), 6) >= 0 THEN 1 ELSE 0 END) AS b$j"
    }.mkString(",\n")

  private def bitsCols: String = bitsColsFor(NumPlanes)

  private def bandsUnion(cfgs: Seq[(Int, Int)]): String =
    cfgs.flatMap { case (bands, width) =>
      (0 until bands).map { b =>
        val key = (0 until width).map(i => s"b${b * width + i} * ${1 << i}").mkString(" + ")
        s"SELECT vec_id, '${bands}x$width' AS cfg, $b AS band, $key AS key FROM sig"
      }
    }.mkString(" UNION ALL ")

  private val cosineSql = OracleSql.cosine6("x.emb", "y.emb")

  /** The diagnostic sample's order: [[sampleTopN]]'s salted hash. */
  private val sampleHashSql = OracleSql.fnv32("CAST(vec_id AS VARCHAR) || ':lshsweep'")

  /** The pairs pipeline as a CTE list, shared by the pairs and keep-list
    * oracles (8×2 default config, over the same fixed-count diagnostic
    * sample as the engine). */
  private def pairsCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |       ORDER BY $sampleHashSql, vec_id LIMIT $DiagSampleN),
       |sig AS (SELECT vec_id, emb, $bitsCols FROM e),
       |bands AS (${bandsUnion(Seq((8, 2)))}),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |           AND a.vec_id < b.vec_id),
       |v AS (SELECT d1, d2, $cosineSql AS cosine
       |      FROM cand JOIN e x ON x.vec_id = cand.d1 JOIN e y ON y.vec_id = cand.d2)""".stripMargin

  /** DuckDB re-derivation of [[pairs]] (8×2 default). */
  def oraclePairsSql: String =
    s"""WITH $pairsCtes
       |SELECT d1, d2, cosine FROM v WHERE cosine >= 0.35""".stripMargin

  /** The production-point pairs pipeline as a CTE list — re-plant the
    * perturbed copies from the parquet (same sign literals, same operand
    * order), then the 24×12 band pipeline over the first 288 planes of the
    * same stream. Shared by the prod pairs and prod keep-list oracles. */
  private def prodPairsCtes: String = {
    val s = perturbSigns.map(v => s"$v").mkString("[", ",", "]")
    s"""b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |pert AS (SELECT vec_id + 1000000 AS vec_id,
       |           list_transform(generate_series(1, $Dims),
       |             j -> emb[j] * (CAST(1.0 AS DOUBLE) + CAST(0.45 AS DOUBLE) * ($s)[j])) AS emb
       |         FROM b WHERE vec_id % 5 = 0),
       |e AS (SELECT vec_id, emb FROM b UNION ALL SELECT vec_id, emb FROM pert),
       |sig AS (SELECT vec_id, emb, ${bitsColsFor(24 * 12)} FROM e),
       |bands AS (${bandsUnion(Seq((24, 12)))}),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |           AND a.vec_id < b.vec_id),
       |v AS (SELECT d1, d2, $cosineSql AS cosine
       |      FROM cand JOIN e x ON x.vec_id = cand.d1 JOIN e y ON y.vec_id = cand.d2)""".stripMargin
  }

  /** DuckDB re-derivation of [[pairsProd]]. */
  def oraclePairsProdSql: String =
    s"""WITH $prodPairsCtes
       |SELECT d1, d2, cosine FROM v WHERE cosine >= 0.9""".stripMargin

  /** DuckDB re-derivation of [[dedupKeepProd]]: the prod pairs CTEs, then
    * min-label connected components as a recursive CTE over base ∪ planted
    * nodes (the dedup_components oracle shape). */
  def oracleDedupKeepProdSql: String =
    s"""WITH RECURSIVE $prodPairsCtes,
       |p AS (SELECT d1, d2 FROM v WHERE cosine >= 0.9),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2 AS src, d1 AS dst FROM p),
       |cc AS (SELECT vec_id AS node, vec_id AS label FROM e
       |       UNION SELECT e2.dst AS node, cc.label FROM cc JOIN edges e2 ON cc.node = e2.src)
       |SELECT node AS vec_id, MIN(label) AS canonical_id, (node = MIN(label)) AS keep
       |FROM cc GROUP BY node""".stripMargin

  /** DuckDB re-derivation of [[dedupKeep]]: the same pairs pipeline, then
    * min-label connected components as a recursive CTE (the
    * dedup_components oracle shape) over the diagnostic sample's nodes. */
  def oracleDedupKeepSql: String =
    s"""WITH RECURSIVE $pairsCtes,
       |p AS (SELECT d1, d2 FROM v WHERE cosine >= 0.35),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM p UNION SELECT d2 AS src, d1 AS dst FROM p),
       |cc AS (SELECT vec_id AS node, vec_id AS label FROM e
       |       UNION SELECT e2.dst AS node, cc.label FROM cc JOIN edges e2 ON cc.node = e2.src)
       |SELECT node AS vec_id, MIN(label) AS canonical_id, (node = MIN(label)) AS keep
       |FROM cc GROUP BY node""".stripMargin

  /** DuckDB re-derivation of [[sweep]]: the sample CTE mirrors
    * [[sampleTopN]]'s fixed-count total order exactly
    * (hash asc, vec_id tiebreak, LIMIT sampleN). The final select
    * LEFT-JOINs from the config list so a configuration with zero
    * candidates still emits its (zeroed) dashboard row, matching the
    * engine's empty-frame aggregation. */
  def oracleSweepSql(sampleN: Int = 1000): String = {
    val cfgs = Seq((16, 2), (8, 4), (4, 8))
    val cfgValues = cfgs.map { case (b, w) => s"('${b}x$w')" }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |           ORDER BY $sampleHashSql, vec_id LIMIT $sampleN),
       |sig AS (SELECT vec_id, emb, $bitsCols FROM e),
       |bands AS (${bandsUnion(cfgs)}),
       |cand AS (SELECT DISTINCT cfg, a.vec_id AS d1, b.vec_id AS d2
       |         FROM bands a JOIN bands b USING (cfg)
       |         WHERE a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ver AS (SELECT cfg, $cosineSql AS cosine
       |        FROM cand JOIN e x ON x.vec_id = cand.d1 JOIN e y ON y.vec_id = cand.d2),
       |agg AS (SELECT cfg, CAST(COUNT(*) AS BIGINT) AS n_cand,
       |          CAST(COUNT(*) FILTER (cosine >= 0.35) AS BIGINT) AS n_found
       |        FROM ver GROUP BY cfg),
       |cfgs AS (SELECT * FROM (VALUES $cfgValues) AS c(cfg)),
       |tru AS (SELECT COUNT(*) AS n_true FROM (
       |          SELECT 1 FROM e a JOIN e b ON a.vec_id < b.vec_id
       |          WHERE ${OracleSql.cosine6("a.emb", "b.emb")} >= 0.35)),
       |n AS (SELECT COUNT(*) AS n_vec FROM e)
       |SELECT cfg, COALESCE(n_cand, 0) AS n_cand, COALESCE(n_found, 0) AS n_found,
       |  CAST(n_true AS BIGINT) AS n_true,
       |  ROUND(CAST(COALESCE(n_found, 0) AS DOUBLE) / n_true, 6) AS recall,
       |  ROUND(CAST(COALESCE(n_cand, 0) AS DOUBLE) / (n_vec * (n_vec - 1) / 2), 6) AS cand_frac
       |FROM cfgs LEFT JOIN agg USING (cfg), tru, n""".stripMargin
  }
}
