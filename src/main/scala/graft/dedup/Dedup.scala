package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextAnalysis

/** Deduplication family for a training-data pipeline, over `documents`.
  *
  * Scale design: exact dedup is a pure declarative plan; token-jaccard is
  * the fused prefix-filter join operator ([[graft.plans.SetSimJoin]]). The
  * MinHash-LSH and SimHash paths are the 100 TB answer to near-dup detection:
  * candidate generation is a *band-bucket shuffle* (linear in corpus size,
  * one wide exchange) instead of the quadratic all-pairs join; only
  * bucket-local pairs are scored. Buckets are capped (logged, not silent) so
  * a degenerate corpus can't go quadratic in one task.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup (hash-groupBy): one row per distinct text, keeping the
    * smallest doc_id; n_dups counts the group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** NORMALIZATION-AWARE exact dedup — the "fuzzy exact" rule production
    * crawl pipelines actually run (Dolma, FineWeb): casefold, collapse
    * every non-alphanumeric run to one space, trim, THEN hash — so a page
    * and its mirrored copy with different markup/caps/punctuation land in
    * one group even though their raw bytes differ. Emits only the
    * interesting groups (n_docs > 1): canonical keep (min doc_id), group
    * size, how many RAW variants collapsed (n_raw > 1 proves the win over
    * [[exact]], which scores 0 groups on this corpus), and the member list.
    *
    * Runs over [[graft.Fixtures.caseVariantDocs]] — the base fixture has
    * no formatting variants, so the contract plants them deterministically
    * (the oracle re-plants the same rows from the same parquet).
    *
    * Scale shape: identical to [[exact]] — normalize+hash fuse into the
    * scan (map-only codegen), ONE map-side-combined exchange on the hash.
    * The member list is bounded by the group size, which the plant bounds
    * at 3; a boilerplate-heavy real corpus would cap the list with
    * `slice` after sort (the inverted-index discipline) — the count
    * columns, not the roster, are the dedup decision surface. */
  def normalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    graft.Fixtures.caseVariantDocs(spark, dir)
      .select(col("doc_id"), md5(norm).as("norm_hash"), md5(col("text")).as("raw_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_hash")).as("n_raw"),
        concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))).as("members"))
      .filter(col("n_docs") > 1)
  }

  // ------------------------------------------------- token-set jaccard

  /** N-gram (unigram token-set) Jaccard near-dup pairs within
    * (lang, source) blocks: |A∩B| / |A∪B| >= threshold. Exact integer
    * intersection counts make the jaccard double bit-exact for the oracle.
    *
    * Scale shape — the fused PREFIX-FILTER join ([[graft.plans.SetSimJoin]],
    * Vernica et al., SIGMOD'10): one vocabulary aggregate ranks each block's
    * tokens rarest-first, then one shuffle on (lang, source, prefix rank)
    * and a streaming per-group verify. J(A,B) ≥ t implies a shared token
    * among A's `|A| − ⌈t·|A|⌉ + 1` RAREST tokens (Chaudhuri et al.,
    * ICDE'06), so a stopword shared by every document generates zero
    * candidate pairs (it is never in anyone's prefix) instead of |block|² —
    * the difference between linear-ish and quadratic at 100 TB. */
  def tokenJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    graft.plans.SetSimJoin.jaccard(tokenSets(spark, dir), threshold)

  /** INCREMENTAL near-dup check — an arriving batch against the existing
    * corpus, without re-deduplicating the corpus against itself: pairs are
    * (base doc, delta doc) only. The batch is the top 20% of the doc_id
    * range — an ingest WATERMARK (ids above the last batch's high-water
    * mark), the realistic incremental shape; in production the cut is
    * known a priori, here it is one bounded max() row. (A doc_id % k split
    * would be degenerate on this fixture: the generator plants near-dups
    * at id deltas that are multiples of 20, so modulo splits never cross —
    * the same fixture-correlation trap CapStreamSpec hit with sources.)
    * The join tags each document's side and verifies only (base, delta)
    * pairs, so verify cost scales with the BATCH, not with corpus²: at
    * 100 TB this is the difference between a per-batch ingest gate and a
    * nightly full re-dedup. Prefix + length filtering stay lossless across
    * sides — the prefix theorem only needs the shared token order, which
    * both sides take from the same corpus-wide frequency table. */
  def incrementalJaccard(spark: SparkSession, dir: String,
                         threshold: Double = 0.8): DataFrame = {
    // coalesce: max(doc_id) is NULL on an empty corpus (the Row's getLong
    // would NPE); divide-first (m - m/5, not m*4/5) so the cut can't
    // overflow for doc_id near Long.MaxValue. Oracle mirrors both forms.
    val m = Tables.documents(spark, dir)
      .agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
    val cut = m - m / 5
    graft.plans.SetSimJoin.jaccard(
      tokenSets(spark, dir).withColumn("base", col("doc_id") <= cut), threshold,
      base = Some("base"))
  }

  /** (doc_id, lang, source, toks): each document's distinct tokens, the
    * input of the token-set jaccard join. */
  private def tokenSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("source"),
      array_distinct(TextAnalysis.tokensCol(col("text"))).as("toks"))

  /** ASYMMETRIC CONTAINMENT join — find documents CONTAINED in another
    * (C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| ≥ τ): the quote/excerpt/
    * boilerplate-wrapper detector that symmetric Jaccard structurally
    * misses (a 50-token excerpt inside a 5k-token page has J ≈ 0.01 but
    * containment 1.0). Grams are the family's distinct 5-gram shingles;
    * output is (contained d1, container d2, |A|, shared, containment).
    *
    * Scale shape — the PREFIX FILTER adapted to the asymmetric predicate,
    * still lossless: C(A→B) ≥ τ means ≥ ⌈τ|A|⌉ of A's grams live in B, so
    * if NONE of A's (|A| − ⌈τ|A|⌉ + 1) rarest grams did, the shared count
    * would be ≤ ⌈τ|A|⌉ − 1 — contradiction. Hence only the PROBE side
    * explodes a rarity-ordered prefix; the index side must carry every
    * gram (the container has no size bound — that asymmetry is the whole
    * operator), so candidate volume is Σ_prefix-gram df(g), kept linear by
    * the same Zipf economics as the jaccard prefix (rare grams have tiny
    * df; a corpus-wide boilerplate gram is never in anyone's rarest
    * prefix). Verify is the allocation-free sorted-merge intersect on the
    * (already sorted, distinct) hash arrays. Engine joins 64-bit gram
    * hashes; the oracle re-derives on gram strings — the decontam
    * count-parity + collision acceptance. */
  def containment(spark: SparkSession, dir: String, threshold: Double = 0.5,
                  w: Int = 5): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // shingle-hash ONCE: this frame has THREE consumers (the gram explode
    // and both verify-join sides), each of which re-derived the fused
    // tokenize+shingle chain; no-op at scale (Tables.materializeSmall).
    // Measured at sf0.1, local[4], median of 28: 1062-1115 ms checkpointed
    // vs 1378-1521 ms re-derived; a spread of the scan below it won nothing
    // (860 vs 829 ms without).
    val docs = Tables.materializeSmall(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.TextHash.shingleHashesCol(
            TextAnalysis.tokensCol(lower(col("text"))), w).as("gs"))
        .filter(size(col("gs")) > 0))
    val g = docs.select(col("doc_id"), size(col("gs")).as("n"), explode(col("gs")).as("g"))
    // gram document frequency: groupBy (map-side combined), AQE broadcasts
    // the Zipf-small vocabulary back
    val dfreq = g.groupBy(col("g")).agg(count(lit(1)).as("dfreq"))
    val prefixes = g.join(dfreq, Seq("g"))
      .withColumn("rank", row_number().over(
        W.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("g"))))
      // 1e-9 slack as in the jaccard length filter: only loosens the bound
      .filter(col("rank") <= col("n") - ceil(col("n") * threshold - 1e-9) + 1)
      .select(col("g"), col("doc_id").as("d1"))
    val cand = prefixes
      .join(g.select(col("g"), col("doc_id").as("d2")), Seq("g"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2")).dropDuplicates("d1", "d2")
    val arr = docs.select(col("doc_id"), col("gs"), size(col("gs")).as("n"))
    cand
      .join(arr.select(col("doc_id").as("d1"), col("gs").as("g1"), col("n").as("n_grams")), "d1")
      .join(arr.select(col("doc_id").as("d2"), col("gs").as("g2")), "d2")
      .select(col("d1"), col("d2"), col("n_grams"),
        graft.functions.SetOps.sortedIntersectCountCol(col("g1"), col("g2"))
          .cast("bigint").as("shared"))
      .select(col("d1"), col("d2"), col("n_grams").cast("bigint").as("n_grams"),
        col("shared"),
        (col("shared").cast("double") / col("n_grams")).as("containment"))
      .filter(col("containment") >= lit(threshold))
  }

  /** Reference implementation of [[tokenJaccard]] without prefix filtering —
    * the full token self-join. Used by the spec to prove the prefix-filtered
    * plan is lossless; not registered as a query. */
  private[dedup] def tokenJaccardNaive(spark: SparkSession, dir: String,
                                       threshold: Double = 0.8): DataFrame = {
    val w = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(TextAnalysis.tokensCol(col("text")))).as("word"))
    val sizes = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = w.select(col("doc_id").as("d1"), col("lang"), col("source"), col("word"))
    val b = w.select(col("doc_id").as("d2"), col("lang").as("lang2"),
      col("source").as("source2"), col("word").as("word2"))
    val common = a.join(b,
        a("lang") === b("lang2") && a("source") === b("source2") &&
        a("word") === b("word2") && a("d1") < b("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------- minhash LSH

  /** Deterministic 64-bit FNV-1a string hash (public constants; cf. the
    * 32-bit FNV the reference uses for bucket routing,
    * /root/reference/src/mr/worker.go:36-40). */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  val NumHashes: Int = graft.functions.MinHash.NumHashes
  val Bands = 16
  val Rows = 4 // NumHashes / Bands

  /** Word w-shingles of a token sequence. */
  def shingles(tokens: Seq[String], w: Int = 3): Set[String] =
    if (tokens.length < w) Set(tokens.mkString(" "))
    else tokens.sliding(w).map(_.mkString(" ")).toSet

  /** MinHash signature of a shingle set — same core as the `minhash_sig`
    * column expression, so typed and declarative paths agree bit-for-bit. */
  def minhashSig(sh: Set[String]): Array[Long] =
    graft.functions.MinHash.sigOf(sh.iterator.map(_.getBytes("UTF-8")))

  final case class NearDup(d1: Long, d2: Long, est_jaccard: Double)

  /** MinHash signatures, declarative and map-only: per document, a
    * 64-element `sig` array via the fused `minhash_tokens` expression — one
    * static JVM call per row inside whole-stage codegen, straight from the
    * (codegen'd) tokenizer output. No distinct pass (min is idempotent over
    * duplicate shingles), no shingle strings materialized. Interpreted HOF
    * formulations of the same computation (lambda shingling / per-(i,shingle)
    * hash lambdas) measured 10-50× slower. Columns: doc_id, sig. */
  def signaturesDF(spark: SparkSession, dir: String): DataFrame =
    // spreadSmall: the fused tokenizer+MinHash is the expensive per-row op
    // here, and the single-file fixture scan is ONE split — without the
    // spread the whole corpus signs on one core (sf0.1, local[4], median
    // of 14: dedup_dropped_buckets 334 ms spread vs 382 ms unspread,
    // dedup_minhash_lsh 535 vs 551 ms); no-op at scale
    Tables.spreadSmall(Tables.documents(spark, dir), col("doc_id")).select(
      col("doc_id"),
      graft.functions.MinHash.minhashTokensCol(
        TextAnalysis.tokensCol(lower(col("text")))).as("sig"))

  /** MinHash + LSH near-dup pairs: band-bucket candidates via a self-join on
    * (band, band-hash), signature-estimated jaccard >= threshold.
    *
    * Scale shape: candidate generation is one exchange keyed by the band hash
    * (linear in corpus size), not an all-pairs join; the bucket-size window
    * rides the same partitioning (no extra shuffle, Catalyst reuses the
    * exchange) and drops degenerate buckets > maxBucket so a pathological
    * corpus can't go quadratic inside one task. Everything below is native
    * expressions — no JVM-object shuffle, whole plan codegen/Tungsten. */
  /** LSH band hashes of a `sig` array column: xxhash64 of each band's rows. */
  def bandHashesCol(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => xxhash64(slice(sig, b * Rows + 1, lit(Rows))))

  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.7,
                 maxBucket: Int = 2000): Dataset[NearDup] = {
    import spark.implicits._
    val banded = signaturesDF(spark, dir)
      .select(col("doc_id"), col("sig"), posexplode(bandHashesCol(col("sig"))).as(Seq("band", "bh")))
    val byBucket = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bh"))
    val capped = banded
      .withColumn("bucket_n", count(lit(1)).over(byBucket))
      .filter(col("bucket_n") <= maxBucket)
    val a = capped.select(col("band"), col("bh"), col("doc_id").as("d1"), col("sig").as("sig1"))
    val b = capped.select(col("band"), col("bh"), col("doc_id").as("d2"), col("sig").as("sig2"))
    // Self-join as shuffle-merge, not broadcast: both sides are the same
    // full-size relation (broadcasting the corpus is wrong at scale), and
    // identical shuffle subplans let ReuseExchange compute signatures once —
    // the second side becomes a ReusedExchange instead of a re-scan.
    a.join(b.hint("shuffle_merge"), Seq("band", "bh"))
      .filter(col("d1") < col("d2"))
      // signature agreement as the native graft_pos_eq_count expression,
      // NOT aggregate(zip_with(...)): HOF lambdas are CodegenFallback, and
      // this runs once per CANDIDATE PAIR — the interpreted form measured
      // ~208 s of task time at sf0.1 (r13 StageTimeProbe) because the whole
      // candidate join fell out of codegen; same integer count, same
      // est_jaccard, oracle row-identical
      .select(col("d1"), col("d2"),
        (graft.functions.SetOps.posEqCountCol(col("sig1"), col("sig2"))
          .cast("double") / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("d1", "d2")
      .as[NearDup]
  }

  /** MinHash-LSH with exact verification — the standard production pipeline:
    * band buckets generate candidates (linear shuffle, capped buckets), then
    * each candidate pair is verified with the EXACT distinct-shingle jaccard
    * and kept iff >= threshold. Output is therefore equal to the quadratic
    * all-pairs truth (up to banding recall, P[miss] <= (1-t^4)^16 ≈ 2e-4 at
    * t=0.8) while never materializing all pairs — which is what makes it the
    * 100 TB path AND lets a SQL oracle check it row-for-row against the
    * all-pairs computation at test scale.
    *
    * The signature estimate is NOT thrown away: candidates are pre-filtered
    * at `est_jaccard >= threshold - estMargin` before the exact verify join,
    * so only pairs the signatures consider plausible pay for shingle-array
    * transport and intersection. At the default margin 0.3 (cutoff 0.5 for
    * t=0.8) a TRUE pair at jaccard exactly t is rejected only if its 64-hash
    * estimate falls >= 0.3 below its mean — a binomial(64, 0.8) tail at
    * <= 32/64, P ~ 4e-8 — negligible next to the banding miss itself
    * (~2e-4, below), while random bucket-cohabitants (est ≈ their true
    * jaccard ≈ 0.1-0.3) mostly drop out of the verify join.
    *
    * Residual oracle risk, accepted deliberately: the sf0.01/sf0.1 fixtures
    * contain a qualifying pair at exactly jaccard 0.8, where the per-pair
    * banding miss probability is ~2e-4. The miss is DETERMINISTIC per
    * fixture (hashes are seeded), and the green oracle rows confirm the
    * margin pair survives banding on both fixtures — so this is a one-time
    * verified fact, not a per-run gamble. A corpus regeneration would
    * re-roll that 2e-4 die once. */
  def minhashLshVerified(spark: SparkSession, dir: String, threshold: Double = 0.8,
                         maxBucket: Int = 2000, estMargin: Double = 0.3): DataFrame = {
    val cand = minhashLsh(spark, dir,
        threshold = math.max(0.0, threshold - estMargin), maxBucket = maxBucket)
      .select(col("d1"), col("d2"))
    // Exact verify WITHOUT materializing shingle strings: the distinct
    // shingle set is represented by its sorted FNV64 hash array (one fused
    // codegen call per document — the interpreted-HOF string shingling it
    // replaces measured 10-50× slower), and each pair is scored by the
    // allocation-free sorted merge. |A∩B| and the set sizes are identical to
    // the string computation absent an in-pair hash collision (see
    // TextHash.shingleHashesCol), so the string-based SQL oracle still
    // checks this row-for-row.
    // NOTE (r14, measured): spread+materialize of this frame was tried and
    // REVERTED — dedup_minhash_lsh 736→1196 ms in a like-for-like subset
    // A/B: the two verify-side shingle derivations are cheaper than the
    // checkpoint job + exchange on this corpus (contrast containment,
    // where THREE consumers and a wider gram set make the same device win)
    val sh = Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.TextHash.shingleHashesCol(
        TextAnalysis.tokensCol(lower(col("text")))).as("sh"))
    cand
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.SetOps.sortedIntersectCountCol(col("s1"), col("s2")).as("c"),
        size(col("s1")).as("n1"), size(col("s2")).as("n2"))
      .select(col("d1"), col("d2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ----------------------------------------------------------- simhash

  /** 64-bit SimHash of a token multiset. */
  def simhash(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv64(t)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  final case class DocSim(doc_id: Long, sim: Long)
  final case class SimPair(d1: Long, d2: Long, hamming: Int)

  /** Per-document SimHash via the native codegen expression
    * ([[graft.functions.TextHash.simhashTokensCol]]) — one static JVM call per
    * row inside whole-stage codegen; [[simhash]] is the scalar twin the spec
    * checks it against. */
  def simhashes(spark: SparkSession, dir: String): Dataset[DocSim] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextHash.simhashTokensCol(
          TextAnalysis.tokensCol(lower(col("text")))).as("sim"))
      .as[DocSim]
  }

  /** Pigeonhole candidate pairs over precomputed simhashes — the testable
    * core of [[simhashDups]]. A bucket larger than `maxBucket` is dropped
    * WHOLE (same contract as [[minhashLsh]]'s band buckets — truncation
    * would silently bias toward low doc_ids); dropped buckets are queryable
    * as data via [[droppedBuckets]]. */
  def simhashPairsOf(sims: Dataset[DocSim], maxDist: Int = 3,
                     maxBucket: Int = 4000): Dataset[SimPair] = {
    import sims.sparkSession.implicits._
    sims.flatMap { d =>
      (0 until 4).iterator.map(c => ((c, (d.sim >>> (c * 16)) & 0xffffL), d))
    }.groupByKey(_._1).flatMapGroups { (key, it) =>
      val docs = it.map(_._2).toArray.sortBy(_.doc_id)
      if (docs.length > maxBucket) {
        System.err.println(
          s"[simhashDups] bucket $key overflow: ${docs.length} docs > $maxBucket, dropped whole")
        Iterator.empty
      } else
        for {
          i <- docs.indices.iterator
          j <- (i + 1) until docs.length
          dist = java.lang.Long.bitCount(docs(i).sim ^ docs(j).sim)
          if dist <= maxDist
        } yield SimPair(docs(i).doc_id, docs(j).doc_id, dist)
    }.dropDuplicates("d1", "d2")
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, using the
    * pigeonhole trick: split 64 bits into 4 chunks of 16 — any pair within
    * distance 3 agrees on at least one whole chunk, so chunk-equality buckets
    * are a complete candidate set (linear shuffle, no all-pairs). */
  def simhashDups(spark: SparkSession, dir: String, maxDist: Int = 3,
                  maxBucket: Int = 4000): Dataset[SimPair] =
    simhashPairsOf(simhashes(spark, dir), maxDist, maxBucket)

  /** Overflow buckets both capped candidate generators would drop, AS DATA —
    * the non-silent answer to "what did the cap cost me": one row per
    * degenerate bucket with its family and size. Empty at sane corpus/cap
    * combinations (pinned by the oracle at test scale); at 100 TB this is
    * the operational dashboard for cap tuning. Shares the signature /
    * simhash plans with the generators themselves. */
  def droppedBuckets(spark: SparkSession, dir: String, lshMaxBucket: Int = 2000,
                     simMaxBucket: Int = 4000): DataFrame = {
    val lsh = signaturesDF(spark, dir)
      .select(posexplode(bandHashesCol(col("sig"))).as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > lshMaxBucket)
      .select(lit("minhash_lsh").as("family"), col("band"),
        col("bh").cast("string").as("bucket"), col("bucket_n"))
    val chunkArr = array((0 until 4).map(c =>
      shiftrightunsigned(col("sim"), c * 16).bitwiseAND(lit(0xffffL))): _*)
    val sim = simhashes(spark, dir).toDF()
      .select(posexplode(chunkArr).as(Seq("band", "chunk")))
      .groupBy(col("band"), col("chunk")).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > simMaxBucket)
      .select(lit("simhash").as("family"), col("band"),
        col("chunk").cast("string").as("bucket"), col("bucket_n"))
    lsh.unionAll(sim)
  }

  // ------------------------------------------- components / keep-list

  /** Connected components by min-label propagation WITH POINTER JUMPING:
    * every node starts labeled with itself; each round every node takes the
    * min label among itself and its neighbors, then jumps through its
    * label's label (`label(v) <- label(label(v))` — path doubling). The
    * jump halves remaining chain depth, so convergence is O(log diameter)
    * rounds, not O(diameter): the default 20 rounds cover any component a
    * real corpus can produce. The frontier is `localCheckpoint`ed so the
    * plan stays flat across iterations.
    *
    * The edges are symmetrized and materialized once (localCheckpoint) and
    * counted on the checkpointed blocks. At or below the one broadcast
    * cutover ([[Tables.broadcastUpTo]]) the label table is at most twice
    * that many rows (every label row is an edge endpoint), so it rides a
    * broadcast and each round's neighbor join moves zero edge bytes; above
    * it every join is a plain shuffled join.
    *
    * `edges` needs columns (d1, d2), undirected, any orientation; `nodes`
    * one column `node` covering at least every endpoint — isolated nodes
    * keep their own label. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 20): DataFrame = {
    // Frontier handling: localCheckpoint(true), NOT persist+unpersist.
    // Unpersisting an upstream cached frame (cascade=false) re-caches its
    // dependents LAZILY against the raw lineage, discarding materialized
    // buffers — in an iterative chain that degenerates to exponential
    // recompute (observed: a 16-node path graph spun for minutes). The
    // checkpoint truncates lineage each round instead.
    val sym = symmetrize(edges).localCheckpoint(true)
    // every round is checkpointed: the returned plan reads only the final
    // frontier, never the edges
    try ccIterate(sym, nodes, maxIter)
    finally graft.Checkpoints.release(sym)
  }

  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(edges.select(col("d2").as("src"), col("d1").as("dst")))

  /** PRECONDITION: `sym` must be SYMMETRIZED (for every (s,d) row a (d,s)
    * row exists — all callers go through [[symmetrize]]). The pointer-jump
    * projection's `coalesce(prev, jp)` is a value no-op ONLY under this:
    * symmetry makes every nbr dst also a labels src, so every minned node
    * carries exactly one non-null prev and max(prev) never falls through
    * to the jump target's. An asymmetric caller would silently corrupt the
    * convergence metric — CcRoundPlanSpec pins the no-null-prev invariant
    * on every tapped round. */
  private def ccIterate(sym: DataFrame, nodes: DataFrame, maxIter: Int): DataFrame = {
    // below the cutover the |V|-sized labels into the neighbor join and the
    // terminal label table ride a broadcast: the per-round exchange count
    // drops from 3-4 to 1 (the union-aggregate), and the edge relation is
    // never re-exchanged. Values are exact integer min/sum — join strategy
    // cannot change them.
    val bcast = Tables.broadcastUpTo(sym.count())
    // only nodes that appear in an edge can ever change label — iterate over
    // those (typically a small fraction of the corpus) and fold the isolated
    // majority back in at the end with label = self. The node list needs one
    // exchange by src anyway, so the same aggregation folds in the first
    // min-neighbor step for free: labels start at min(self, neighbors)
    // instead of self, one whole propagation round ahead.
    var chk = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint(true)
    var labels = chk
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbr = sym.join(bcast(labels.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), col("label"))
      // The round's ONE materialization: the old label rides through the
      // min-aggregation as `prev` (each node contributes exactly one non-null
      // prev row, so max() recovers it), which makes the convergence check a
      // shuffle-free scan of the checkpointed frame instead of a join back
      // against the previous frontier — one action + two exchanges fewer per
      // round than checkpointing `minned` and `next` separately.
      val minned = labels.select(col("node"), col("label"), col("label").as("prev"))
        .unionAll(nbr.select(col("node"), col("label"),
          lit(null).cast("long").as("prev")))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"), max(col("prev")).as("prev"))
      // pointer jump: follow the label's own label (it is always a node of
      // the same component). `minned` is deliberately NOT checkpointed: both
      // join sides shuffle the identical union-agg subplan, so ReuseExchange
      // materializes it once and only the cheap post-shuffle agg runs twice.
      // DOUBLE jumping was measured and rejected (round 8, idle-host
      // best-of-3 at sf0.1): rounds stayed 4 → 4 — dedup components are
      // shallow near-cliques, so after the init min-neighbor fold the round
      // count sits at the convergence-detection floor, not the diameter —
      // while the extra |V|-sized self-join per round cost 4.2 s → 5.4 s.
      // On a deep graph the jump count would matter; on THIS operator's
      // graphs the single jump is already past the knee (the 300-deep path
      // spec pins the asymptotic behavior).
      // the jump lookup deliberately stays a SHUFFLE join even when labels
      // broadcast elsewhere: both sides are the same union-agg subplan and
      // ReuseExchange materializes it once — a broadcast build side is a
      // SEPARATE subtree, so it re-ran the whole neighbor join a second
      // time per round (r13 StageTimeProbe: two sym-scanning stages per
      // round instead of one).
      // The lookup side must aggregate the SAME columns as the left side
      // for that reuse to actually fire: with the natural 2-column
      // projection, column pruning strips max(prev) from the lookup
      // branch's aggregate, the two union-agg exchange subtrees no longer
      // canonicalize equal, and the neighbor-join map side ran TWICE per
      // round anyway (r13 StageTimeProbe: two ~equal-size map stages per
      // round, sharing gone). So the lookup keeps `prev` as `jp` and the
      // output references it through coalesce(prev, jp) — a no-op (every
      // minned node has exactly one labels row, so max(prev) is never
      // null) that pins identical aggregates on both branches; the only
      // per-round duplicate left is the post-shuffle final agg over the
      // |changed-nodes| frame.
      val jumped = minned
        .join(minned.select(col("node").as("jn"), col("label").as("jl"),
            col("prev").as("jp")),
          col("label") === col("jn"), "left")
        .select(col("node"), coalesce(col("jl"), col("label")).as("label"),
          coalesce(col("prev"), col("jp")).as("prev"))
      graft.tools.PlanProbe.tap(s"ccround_$it", jumped)
      // the round's one job materializes `next` and counts its changed
      // labels (Checkpoints.checkpointCounting: a zero is confirmed against
      // the blocks, so a retried task cannot fake convergence)
      val (next, changed) =
        graft.Checkpoints.checkpointCounting(jumped, col("label") =!= col("prev"))
      // `next` is materialized and `changed` counted: the previous frontier
      // is now a dead block set — release it eagerly instead of waiting for
      // the ContextCleaner (at 100 TB it is a |V|-row pinned set per round)
      graft.Checkpoints.release(chk)
      chk = next
      labels = next.select(col("node"), col("label"))
      converged = changed == 0
      it += 1
    }
    // the returned plan reads the final frontier
    graft.Checkpoints.track(chk)
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    nodes.join(bcast(labels), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** The output a dedup pipeline actually acts on: one row per document with
    * its near-dup component's canonical (minimum) doc_id and a keep flag.
    * Edges = exact-duplicate groups (star to the group minimum — same
    * connectivity as all-pairs) ∪ token-jaccard near-dup pairs. Documents in
    * no pair keep themselves. The oracle recomputes both edge sets and the
    * components with a recursive CTE in DuckDB. */
  def nearDupComponents(spark: SparkSession, dir: String,
                        threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val jac = tokenJaccard(spark, dir, threshold).select(col("d1"), col("d2"))
    // group on md5(text), not text: the exact-dup shuffle then carries
    // 16-byte digests instead of whole documents — same trade dedup_exact
    // makes, and the same collision acceptance (deterministic per fixture)
    val exEdges = docs.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("d1"), collect_set(col("doc_id")).as("ids"))
      .select(col("d1"), explode(col("ids")).as("d2"))
      .filter(col("d1") =!= col("d2"))
    val labels = connectedComponents(jac.unionAll(exEdges),
      docs.select(col("doc_id").as("node")))
    labels.select(col("node").as("doc_id"), col("label").as("canonical_id"),
      (col("node") === col("label")).as("keep"))
  }

  /** Per-source NEAR-DUPLICATE rate — dedup observability over the data
    * mixture: which sources pump duplicates into the corpus, the per-batch
    * health metric a 100 TB ingest dashboard recomputes continuously. A
    * document counts as dropped iff it has a token-jaccard near-dup with a
    * SMALLER doc_id — the one-pass greedy keep-first policy (cheap,
    * local); the transitively-correct component keep-list is
    * [[nearDupComponents]], which this report deliberately does not rerun:
    * the rate needs the pair set, not canonical labels, so it costs one
    * prefix+length-filtered pair generation plus a doc_id equi-join of the
    * (duplicate-sized) drop set against the corpus and a map-side-combined
    * agg on source. */
  def sourceDupRate(spark: SparkSession, dir: String,
                    threshold: Double = 0.8): DataFrame = {
    val dropped = tokenJaccard(spark, dir, threshold)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1L))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_docs"), 6).as("dup_rate"))
  }

  // ------------------------------------------------- decontamination

  /** Train/eval DECONTAMINATION: which training documents share word
    * n-grams with the held-out eval split — the standard pre-training check
    * that benchmark text has not leaked into the training corpus (long
    * n-grams, here w = 5, so chance collisions are negligible and any hit is
    * real overlap). The eval split is carved deterministically
    * (doc_id % evalMod == 0) so the oracle can re-derive it.
    *
    * Scale shape — the asymmetry IS the design: the eval set is tiny and
    * fixed (benchmarks), so its exploded n-gram set is BROADCAST and the
    * 100 TB training corpus is scanned map-only — shingle-hash (fused
    * codegen expression, no n-gram strings), hash-join against the
    * broadcast, and one partial-aggregated groupBy on the (train, eval)
    * hits, which are a vanishing fraction of the corpus. No shuffle of the
    * train side ever happens. Output: one row per contaminated
    * (train, eval) pair with the shared-gram count and the contaminated
    * fraction of the eval doc (exact IEEE division of exact integers). */
  def decontamOverlap(spark: SparkSession, dir: String, w: Int = 5,
                      evalMod: Long = 50, minShared: Int = 1): DataFrame = {
    // shingle-hash once, in parallel: the train explode and the eval side
    // re-derived the fused chain from the one scan split (sf0.1, local[4],
    // median of 14: 244 ms as is, 328 ms without the spread, 529 ms
    // without both)
    val sh = Tables.materializeSmall(
      Tables.spreadSmall(Tables.documents(spark, dir), col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextHash.shingleHashesCol(
            TextAnalysis.tokensCol(lower(col("text"))), w).as("sh")))
    val train = sh.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("g"))
    val ev = sh.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_id"), size(col("sh")).as("n_eval_grams"),
        explode(col("sh")).as("g"))
    train.join(broadcast(ev), "g")
      .groupBy(col("train_id"), col("eval_id"), col("n_eval_grams"))
      .agg(count(lit(1)).as("n_shared")) // both gram sets distinct → |A∩B|
      .filter(col("n_shared") >= minShared)
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_eval_grams")).as("contamination"))
  }

  /** CROSS-SOURCE overlap matrix — mixture observability at the SOURCE
    * grain: for every source pair, how many distinct 5-gram shingles they
    * share, and the containment (shared / smaller side). The dashboard a
    * mixture designer reads before weighting sources: two crawls of the
    * same site show near-total containment (keep one), syndicated
    * boilerplate shows up as a dense block, and the per-pair numbers say
    * which [[decontamOverlap]]/[[spanOverlap]] runs are worth their cost.
    *
    * Scale shape: per-doc DISTINCT gram hashes ride the fused shingle
    * expression (map-only); ONE distinct exchange dedups (source, gram);
    * the pair join is a self-equi-join on the gram hash whose probe side
    * is the SAME frame (exchange reuse, the MinHash band-join precedent)
    * and whose per-gram fan-out is bounded by sources² — output is
    * sources²-sized, never corpus-sized. Engine joins 64-bit hashes, the
    * oracle re-derives on gram STRINGS (the decontam count-parity +
    * collision acceptance). */
  def crossSourceOverlap(spark: SparkSession, dir: String, w: Int = 5): DataFrame = {
    // NOTE (r14, measured): spreading this scan was tried and REVERTED
    // (898→934 ms like-for-like — the distinct's exchange already spreads
    // everything downstream; the serial map side is cheaper than a second
    // exchange on this corpus)
    val sg = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.TextHash.shingleHashesCol(
          TextAnalysis.tokensCol(lower(col("text"))), w)).as("g"))
      .distinct()
    val perSource = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sg.as("a").join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(perSource.withColumnRenamed("source", "s1").withColumnRenamed("n", "n1")), "s1")
      .join(broadcast(perSource.withColumnRenamed("source", "s2").withColumnRenamed("n", "n2")), "s2")
      .select(col("s1"), col("s2"), col("shared_grams"),
        round(col("shared_grams").cast("double") / least(col("n1"), col("n2")), 6)
          .as("containment"))
  }

  /** DuckDB re-derivation of [[crossSourceOverlap]] on gram strings. */
  def crossSourceOracleSql: String =
    s"""WITH t AS (SELECT doc_id, source, ${graft.OracleSql.tokens("lower(text)")} AS tk FROM documents),
      |s AS (SELECT source, list_distinct(${graft.OracleSql.shingles("tk", 5)}) AS sh FROM t),
      |src AS (SELECT DISTINCT source, g FROM (SELECT source, unnest(sh) AS g FROM s)),
      |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM src GROUP BY source),
      |p AS (SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS shared_grams
      |      FROM src a JOIN src b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
      |SELECT s1, s2, shared_grams,
      |  ROUND(CAST(shared_grams AS DOUBLE) / LEAST(na.n, nb.n), 6) AS containment
      |FROM p JOIN n na ON p.s1 = na.source JOIN n nb ON p.s2 = nb.source""".stripMargin

  /** Intra-corpus duplicated-SPAN detection — the n-gram approximation of
    * exact substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): for every document, how
    * many of its distinct w-gram spans also occur in at least one OTHER
    * document, and the duplicated fraction. Long spans (w = 5, as in
    * [[decontamOverlap]]) make chance collisions negligible, so a nonzero
    * `dup_frac` is real copied text — the per-document signal a pipeline
    * thresholds to drop boilerplate-heavy documents that pairwise near-dup
    * detection misses (a span copied across 1 000 documents never makes any
    * single pair similar).
    *
    * Scale shape: ONE corpus scan (spec-asserted), TWO linear exchanges,
    * no join. Per-doc gram sets are distinct, so a gram's occurrence count
    * IS its document count, and a gram counted ONCE is owned by exactly one
    * document — so `n_dup = n_grams − n_unique` and only the SINGLETON
    * gram groups (which carry their single owner) need to flow to the
    * per-document rollup. A naive "join grams against the duplicated-gram
    * table" re-scans the corpus to build the join side (the pack_sequences
    * defect class); this shape instead appends one per-doc SENTINEL
    * pseudo-gram so documents whose every real gram is duplicated still
    * produce a singleton group and no second corpus read exists
    * structurally. Both aggregations are map-side-combined hash aggs, so a
    * boilerplate gram shared by millions of documents is pre-counted per
    * partition — no hot-key task, no window sort, no skew cliff. Sentinel
    * values (-doc_id−1) colliding with a real 64-bit gram hash is the same
    * negligible, fixture-deterministic acceptance every hashed verifier
    * here makes. */
  def spanOverlap(spark: SparkSession, dir: String, w: Int = 5): DataFrame = {
    val grams = Tables.documents(spark, dir).select(
        col("doc_id"),
        graft.functions.TextHash.shingleHashesCol(
          TextAnalysis.tokensCol(lower(col("text"))), w).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_grams"),
        explode(concat(col("sh"), array(-col("doc_id") - 1))).as("g"))
    grams.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("doc_id"),
        min(col("n_grams")).as("n_grams"))
      .filter(col("nd") === 1)
      .groupBy(col("doc_id"), col("n_grams"))
      .agg((count(lit(1)) - 1L).as("n_unique")) // minus the sentinel
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - col("n_unique")).as("n_dup_grams"),
        ((col("n_grams") - col("n_unique")).cast("double") / col("n_grams"))
          .as("dup_frac"))
  }

  /** Maximal DUPLICATED-SPAN extents per document — the cut-list a
    * Lee-et-al-style span-dedup pipeline consumes ([[spanOverlap]] measures
    * how much of a document is duplicated; this says exactly WHERE, so the
    * pipeline can excise the copied text instead of dropping the document).
    *
    * A token position is duplicated when the w-gram starting there occurs
    * ≥ 2 times corpus-wide (across documents or repeated within one — both
    * are copies under the span-dedup definition). Runs of duplicated gram
    * positions whose token intervals overlap or touch (gap ≤ w) merge into
    * one maximal span `[start_tok, end_tok]`, end capped at the document's
    * last token (whole-doc grams of short documents never overstate).
    *
    * Scale shape: the occurrence stream is derived TWICE (once for the
    * corpus-wide gram counts, once positionally) — two linear scans, by
    * choice: caching the exploded ~w×corpus gram stream to save a re-scan
    * is a worse trade at 100 TB than re-reading the pruned 2-column
    * parquet (the [[spanOverlap]] sentinel trick cannot carry positions).
    * The count side is a map-side-combined hash agg (boilerplate grams
    * pre-reduce per partition — no hot-key task), its ≥2 survivors are the
    * duplicated-gram table joined back on the hash (AQE broadcasts it at
    * small SF; beyond broadcast it is one linear equi-shuffle), and the
    * run-merge is a per-document window — one exchange on doc_id, per-doc
    * sort bounded by document length, and the final (doc_id, run) rollup
    * reuses the doc_id partitioning, so no further exchange. */
  def spanExtents(spark: SparkSession, dir: String, w: Int = 5): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // spread: positional shingle hashing is the per-row cost and both
    // occurrence derivations ran it on the one scan split (sf0.1,
    // local[4], median of 14: dedup_span_extents 362 ms spread vs 782 ms
    // unspread, dedup_span_clean 599 vs 795 ms); the
    // derive-twice-instead-of-cache choice itself is documented above and
    // unchanged. No-op at scale.
    def occurrences = Tables.spreadSmall(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"),
        TextAnalysis.tokensCol(lower(col("text"))).as("t"))
      .select(col("doc_id"), size(col("t")).cast("bigint").as("n_tokens"),
        posexplode(graft.functions.TextHash.positionalShingleHashesCol(col("t"), w)))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("bigint").as("pos"), col("col").as("g"))
    val dupGrams = occurrences.groupBy(col("g"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("g")
    val win = W.partitionBy(col("doc_id")).orderBy(col("pos"))
    occurrences.join(dupGrams, "g")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(win) <= w, lit(0)).otherwise(lit(1)))
      .withColumn("run", sum(col("brk")).over(win))
      .groupBy(col("doc_id"), col("run"))
      .agg(min(col("pos")).as("start_tok"),
        least(max(col("pos")) + lit(w - 1), max(col("n_tokens")) - 1).as("end_tok"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"), col("n_dup_grams"))
  }

  /** APPLY the cut-list: the corpus with every [[spanExtents]] span EXCISED
    * — the deliverable of the Lee-et-al span-dedup step (keep the document,
    * cut the copied text). `clean_text` is rebuilt from the shared
    * tokenization (lowercased letter-runs joined by single spaces), the
    * same normalization every token-level operator here scores on.
    *
    * Scale shape: the extents subplan (two linear scans + bounded
    * exchanges, see [[spanExtents]]) rolls up to one bounded span-list row
    * per AFFECTED document (`collect_list` per doc — bounded by document
    * length, like every per-doc aggregate here), left-joined back onto the
    * corpus (AQE broadcast while the affected set is small; linear
    * equi-shuffle beyond) and applied by ONE fused codegen merge-walk per
    * row ([[graft.functions.SpanOps]]) — O(tokens + spans), not the
    * tokens×spans of an interpreted `exists()` filter. */
  def spanClean(spark: SparkSession, dir: String, w: Int = 5): DataFrame = {
    val spans = spanExtents(spark, dir, w)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("start_tok"), col("end_tok")))).as("sp"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokensCol(lower(col("text"))).as("t"))
    docs.join(spans, Seq("doc_id"), "left")
      // the span list is tiny per doc; the interpreted transform over it is
      // O(spans), the per-TOKEN work stays in the fused expression
      .select(col("doc_id"), col("t"),
        coalesce(expr("transform(sp, x -> x.start_tok)"),
          array().cast("array<bigint>")).as("ss"),
        coalesce(expr("transform(sp, x -> x.end_tok)"),
          array().cast("array<bigint>")).as("ee"))
      .select(col("doc_id"), size(col("t")).cast("bigint").as("n_tokens"),
        graft.functions.SpanOps.exciseSpansCol(col("t"), col("ss"), col("ee")).as("k"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("k"))).cast("bigint").as("n_dup_tokens"),
        concat_ws(" ", col("k")).as("clean_text"))
  }

  /** The eval split's DISTINCT n-gram hash set, sorted — the driver-side
    * artifact [[decontamStreamCol]] embeds. Bounded by the eval corpus
    * (benchmarks are small and fixed; that asymmetry is the whole design
    * of this family). */
  def evalGramSet(spark: SparkSession, dir: String, w: Int = 5,
                  evalMod: Long = 50): Array[Long] =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % evalMod === 0)
      .select(explode(graft.functions.TextHash.shingleHashesCol(
        TextAnalysis.tokensCol(lower(col("text"))), w)).as("g"))
      .distinct().collect().map(_.getLong(0)).sorted

  /** INGEST-TIME decontamination column: `n_shared` of a document's n-gram
    * set against a fixed eval gram set — the streaming/ingest twin of
    * [[decontamOverlap]]. The eval grams ride along as a sorted array
    * literal and each incoming document is scored by the same fused
    * shingle-hash + sorted-merge pair as the batch query: stateless,
    * shuffle-free, watermark-free — usable identically on a static frame
    * or a `readStream` source, which the parity spec exercises. */
  def decontamStreamCol(text: Column, evalGrams: Array[Long], w: Int = 5): Column =
    graft.functions.SetOps.sortedIntersectCountCol(
      graft.functions.TextHash.shingleHashesCol(TextAnalysis.tokensCol(lower(text)), w),
      lit(evalGrams))

  /** BLOOM-FILTER decontamination — the bounded-memory scale path for when
    * the eval gram set outgrows the exact broadcast array ([[evalGramSet]]
    * ships every hash; a year of accumulated benchmarks at 100 TB doesn't
    * fit an array literal, but its Bloom filter at ε=1e-4 is ~2.4 bytes per
    * gram, fixed at build time). Builds the filter over the eval split's
    * gram hashes with Spark's sketch aggregate (one pass, driver receives
    * only the bit array), broadcasts it, and flags train documents whose
    * per-doc PROBE COUNT crosses `minShared` — map-only over the corpus,
    * no join at all (the exact form joins train grams against the
    * broadcast eval table).
    *
    * Contract (spec-pinned): one-sided error. Per document,
    * `n_flagged ≥ n_shared_exact` always (no false negatives — a Bloom
    * filter never misses an inserted element), and the spurious excess is
    * bounded by ε per probed gram (the spec measures the fixture's actual
    * excess). ε must be sized against per-doc gram counts: at ε=1e-4 a
    * 150-gram clean document is spuriously flagged with p ≈ 1.5%; at the
    * web-pipeline default ε=0.03 that p is ≈ 99% — the classic per-item →
    * per-document compounding trap, which is why ε here defaults far
    * tighter than sketch-library defaults. */
  def decontamBloomFlags(spark: SparkSession, dir: String, w: Int = 5,
                         evalMod: Long = 50, minShared: Int = 1,
                         fpp: Double = 1e-4): DataFrame = {
    import spark.implicits._
    // the bloom-build side and the train probe side each derive the fused
    // shingle chain: neither a spread of the scan nor a checkpoint of the
    // chain won (sf0.1, local[4], median of 28: 443-456 ms checkpointed vs
    // 432-454 ms re-derived)
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextHash.shingleHashesCol(
          TextAnalysis.tokensCol(lower(col("text"))), w).as("sh"))
    // persisted across its TWO actions (sizing count + filter build) so the
    // eval split's scan + shingle pipeline runs once, not twice
    val evalGrams = sh.filter(col("doc_id") % evalMod === 0)
      .select(explode(col("sh")).as("g")).distinct().persist()
    val bloom = try {
      val nEval = math.max(evalGrams.count(), 1L)
      evalGrams.stat.bloomFilter("g", nEval, fpp)
    } finally evalGrams.unpersist(blocking = false)
    val bBloom = spark.sparkContext.broadcast(bloom)
    sh.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id").as("train_id"), col("sh"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val f = bBloom.value
        it.map { case (id, grams) =>
          var n = 0
          var i = 0
          while (i < grams.length) { if (f.mightContainLong(grams(i))) n += 1; i += 1 }
          (id, grams.length.toLong, n.toLong, n >= minShared)
        }
      }
      .toDF("train_id", "n_grams", "n_flagged", "flagged")
  }

  // ---------------------------------------------- rolling-hash fingerprints

  final case class DocFp(doc_id: Long, fps: Array[Long])

  /** Oracle surface of [[shingleFingerprints]]: document pairs sharing at
    * least `minShared` fingerprints — the containment/overlap detector the
    * sparse signatures exist for. One explode + self-join on the fingerprint
    * value (equi-key, linear shuffle — identical scale shape to the LSH
    * band join; fingerprints are ~1/keepMod of shingles, so the joined
    * relation is a fraction of the corpus). */
  def fingerprintOverlap(spark: SparkSession, dir: String,
                         minShared: Int = 2): DataFrame = {
    val fps = shingleFingerprints(spark, dir).toDF()
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    fps.select(col("fp"), col("doc_id").as("d1"))
      .join(fps.select(col("fp"), col("doc_id").as("d2")).hint("shuffle_merge"), "fp")
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Karp-Rabin winnowing-style fingerprints: rolling FNV over w-shingles,
    * keep hashes ≡ 0 (mod keepMod) — a sparse, alignment-robust signature for
    * containment/overlap detection (cf. winnowing, Schleimer et al. 2003). */
  def shingleFingerprints(spark: SparkSession, dir: String, w: Int = 5,
                          keepMod: Int = 4): Dataset[DocFp] = {
    import spark.implicits._
    // NOTE (r14, measured): spreading this scan was tried and REVERTED
    // (dedup_fp_overlap 590→729 ms like-for-like — the exchange costs more
    // than the serial fingerprint pass saves on this corpus)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextHash.fingerprintTokensCol(
          TextAnalysis.tokensCol(lower(col("text"))), w, keepMod).as("fps"))
      .as[DocFp]
  }

  /** Scalar twin of the [[graft.functions.FingerprintTokensExpr]] fused form,
    * kept as the spec's independent re-derivation. */
  private[graft] def fingerprintsScalar(toks: Seq[String], w: Int, keepMod: Int): Array[Long] =
    toks.sliding(w).filter(_.nonEmpty)
      .map(sh => fnv64(sh.mkString(" ")))
      .filter(h => (h & (keepMod - 1)) == 0)
      .toArray.distinct.sorted

  /** Shared boilerplate paragraph planted into every 7th document (the
    * fixture has no natural paragraph structure or cross-doc repeats at
    * paragraph granularity — the plant is re-derived identically by the
    * oracle, the `ev_props_nested` device). */
  private[graft] val ParagraphBoilerplate =
    "subscribe to our newsletter for updates and follow us on social media"

  /** CCNet-style PARAGRAPH-level deduplication (Wenzek et al. 2020): split
    * each document into paragraphs, hash them, keep only each paragraph's
    * FIRST occurrence corpus-wide (minimum (doc_id, para_idx)), and
    * reconstruct the cleaned document. This is the line/paragraph-granular
    * sibling of span dedup: boilerplate (headers, footers, cookie banners)
    * repeats verbatim across millions of pages and never survives it.
    *
    * The fixture has single-line docs, so paragraphs are derived: chunks of
    * `paraTokens` consecutive tokens (original order, space-joined), with
    * [[ParagraphBoilerplate]] replacing paragraph 0 of every 7th doc.
    *
    * Scale shape: paragraph explode is map-only; the winner election is ONE
    * hash-partitioned min-aggregation on the paragraph hash (map-side
    * partials collapse popular boilerplate before the exchange — the hotter
    * the paragraph, the MORE the combiner removes); the keep test is a join
    * back on the hash. No all-pairs anything: cost is O(paragraphs), the
    * CCNet recipe that ran on Common Crawl. Output reconstruction re-joins
    * per doc — one more exchange on doc_id, ~2 narrow rows per doc.
    *
    * Output: one row per doc — paragraph counts and the md5 of the cleaned
    * (kept-paragraphs) text, value-oracled in DuckDB. */
  def paragraphDedup(spark: SparkSession, dir: String,
                     paraTokens: Int = 20): DataFrame = {
    val paras = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(toks) + ${paraTokens - 1}) DIV $paraTokens - 1),
              i -> array_join(slice(toks, i * $paraTokens + 1, $paraTokens), ' '))"""))
        .as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx"),
        when(col("para_idx") === 0 && col("doc_id") % 7 === 0,
          lit(ParagraphBoilerplate)).otherwise(col("para")).as("para"))
    val winners = paras
      .groupBy(md5(col("para")).as("h"))
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("first"))
      .select(col("h"), col("first.doc_id").as("w_doc"),
        col("first.para_idx").as("w_idx"))
    paras.join(winners, md5(col("para")) === col("h"))
      .withColumn("kept", col("doc_id") === col("w_doc") && col("para_idx") === col("w_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
            when(col("kept"), struct(col("para_idx"), col("para"))))),
          x => x("para")), "\n")).as("clean_hash"))
  }

  // ---------------------------------------- URL canonicalization dedup

  /** Canonical form of a raw URL — the crawl pipeline's STAGE-ZERO dedup
    * key (upstream even of `text_html_extract`: don't fetch or store the
    * same page twice). RFC 3986 §6 normalization as one codegen'd
    * expression chain: scheme and host case-fold (paths do NOT — /Docs ≠
    * /docs), fragment dropped, default port stripped per scheme, leading
    * `www.` dropped, trailing path slashes collapsed, tracking parameters
    * (utm_*, fbclid, gclid) removed while MEANINGFUL parameters are kept
    * and order-normalized (the subtle half: over-stripping merges
    * distinct pages, under-stripping misses dups).
    *
    * Pinned edge-case decisions (UrlDedupSpec case table):
    * - NON-default ports are kept (`:8080` stays; only `:80`/`:443` on
    *   their matching scheme are default);
    * - percent-encoding is NOT normalized — `%7E` and `~` stay distinct
    *   (RFC 3986 §6.2.2.2 would merge unreserved escapes, but partial
    *   decoding is the classic over-merge bug: decoding `%2F` in a path
    *   changes its structure. A crawler that needs escape folding should
    *   fold BEFORE this key; the safe engine default is byte-faithful);
    * - duplicate query keys are kept, sorted lexicographically with the
    *   rest (`b=2&b=1` → `b=1&b=2` — dedup would change GET semantics);
    * - scheme-less and userinfo-carrying URLs pass through structurally
    *   (`host/p` → `://host/p`, userinfo kept verbatim): both are crawl
    *   anomalies this stage refuses to guess about — they group only with
    *   their byte-identical kin. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(rest, "^([^/?]+)", 1))
    val hostDefPort = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val host = regexp_replace(hostDefPort, "^www\\.", "")
    val pathQ = regexp_replace(rest, "^[^/?]+", "")
    val path0 = regexp_replace(regexp_extract(pathQ, "^([^?]*)", 1), "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    // tracking params blanked by one regex, the blanks dropped with the
    // empty ones, and the rest sorted: all native expressions, where a
    // filter lambda or array_sort's default comparator runs interpreted
    val tracked = regexp_replace(regexp_extract(pathQ, "\\?(.*)$", 1),
      "(^|&)(utm_|fbclid=|gclid=)[^&]*", "$1")
    val params = array_remove(split(tracked, "&"), "")
    val qs = array_join(sort_array(params), "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** The registered `dedup_url` query: documents grouped by their URL's
    * canonical form — canonical keeper = min doc_id, with the group size
    * (the crawl-frontier dedup verdict). Scale shape: the normalization is
    * MAP-ONLY on the scan; one exchange keyed by the canonical string
    * builds the group table, and the join back is on the same key — at
    * 100 TB the canonical key also makes the natural bucketed-layout /
    * frontier-partitioning column. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    // canonicalize ONCE, in parallel: the regex chain is the expensive
    // per-row op, and this frame feeds BOTH the group aggregate and the
    // join-back side — the unmaterialized form re-ran it twice on the
    // single scan split. No-op at scale (Tables.materializeSmall).
    // Without the spread and the checkpoint, pipeline_crawl at sf0.01,
    // local[4] rose from 1.28-1.48 s to 1.71-1.96 s a run.
    val canon = Tables.materializeSmall(
      Tables.spreadSmall(graft.Fixtures.urlDocs(spark, dir), col("doc_id"))
        .select(col("doc_id"), canonicalUrl(col("url")).as("canon_url")))
    val groups = canon.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("group_size"))
    canon.join(groups, "canon_url")
      .select(col("doc_id"), col("canon_url"), col("canonical_id"),
        col("group_size"), (col("doc_id") === col("canonical_id")).as("keep"))
  }

  /** DuckDB re-derivation of [[urlDedup]] — same plant
    * ([[graft.Fixtures.urlDocsSql]]), same normalization chain as RE2
    * regex + list ops. */
  def urlDedupOracleSql: String =
    s"""WITH $urlCanonCtesSql
       |SELECT k.doc_id, k.canon_url, g.canonical_id, g.group_size,
       |  k.doc_id = g.canonical_id AS keep
       |FROM k JOIN g USING (canon_url)""".stripMargin

  /** The canonicalization + grouping chain as a CTE fragment (`k` =
    * (doc_id, canon_url), `g` = per-canon groups) — shared by the
    * standalone oracle and the crawl-pipeline capstone's. */
  def urlCanonCtesSql: String =
    s"""raw AS (${graft.Fixtures.urlDocsSql}),
       |c AS (SELECT doc_id,
       |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       |  FROM (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf FROM raw)),
       |p AS (SELECT doc_id, scheme,
       |    lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
       |    regexp_replace(rest, '^[^/?]+', '') AS pathq FROM c),
       |n AS (SELECT doc_id, scheme,
       |    regexp_replace(CASE
       |        WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |        WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |        ELSE hostport END, '^www\\.', '') AS host,
       |    CASE WHEN regexp_replace(COALESCE(regexp_extract(pathq, '^([^?]*)', 1), ''), '/+$$', '') = ''
       |         THEN '/' ELSE regexp_replace(COALESCE(regexp_extract(pathq, '^([^?]*)', 1), ''), '/+$$', '') END AS path,
       |    -- DuckDB array_to_string over an EMPTY list yields NULL (Spark
       |    -- array_join: '') — without the COALESCE every query-less URL's
       |    -- whole canon string goes NULL and the groups collapse
       |    COALESCE(array_to_string(list_sort(list_filter(
       |        string_split(COALESCE(regexp_extract(pathq, '\\?(.*)$$', 1), ''), '&'),
       |        q -> NOT (starts_with(q, 'utm_') OR starts_with(q, 'fbclid=')
       |                  OR starts_with(q, 'gclid=') OR q = ''))), '&'), '') AS qs
       |  FROM p),
       |k AS (SELECT doc_id, scheme || '://' || host || path ||
       |    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url FROM n),
       |g AS (SELECT canon_url, MIN(doc_id) AS canonical_id,
       |    COUNT(*) AS group_size FROM k GROUP BY 1)""".stripMargin
}
