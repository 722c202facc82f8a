package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.relational.RelationalQueries
import graft.mr.{MrJob, MrQueries, WordCount}
import graft.kv.OpLog
import graft.shard.Sharding
import graft.text.TextAnalysis
import graft.dedup.Dedup
import graft.sim.{IvfPq, Pq, Similarity}
import graft.multimodal.Multimodal
import graft.lin.{HistOp, Linearizability}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * EVERY registered query carries a DuckDB oracle in [[oracleSql]] with
  * *identical output column names and types* (money math in DECIMAL(18,2)
  * cast to double at the boundary; BIGINT casts where DuckDB would widen to
  * HUGEINT; no raw timestamp columns — epoch millis only). Operators whose
  * raw output is engine-specific get oracles through a different door:
  * LSH/ANN are verified against exact recomputations (candidate generation
  * may be approximate, verification makes the OUTPUT exact), sketches
  * assert their documented error envelope per engine, SimHash/FNV are
  * recomputed bit-exactly in SQL (HUGEINT wraparound arithmetic), and the
  * linearizability checker answers planted-verdict tables. ScalaTest covers
  * what SQL cannot (plan shapes, streaming parity, chaos, concurrency).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q5NationRevenue(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational surface
    "q1_pricing_summary" -> RelationalQueries.q1PricingSummary _,
    "q3_shipping_priority" -> RelationalQueries.q3ShippingPriority _,
    "q5_nation_revenue" -> RelationalQueries.q5NationRevenue _,
    "q6_forecast_revenue" -> RelationalQueries.q6ForecastRevenue _,
    // per-type OLS trend (slope/intercept/r²) from EXACT decimal moments —
    // never the built-in regr_*/corr aggs (partition-order double folds)
    "ev_forecast" -> RelationalQueries.evForecast _,
    // nation→nation trade matrix: two roles of the nation dimension (Q7)
    "q7_trade_volume" -> RelationalQueries.q7TradeVolume _,
    // conditional-count CASE aggregation over the fact-fact join (Q12 shape)
    "q12_priority_class" -> RelationalQueries.q12PriorityClass _,
    // promo revenue share: conditional decimal sums, one boundary division (Q14)
    "q14_promo_share" -> RelationalQueries.q14PromoShare _,
    // OR-of-ANDs bracket predicate; part-side conjuncts filter pre-join (Q19)
    "q19_brackets" -> RelationalQueries.q19Brackets _,
    // aggregate-HAVING subquery: filter the orderkey aggregate BEFORE any join (Q18)
    "q18_large_orders" -> RelationalQueries.q18LargeOrders _,
    // EXISTS / NOT EXISTS pair decorrelated to semi+anti hash joins (Q21 shape)
    "q21_wait_suppliers" -> RelationalQueries.q21WaitingSuppliers _,
    // scalar-average subquery (broadcast 1-row) + anti join on recent buyers (Q22 shape)
    "q22_idle_customers" -> RelationalQueries.q22IdleCustomers _,
    // aggregate-vs-its-own-max: one fact scan, max joined back broadcast (Q15)
    "q15_top_supplier" -> RelationalQueries.q15TopSupplier _,
    // correlated EXISTS → one LEFT SEMI hash join co-keyed on orderkey (Q4)
    "q4_order_priority" -> RelationalQueries.q4OrderPriority _,
    // national market share: all dims broadcast, one fact-fact shuffle (Q8)
    "q8_market_share" -> RelationalQueries.q8MarketShare _,
    // profit per supplier nation per year; retail price stands in for
    // supply cost (no partsupp in the fixture) (Q9)
    "q9_profit_by_nation" -> RelationalQueries.q9ProfitByNation _,
    // top-20 return-loss customers: exact-decimal ordering + tiebreak (Q10)
    "q10_returned_items" -> RelationalQueries.q10ReturnedItems _,
    // HAVING-vs-global-scalar: per-part value vs broadcast corpus total (Q11)
    "q11_important_parts" -> RelationalQueries.q11ImportantParts _,
    // order-count histogram incl. zero: fact collapsed BEFORE the join (Q13)
    "q13_customer_distribution" -> RelationalQueries.q13CustomerDistribution _,
    // below-fifth-of-average predicate in pure BIGINT centiunits (Q17)
    "q17_small_qty_revenue" -> RelationalQueries.q17SmallQtyRevenue _,
    // aggregated-subquery semi-join: shipped-quantity HAVING per supplier (Q20)
    "q20_promo_suppliers" -> RelationalQueries.q20PromoSuppliers _,
    // distinct-count per dim bucket with a broadcast anti-join exclusion (Q16)
    "q16_supplier_counts" -> RelationalQueries.q16SupplierCounts _,
    // user-journey Markov transitions: one lead() window per user,
    // outgoing share from integer counts
    "ev_transitions" -> RelationalQueries.evTransitions _,
    // SCD2 history build: consecutive repeats collapse, versioned validity
    // intervals closed by the next change (two per-user windows)
    "ev_scd2" -> RelationalQueries.evScd2 _,
    // CDC MERGE-apply: last-writer-wins snapshot with tombstones via ONE
    // map-side-combining struct-max argmax — no per-key window over the log
    "q_cdc_apply" -> RelationalQueries.qCdcApply _,
    // k-anonymity audit: quasi-identifier groups below the k floor —
    // shifted-non-negative integer banding so both engines bucket alike
    "q_kanon_audit" -> ((s: SparkSession, d: String) => RelationalQueries.qKanonAudit(s, d)),
    // A/B readout: hash-split arms, pooled two-proportion z — exact counts,
    // then one fixed IEEE expression tree (no ln, no reassociated sums)
    "ev_ab_test" -> RelationalQueries.evAbTest _,
    // DAU/WAU/stickiness: corpus collapses ONCE to (day,user); WAU via a
    // bounded 7-day range join of that frame; HLL merge is the 100 TB swap
    "ev_dau_wau" -> RelationalQueries.evDauWau _,
    // the registered 100 TB swap: per-day HLL sketches merged over the
    // 7-day window (sketch bytes move, never user ids); exact twin rides
    // along as calibration truth, booleans pin each engine's own estimate
    "ev_dau_wau_sketch" -> RelationalQueries.evDauWauSketch _,
    // pair-cosine histogram on the fixed-count sample: the τ-calibration
    // readout the LSH thresholds came from, cost pinned at sampleN²/2
    "sim_pair_hist" -> ((s: SparkSession, d: String) => graft.sim.Similarity.pairCosineHist(s, d)),
    // Heaps-law vocabulary growth at id-prefix checkpoints: five
    // conditional count-distincts in ONE aggregate pass
    "text_vocab_growth" -> ((s: SparkSession, d: String) => TextAnalysis.vocabGrowth(s, d)),
    // dirty-CSV ingest: planted-unparseable rows under PERMISSIVE +
    // corrupt-record column; the reader's semantics value-pinned per nation
    "src_csv_dirty" -> graft.sources.Formats.csvDirty _,
    // ORC write->read roundtrip aggregated FROM the ORC copy — the second
    // columnar format proven value-lossless incl. DECIMAL fidelity
    "src_orc_roundtrip" -> graft.sources.Formats.orcRoundtrip _,
    // last/first-touch purchase attribution: running integer extrema over
    // the packed (ms,event_id) composite — never a purchases⋈clicks join
    "ev_attribution" -> ((s: SparkSession, d: String) => RelationalQueries.evAttribution(s, d)),
    // materialized-aggregate refresh: stored base partials ∪ delta
    // partials re-summed (exact DECIMAL merge) == full recompute
    "q_incremental_agg" -> RelationalQueries.qIncrementalAgg _,
    // the bucketed at-rest layout driven end-to-end: write both fact sides
    // bucketed on orderkey, join with zero exchange, same values as the
    // plain-join oracle
    "q_bucketed_join" -> ((s: SparkSession, d: String) => RelationalQueries.qBucketedJoin(s, d)),
    "q_semi_anti" -> RelationalQueries.qSemiAnti _,
    "q_window_topn" -> RelationalQueries.qWindowTopN _,
    "q_setops" -> RelationalQueries.qSetOps _,
    "q_rollup" -> RelationalQueries.qRollup _,
    "q_cube" -> RelationalQueries.qCube _,
    "q_pivot" -> RelationalQueries.qPivot _,
    "q_unpivot" -> RelationalQueries.qUnpivot _,
    "ev_hourly_agg" -> RelationalQueries.evHourlyAgg _,
    "ev_sessionize" -> RelationalQueries.evSessionize _,
    // funnel: strictly-ordered view → click → purchase, stage per user —
    // three min-aggs chained on one user_id partitioning, no per-user sort
    "ev_funnel" -> RelationalQueries.evFunnel _,
    // cohort retention matrix (signup-day cohorts × day offset)
    "ev_retention" -> RelationalQueries.evRetention _,
    "q_asof_join" -> RelationalQueries.qAsofJoin _,
    // same query through the custom AsOfJoinPlan operator + resolution rule
    // (requires the GraftExtensions session Verify/Bench build) — checked
    // against the same DuckDB oracle as q_asof_join
    "q_asof_operator" -> RelationalQueries.qAsofOperator _,
    // per-key top-k through the custom PHYSICAL operator (TopKPerKeyPlan →
    // planner strategy → TopKPartialExec/TopKFinalExec): map-side bounded
    // heaps shed all but keys×k rows before the exchange; the window oracle
    // is the semantic truth it must reproduce
    "q_topn_physical" -> ((s: SparkSession, d: String) =>
      graft.plans.TopK.perKey(
        graft.Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 2)),
    "q_quantiles" -> RelationalQueries.qQuantiles _,
    "q_min_cost_supplier" -> RelationalQueries.qMinCostSupplier _,
    "ev_approx_users" -> RelationalQueries.evApproxUsers _,
    // quantile sketch (GK, bounded-memory, mergeable) vs holistic exact
    "q_quantiles_sketch" -> RelationalQueries.qQuantilesSketch _,
    "ev_range_join" -> RelationalQueries.evRangeJoin _,
    "q_grouping_sets" -> RelationalQueries.qGroupingSets _,
    "q_skew_salted" -> RelationalQueries.qSkewSalted _,
    // semi-structured extraction: schema'd from_json over events.props,
    // NULL-counting contract for dirty JSON, one 5-group exchange
    "ev_props_extract" -> RelationalQueries.evPropsExtract _,
    // nested/array JSON with SELF-GENERATED dirty rows (the driver fixture
    // is always-clean flat {"k":N}): struct-of-array-of-struct parse,
    // explode_outer, per-(type, tag) aggregate
    "ev_props_nested" -> RelationalQueries.evPropsNested _,
    // the registered 100TB swap for ev_anomaly: mergeable percentile
    // sketches for median/MAD, envelope-checked against each engine's own
    // exact quantiles (the q_quantiles_sketch contract)
    "ev_anomaly_sketch" -> RelationalQueries.evAnomalySketch _,
    // robust median/MAD outlier detection per event type (exact percentile
    // like q_quantiles; approx_percentile is the documented 100 TB swap)
    "ev_anomaly" -> RelationalQueries.evAnomaly _,
    // hourly spine densification + last-observation-carried-forward fill;
    // the spine is types×hours built from a broadcast 1-row range
    "ev_gap_fill" -> RelationalQueries.evGapFill _,
    // RANGE-frame (value-based) trailing 24 h window over the hourly series;
    // moving sum runs in DECIMAL so window-engine reassociation cannot bite
    "ev_moving_avg" -> RelationalQueries.evMovingAvg _,
    // percent_rank / cume_dist / ntile(4) — the remaining rank family,
    // unique-key ORDER so tie assignment is engine-independent
    "q_rank_family" -> RelationalQueries.qRankFamily _,
    // snapshot diff (CDC): added/deleted/changed via one full-outer join,
    // emitting only difference rows; v2 derived deterministically in both engines
    "q_table_diff" -> RelationalQueries.qTableDiff _,
    // OHLC candlesticks: the min_by/max_by (argmin/argmax) aggregate family,
    // deterministic integer ordering key, picked raw doubles
    "ev_ohlc" -> RelationalQueries.evOhlc _,
    // ML feature cleaning: deterministic-dirty column, mean-impute +
    // z-score from EXACT decimal moments (never stddev's order-dependent
    // double accumulation)
    "ev_impute" -> RelationalQueries.evImpute _,
    // referential-integrity audit: orphan counts per FK relation via
    // anti joins (deterministically-corrupted child keys, non-zero answer)
    "q_integrity" -> RelationalQueries.qIntegrity _,
    // MapReduce surface (reference apps, declarative + typed twin)
    "mr_wordcount" -> MrQueries.wordCount _,
    "mr_inverted_index" -> MrQueries.invertedIndex _,
    "mr_sorted_concat" -> MrQueries.sortedConcat _,
    "mr_wc_typed" -> ((s: SparkSession, d: String) =>
      MrJob.run(WordCount, MrJob.documentsCorpus(s, d)).toDF()),
    // KV op-log semantics (K1-K3, A5)
    "kv_append_fold" -> OpLog.appendFold _,
    "kv_exactly_once" -> OpLog.exactlyOnceFold _,
    // sharding (P6, K4-K6)
    "shard_routing" -> Sharding.shardRouting _,
    "shard_config_history" -> Sharding.configHistory _,
    // K7: keyed state carried through every config change of the script via
    // chained migrateDF re-tags; census per (shard, gid) after each hop
    "shard_migration" -> Sharding.migrationCensus _,
    // text analysis
    "text_token_stats" -> TextAnalysis.tokenStats _,
    "text_bpe_tokens" -> TextAnalysis.bpeTokens _,
    // the TRAINED tokenizer applied back to the corpus: train k merges
    // (BpeTrain), then one map-only broadcast apply — rows-only check (the
    // merge table is learned, so no independent engine re-derives it; the
    // spec pins apply == driver-local reference)
    "text_bpe_apply" -> ((s: SparkSession, d: String) => graft.text.BpeTrain.bpeApply(s, d)),
    // the SECOND trained tokenizer family: unigram-LM (SentencePiece,
    // Kudo 2018) — substring seeding, deterministic hard-EM (integer
    // counts, any-partitioning bit-identical), prune-to-budget, Viterbi
    // apply. Rows-only by nature (trained artifact); UnigramLmSpec pins
    // distributed == driver-local reference
    "text_unigram_apply" -> ((s: SparkSession, d: String) => graft.text.UnigramLm.unigramApply(s, d)),
    // the soft-EM (forward-backward expected-count) twin: Kudo's actual
    // E-step under the micro-unit fixed-point device — same Viterbi apply
    "text_unigram_soft" -> ((s: SparkSession, d: String) => graft.text.UnigramLm.unigramSoftApply(s, d)),
    "text_quality" -> TextAnalysis.qualityScore _,
    "text_langid" -> TextAnalysis.langId _,
    "text_fingerprint" -> TextAnalysis.fingerprint _,
    // corpus-wide TF-IDF top-5 terms per document (ranked on the rounded
    // score — ln is the one non-IEEE-exact op, see tfidfTop)
    "text_tfidf_top" -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTop(s, d)),
    // CCNet-style bigram-LM quality score (self-trained, add-one smoothing):
    // mean -ln P(w2|w1) per document, 6-decimal rounded oracle surface
    "text_lm_quality" -> ((s: SparkSession, d: String) => TextAnalysis.lmQuality(s, d)),
    // Gopher/C4 repetition + shape filters with a combined verdict column
    "text_gopher_filters" -> TextAnalysis.gopherFilters _,
    // C4-style wordlist filter + scrub (map-only; the redaction mechanics)
    "text_blocklist" -> ((s: SparkSession, d: String) => TextAnalysis.blocklist(s, d)),
    // fasttext-style model-based quality filter: logistic regression over
    // shape + hashed-token features, trained IN-QUERY by fixed-point
    // treeAggregate GD against the Gopher-rule weak labels, scored
    // relationally via a broadcast model-as-table join. Rows-only (trained
    // artifact — the BpeTrain precedent); QualityClassifierSpec pins
    // distributed == local-reference weights element-exact
    "text_quality_classifier" -> ((s: SparkSession, d: String) => graft.text.QualityClassifier.scored(s, d)),
    // corpus heavy hitters: exact top-k bigrams via per-partition heaps
    // (TakeOrderedAndProject), never a global sort
    "text_top_ngrams" -> ((s: SparkSession, d: String) => TextAnalysis.topNgrams(s, d)),
    // RAG/retrieval ingestion: overlapping token windows with provenance
    // (doc, chunk index, token offset); map-only, zero exchanges
    "text_chunks" -> ((s: SparkSession, d: String) => TextAnalysis.chunks(s, d)),
    // Misra-Gries sketch candidates + candidate-bounded exact second pass:
    // heavy hitters without a vocabulary-sized exchange, integer threshold
    "text_heavy_hitters" -> ((s: SparkSession, d: String) => TextAnalysis.heavyHitters(s, d)),
    // BM25 lexical retrieval over a fixed term set: exact corpus stats,
    // interpolated float constants, rounded-score ranking
    "text_bm25" -> ((s: SparkSession, d: String) => TextAnalysis.bm25(s, d)),
    // per-source dataset-card profile: doc counts, exact token quantiles,
    // vocabulary, type-token ratio
    "text_profile" -> TextAnalysis.profile _,
    // PII redaction: planted emails/phones (the fixture has none) scrubbed
    // by map-only regex; the scrubbed string itself is md5-value-checked
    "text_pii_scrub" -> TextAnalysis.piiScrub _,
    // iterative graph engine (fixed-point integer PageRank, CC's round
    // discipline): TextRank keywords over the token co-occurrence graph,
    // and node importance over the customer–supplier bipartite graph
    "text_textrank" -> graft.graph.PageRank.textTextrank _,
    "graph_pagerank" -> graft.graph.PageRank.graphPagerank _,
    // exact triangle census by degree-ordered orientation (√m-bounded
    // out-degrees); oracle re-counts via the canonical a<b<c self-join
    "graph_triangles" -> graft.graph.Triangles.tokenTriangles _,
    // depth-bounded BFS hop distances: frontier iteration under the CC
    // round discipline; oracle = depth-bounded recursive CTE + MIN(dist)
    "graph_bfs" -> graft.graph.Bfs.graphBfs _,
    // 3-core of the repeat-interaction graph: round-synchronous peel to
    // the (order-independent) fixpoint; oracle = the peel unrolled 16 CTE
    // rounds, idempotent past convergence
    "graph_kcore" -> ((s: SparkSession, d: String) => graft.graph.KCore.graphKcore(s, d)),
    // Adamic-Adar link prediction: wedge join bounded by the apex-degree
    // cut; 1/ln(deg) weights precomputed ONCE as integer micro-units and
    // interpolated into both engines — ln never runs at query time
    "graph_adamic_adar" -> ((s: SparkSession, d: String) => graft.graph.LinkPrediction.graphAdamicAdar(s, d)),
    // windowed co-occurrence counts + PMI: map-only fused pair generation
    // (no positional self-join), marginals AQE-broadcast back
    "text_window_cooc" -> ((s: SparkSession, d: String) => TextAnalysis.windowCooc(s, d)),
    // typo-tolerant vocabulary join: SymSpell delete-1 variant blocking
    // restores an equi key, exact levenshtein verifies candidates only
    "text_fuzzy_join" -> TextAnalysis.fuzzyJoin _,
    // deterministic hash-bucket sampling: language-mixture downsampling and
    // the 80/10/10 split — every row's fate reproducible in both engines
    "sample_mixture" -> ((s: SparkSession, d: String) => graft.sample.Sampling.mixture(s, d)),
    "sample_split" -> graft.sample.Sampling.split _,
    // deterministic global training shuffle: salted-hash rank -> shard +
    // in-shard position; the identical permutation re-derived by the oracle
    "sample_shuffle" -> ((s: SparkSession, d: String) => graft.sample.Sampling.shuffle(s, d)),
    // quality-proportional keep decision, map-only, hash-fate deterministic
    "sample_weighted" -> ((s: SparkSession, d: String) => graft.sample.Sampling.weightedByQuality(s, d)),
    // per-source cap (domain capping) through the TopKPerKey physical
    // operator: map-side heaps shed all but sources×k rows pre-exchange
    "sample_source_cap" -> ((s: SparkSession, d: String) => graft.sample.Sampling.sourceCap(s, d)),
    // temperature-scaled source mixing (p_s ∝ c_s^τ): one map-side-combined
    // exchange to a sources-sized table, broadcast grand total, rounded-share
    // integer budget contract
    "sample_temperature" -> ((s: SparkSession, d: String) => graft.sample.Sampling.temperatureMixture(s, d)),
    // BM25 ∪ dense cosine lists fused by reciprocal-rank (1/(60+r)) — the
    // zero-tuning hybrid-retrieval standard; ranks only, never raw scores
    "sim_hybrid_rrf" -> ((s: SparkSession, d: String) => graft.sim.Similarity.hybridRrf(s, d)),
    // ε-ball radius retrieval, EXACT under the IVF ball bound with the
    // fixed τ as the cut — admitted lists decided driver-side, one scan
    "sim_radius_search" -> ((s: SparkSession, d: String) => graft.sim.Similarity.radiusSearch(s, d)),
    // round-robin dataloader interleave: per-source hash ranks through the
    // TopKPerKey heaps (≤ sources·slots rows cross the exchange)
    "sample_interleave" -> ((s: SparkSession, d: String) => graft.sample.Sampling.interleave(s, d)),
    // degree histogram per graph side — the skew readout that decides
    // whether hub mitigation is needed at all; two map-side-combined aggs
    "graph_degree_dist" -> graft.graph.PageRank.degreeDistribution _,
    // classifier-eval confusion matrix for langId: diagonal share == recall
    "text_langid_confusion" -> ((s: SparkSession, d: String) => TextAnalysis.langidConfusion(s, d)),
    // epoch-based upsampling (the replication half of data mixing):
    // floor(e) copies + hash-fate fractional copy, map-only explode
    "sample_epochs" -> ((s: SparkSession, d: String) => graft.sample.Sampling.epochUpsample(s, d)),
    // token-budget selection: two-phase exact threshold (layer agg +
    // boundary-layer residual), never the oracle's global corpus window
    "sample_budget_select" -> ((s: SparkSession, d: String) => graft.sample.Sampling.budgetSelect(s, d)),
    // exact stratified sampling: Hamilton largest-remainder allocation on
    // the strata table, salted-hash in-stratum selection
    "sample_stratified" -> ((s: SparkSession, d: String) => graft.sample.Sampling.stratifiedSample(s, d)),
    // greedy k-center coreset: k map-only cover-cosine passes, one argmin
    // row to the driver per round; oracle = the greedy unrolled (MMR device)
    "sample_kcenter" -> ((s: SparkSession, d: String) => graft.sample.KCenter.kcenter(s, d)),
    // boundary-respecting shelf packing: whole docs into budget bins via
    // the same two-phase prefix sum as pack_sequences; bins = contiguous
    // doc runs with bounded overshoot
    "pack_greedy_bins" -> ((s: SparkSession, d: String) => graft.sample.Packing.greedyBins(s, d)),
    // concat-and-chunk sequence packing: global token offsets via a
    // two-phase prefix sum (range partition + broadcast offsets), never a
    // single-task global window; oracle recomputes with a windowed cumsum
    "pack_sequences" -> ((s: SparkSession, d: String) => graft.sample.Packing.packSequences(s, d)),
    // dedup family
    "dedup_exact" -> Dedup.exact _,
    // crawl stage-zero: URL canonicalization dedup (case/port/www/slash/
    // tracking-param noise collapsed, meaningful params kept + sorted) —
    // map-only normalize, one exchange on the canonical key
    "dedup_url" -> ((s: SparkSession, d: String) => Dedup.urlDedup(s, d)),
    // normalization-aware exact dedup (casefold + non-alnum collapse, then
    // hash) over the planted formatting-variant corpus; same one-exchange
    // shape as dedup_exact
    "dedup_normalized" -> ((s: SparkSession, d: String) => Dedup.normalized(s, d)),
    // content-defined chunking census: map-only CDC fold per doc, one
    // (md5, n_tok) exchange — insertions shift only the boundaries they touch
    "dedup_cdc_chunks" -> ((s: SparkSession, d: String) => graft.dedup.CdcChunks.cdcChunkDedup(s, d)),
    // feature hashing: vocabulary-free 16-dim integer tf vectors built
    // map-only at ZERO exchanges; scalar-exact vector summaries
    "text_feature_hash" -> ((s: SparkSession, d: String) => TextAnalysis.featureHash(s, d)),
    // raw HTML -> main text: block classification on integer word-count +
    // link-density signals, one fused map-only expression tree (exch=0)
    "text_html_extract" -> ((s: SparkSession, d: String) => TextAnalysis.htmlExtract(s, d)),
    // CCNet paragraph-granular dedup: first-occurrence-wins on paragraph
    // hash (planted boilerplate paragraph), cleaned doc value-hashed
    "dedup_paragraphs" -> ((s: SparkSession, d: String) => Dedup.paragraphDedup(s, d)),
    "dedup_token_jaccard" -> ((s: SparkSession, d: String) => Dedup.tokenJaccard(s, d)),
    // LSH candidates verified with the exact distinct-shingle jaccard: output
    // equals the all-pairs truth (which the oracle computes) without ever
    // materializing all pairs
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => Dedup.minhashLshVerified(s, d)),
    "dedup_simhash" -> ((s: SparkSession, d: String) => Dedup.simhashDups(s, d).toDF()),
    // cap observability: every bucket the capped candidate generators would
    // drop, as data — the oracle pins it EMPTY at this sf, so a silent-drop
    // regression (or a fixture that outgrows the caps) fails loudly
    "dedup_dropped_buckets" -> ((s: SparkSession, d: String) => Dedup.droppedBuckets(s, d)),
    // the keep-list: exact-dup + jaccard near-dup edges, connected
    // components via iterative min-label propagation, canonical = min id
    "dedup_components" -> ((s: SparkSession, d: String) => Dedup.nearDupComponents(s, d)),
    // winnowing-fingerprint containment: pairs sharing >= 2 sparse
    // rolling-hash fingerprints; oracle recomputes fnv64 over shingles
    "dedup_fp_overlap" -> ((s: SparkSession, d: String) => Dedup.fingerprintOverlap(s, d)),
    // train/eval 5-gram decontamination: eval n-grams broadcast, train side
    // scanned map-only; oracle recomputes the n-gram join on strings
    "decontam_overlap" -> ((s: SparkSession, d: String) => Dedup.decontamOverlap(s, d)),
    // intra-corpus duplicated-span fractions (exact-substring-dedup
    // approximation): one scan, two map-side-combined aggs, no all-pairs
    "dedup_span_overlap" -> ((s: SparkSession, d: String) => Dedup.spanOverlap(s, d)),
    // WHERE the duplication sits: maximal duplicated-span token extents per
    // document (the cut-list a span-dedup pipeline excises), merged from
    // runs of corpus-wide-duplicated w-grams
    "dedup_span_extents" -> ((s: SparkSession, d: String) => Dedup.spanExtents(s, d)),
    // the cut-list APPLIED: corpus with every duplicated span excised —
    // per-doc token counts + the cleaned text itself
    "dedup_span_clean" -> ((s: SparkSession, d: String) => Dedup.spanClean(s, d)),
    // asymmetric containment join (quote/excerpt detection): probe-side
    // rarity prefix vs full-gram index, sorted-merge verify
    "dedup_containment" -> ((s: SparkSession, d: String) => Dedup.containment(s, d)),
    // per-source near-dup rate: greedy keep-first drop policy over the
    // token-jaccard pairs, aggregated per source — dedup observability
    "dedup_source_rate" -> ((s: SparkSession, d: String) => Dedup.sourceDupRate(s, d)),
    // source-pair 5-gram overlap matrix: which sources duplicate each
    // other (mixture observability); sources²-bounded output
    "dedup_cross_source" -> ((s: SparkSession, d: String) => Dedup.crossSourceOverlap(s, d)),
    // random-hyperplane LSH in embedding space (Charikar): banded sign
    // bits → linear equi-shuffle candidates → exact cosine verify; the
    // no-blocking-key scale path for embedding near-dup
    "dedup_lsh_pairs" -> ((s: SparkSession, d: String) => graft.dedup.EmbeddingLsh.pairs(s, d)),
    // the PRODUCTION operating point (τ=0.9, 24 bands × 12 bits — the
    // config whose candidate exponent measured ~1.14): planted-dup corpus
    // derived deterministically from the fixture so the oracle re-plants it
    "dedup_lsh_pairs_prod" -> ((s: SparkSession, d: String) => graft.dedup.EmbeddingLsh.pairsProd(s, d)),
    // the band/width tuning dashboard: candidates, found, truth, recall,
    // candidate fraction per configuration
    "dedup_lsh_sweep" -> ((s: SparkSession, d: String) => graft.dedup.EmbeddingLsh.sweep(s, d)),
    // end-to-end embedding dedup: LSH pairs -> components -> canonical
    // keep-list (the vector twin of dedup_components, same CC engine)
    "dedup_lsh_components" -> ((s: SparkSession, d: String) => graft.dedup.EmbeddingLsh.dedupKeep(s, d)),
    // the SAME end-to-end pipeline at the production operating point
    // (τ=0.9, 24×12 over the planted-dup corpus) — the scaling twin whose
    // candidate volume inherits pairs_prod's ~1.1 exponent
    "dedup_lsh_components_prod" -> ((s: SparkSession, d: String) => graft.dedup.EmbeddingLsh.dedupKeepProd(s, d)),
    // THE capstone: the full training-data assembly funnel in one row —
    // hygiene -> dedup -> decontam -> mixture -> packing accounting, every
    // verdict fused map-only except the dedup keep-list join
    "pipeline_training_set" -> ((s: SparkSession, d: String) => graft.pipeline.TrainingPipeline.trainingSetCounts(s, d)),
    // the crawl-ingest capstone: url dedup -> HTML extraction -> hygiene
    // (over the EXTRACTED text) -> decontam, as one funnel row — stages
    // 1-3 fused map-only over the page scan, stage 0 the canonical-key
    // exchange of dedup_url
    "pipeline_crawl" -> ((s: SparkSession, d: String) => graft.pipeline.CrawlPipeline.crawlFunnel(s, d)),
    // incremental ingest dedup: arriving batch (top 20% of the doc_id
    // range — the ingest watermark) vs existing corpus only — candidate
    // generation scales with the batch, not corpus²
    "dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.incrementalJaccard(s, d)),
    // fixture embeddings are near-orthogonal (max within-label cosine ≈0.47),
    // so the "near-dup" threshold is set to the corpus scale here
    "dedup_embedding" -> ((s: SparkSession, d: String) => Similarity.embeddingNearDups(s, d, threshold = 0.35).toDF()),
    // SemDeDup (Abbas et al. 2023): coarse clusters (deterministic
    // smallest-id seeds stand in for k-means — re-derivable in SQL), then
    // greedy min-id ε-ball pruning WITHIN clusters; no global pair graph
    "dedup_semantic" -> ((s: SparkSession, d: String) => graft.dedup.SemDedup.semanticKeep(s, d)),
    // embedding-space decontamination: broadcast eval split, map-only
    // cosine pass over the (planted) contaminated train split, struct-max
    // per-train argmax; τ=0.9 isolates exactly the planted leak
    "decontam_semantic" -> ((s: SparkSession, d: String) => graft.dedup.SemDedup.semanticDecontam(s, d)),
    // DSIR (Xie et al. 2023): hashed unigram+bigram importance weights
    // target-vs-raw on the fixed-point micro-llr surface; top-N selection
    "sample_dsir" -> ((s: SparkSession, d: String) => graft.sample.Dsir.importanceTop(s, d)),
    // similarity search
    "sim_topk_brute" -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d).toDF()),
    // exact kNN JOIN (every vector a query): bounded chunk-pair local
    // top-k + per-vector merge — the SemDeDup/kNN-descent building block
    "sim_knn_graph" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraph(s, d, sampleN = 2000).toDF()),
    // the IVF-PRUNED kNN join scale path: candidates per query =
    // nprobe·listsize (ratio-stable rungs, corpus-scaled nlist), swept
    // with a recall-thresholded contract whose nprobe=nlist endpoint must
    // EQUAL the exact graph by construction
    "sim_knn_graph_pruned" -> ((s: SparkSession, d: String) => Similarity.knnGraphPrunedSweep(s, d)),
    // MMR diversity re-ranking (Carbonell-Goldstein): greedy
    // relevance-vs-redundancy over the brute top-20 pool, λ=0.7; rounded
    // sims + interpolated λ/(1−λ) literals + id tie-break make the greedy
    // engine-exact; oracle unrolls the 5 picks as CTE steps
    "sim_topk_mmr" -> ((s: SparkSession, d: String) => graft.sim.Mmr.mmrTopK(s, d)),
    // the same greedy over the ball-pruned IVF pool (exact by construction)
    // — one truth through the indexed path, same oracle (q_asof_operator
    // precedent)
    "sim_topk_mmr_ivf" -> ((s: SparkSession, d: String) => graft.sim.Mmr.mmrTopKIvf(s, d)),
    // hard-negative mining (DPR/SimCSE): per query the top-k most-similar
    // DIFFERENT-label vectors — the contrastive-negative dual of
    // sim_topk_filtered, same broadcast-queries + bounded-heaps scan
    "sim_hard_negatives" -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d).toDF()),
    // ball-pruned IVF is EXACT (recall 1.0 by construction) — same oracle
    // truth as brute force, reached through the codebook + pruning path
    "sim_topk_ivf" -> ((s: SparkSession, d: String) => Similarity.ivfTopKExact(s, d).toDF()),
    // the AT-REST index: corpus stored partitioned by IVF list id, probes
    // prune parquet partitions; same exact search + oracle as sim_topk_ivf
    "sim_topk_ivf_stored" -> ((s: SparkSession, d: String) => Similarity.ivfTopKStored(
      s, d, graft.sources.ArtifactCache.sessionPath(s, "ivfidx") + "/index").toDF()),
    // incremental index maintenance: codebook trained on the 80% base only,
    // the delta assign-and-APPENDED (no retrain, base files untouched),
    // radii max-merged so ball pruning stays sound — search over the merged
    // index must still equal brute force over the full corpus
    "sim_index_upsert" -> ((s: SparkSession, d: String) => Similarity.ivfTopKUpsert(
      s, d, java.nio.file.Files.createTempDirectory("ivfups").toString + "/index").toDF()),
    // metadata-filtered vector search: per-query same-label top-k,
    // PRE-filtered (exact within the filtered set); the label IN (...)
    // predicate pushes into the parquet scan
    "sim_topk_filtered" -> ((s: SparkSession, d: String) => Similarity.filteredTopK(s, d).toDF()),
    // recall@k of the APPROXIMATE ivfTopK path vs brute force, swept over
    // nprobe ∈ {4, 8, 16}: monotone recall surface; the nprobe = nlist row is
    // exactly recall 1.0 by construction (full probe ≡ brute force), the
    // intermediate thresholds are documented fixture floors with margin
    "sim_ivf_recall" -> ((s: SparkSession, d: String) => Similarity.ivfRecallSweep(s, d)),
    // product quantization (32× compressed codes, ADC scan + bounded exact
    // rerank): recall-thresholded sweep — PQ is lossy, so the honest oracle
    // is measured recall with a rerank=corpus endpoint that is exact by
    // construction (same contract shape as sim_ivf_recall)
    "sim_topk_pq" -> ((s: SparkSession, d: String) => Pq.pqRecallSweep(s, d)),
    // IVF-PQ composition (IVFADC): coarse probe pruning + residual-PQ ADC
    // scan + bounded exact rerank — same recall-sweep contract as
    // sim_topk_pq, (nprobe=nlist, rerank=corpus) endpoint exact by
    // construction
    "sim_topk_ivfpq" -> ((s: SparkSession, d: String) => IvfPq.recallSweep(s, d)),
    // int8 scalar quantization report: per-vector SQ8 scale + exact
    // reconstruction error — IEEE-only arithmetic, bit-exact vs the oracle
    "sim_quantize_sq8" -> ((s: SparkSession, d: String) => Similarity.quantizeSq8(s, d)),
    // top-k searched through the int8 index with an error-ball exact
    // rescan: recall 1.0 by construction → the same brute-force oracle
    "sim_topk_sq8" -> ((s: SparkSession, d: String) => Similarity.sq8TopK(s, d).toDF()),
    // multimodal plumbing
    "mm_summary" -> Multimodal.mediaSummary _,
    // scalar-bin form: raw integer byte-histogram counts (the Array[Float]
    // L1-normalized form stays a ScalaTest-only API — the driver's pandas
    // canonicalizer can't sort array columns)
    "mm_features" -> ((s: SparkSession, d: String) =>
      Multimodal.extractFeatureCounts(Multimodal.mediaTable(s, d)).toDF()),
    // frame sampling over the binary payload: evenly spaced fixed-size
    // windows per video row; the oracle recomputes offsets + frame md5
    "mm_frame_sample" -> Multimodal.frameSample _,
    // shot-boundary detection over the video rows: per-frame integer
    // intensity stats, adaptive 1.5×-mean delta threshold as one integer
    // cross-multiplication — map-only, zero shuffle
    "mm_scene_cuts" -> Multimodal.mmSceneCuts _,
    // payload resize to a byte budget: stride-kept bytes (content
    // checksummed) + integer-rescaled metadata; oracle rebuilds the UTF-8
    // byte stream and replicates the stride/DIV arithmetic
    "mm_resize" -> Multimodal.resize _,
    // a REAL codec through the Decoder seam: deterministic RGB recipe →
    // genuine PNG bytes (JDK ImageIO writer) → per-partition ImageIO
    // decode; PNG is lossless so the decoded geometry/channel sums equal
    // the recipe, which the oracle replays as modular integer arithmetic
    "mm_image_decode" -> Multimodal.imageDecode _,
    // REAL WAV codec (javax.sound PCM parse) behind the same per-partition
    // Decoder lifecycle; lossless, so the recipe is the oracle
    "mm_audio_decode" -> Multimodal.audioDecode _,
    // multimodal NEAR-DUP dedup: real PNG decode -> 8x8 aHash grid ->
    // hamming-banded candidates (pigeonhole-complete at radius 3) -> exact
    // verify; planted brightness-shifted copies are the near-dup regime
    "mm_dedup_phash" -> ((s: SparkSession, d: String) => Multimodal.imageDedupPhash(s, d)),
    // linearizability (A7): per-user append history from events (nanos call/
    // ret — unique per user, so the fold is sequential and checks in linear
    // time), with a PLANTED violation for every user_id % 7 == 0: a trailing
    // get that observes a value no interleaving can produce. The checker must
    // answer "violation" for exactly those keys — a hard per-row oracle
    // signal on the verdict itself. Concurrent/Unknown behavior is
    // spec-tested (LinearizabilitySpec); this query pins the verdicts.
    "lin_check" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val appends = ev.select(
        col("user_id").cast("string").as("key"), lit(2).as("op"),
        col("event_id").cast("string").as("value"), lit("").as("output"),
        col("ts").as("call"), (col("ts") + 1).as("ret"))
      val planted = ev.filter(col("user_id") % 7 === 0)
        .groupBy(col("user_id").cast("string").as("key"))
        .agg(max(col("ts")).as("t"))
        .select(col("key"), lit(0).as("op"), lit("").as("value"),
          lit("IMPOSSIBLE").as("output"),
          (col("t") + 1000000L).as("call"), (col("t") + 1000001L).as("ret"))
      Linearizability.check(appends.unionAll(planted).as[HistOp]).toDF()
    }),
    // the same distributed check under the REGISTER model (the checker is
    // model-generic): per-user put history; every user gets a trailing get
    // that must observe the LAST written value — except user_id % 5 == 0,
    // whose get claims a never-written value and must read as a violation
    "lin_check_register" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val puts = ev.select(
        col("user_id").cast("string").as("key"), lit(1).as("op"),
        col("event_id").cast("string").as("value"), lit("").as("output"),
        col("ts").as("call"), (col("ts") + 1).as("ret"))
      val gets = ev.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id").cast("string").as("key"), lit(0).as("op"),
          lit("").as("value"),
          when(col("user_id") % 5 === 0, "IMPOSSIBLE")
            .otherwise(col("last.event_id").cast("string")).as("output"),
          (col("last.ts") + 1000000L).as("call"), (col("last.ts") + 1000001L).as("ret"))
      Linearizability.checkWith(puts.unionAll(gets).as[HistOp],
        Linearizability.RegisterModel).toDF()
    }),
  )

  /** The first 8 vectors as top-k queries, the sim_topk_* engine default. */
  private val truthQueries = "SELECT vec_id AS query_id, label, emb AS qe FROM e WHERE vec_id < 8"
  /** Exact all-pairs top-10 of [[truthQueries]]: the truth every exact
    * top-k search (brute, pruned IVF, SQ8 rescan, stored and upserted
    * index) must reproduce. */
  private val bruteTopK = topKTruth(truthQueries, "v.vec_id <> query_id", 10)
  /** Token-jaccard operands — distinct (doc, lang, source, word) rows `w`,
    * each doc's word-set size `sz` — and the shared-word `pairs` (`d1`,
    * `d2`, count `c`) of the same lang and source that `pairPred` admits
    * over word rows `x`, `y`. */
  private def jaccardCtes(pairPred: String) =
    s"""w AS (SELECT DISTINCT doc_id, lang, source, word FROM
       |    (SELECT doc_id, lang, source, unnest(${tokens("text")}) AS word FROM documents)),
       |  sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
       |  pairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS c FROM w x JOIN w y
       |    ON x.lang = y.lang AND x.source = y.source AND x.word = y.word AND $pairPred
       |    GROUP BY 1, 2)""".stripMargin
  /** Jaccard of a [[jaccardCtes]] pair over its `sz` rows `s1`, `s2`. */
  private val jaccard = "CAST(c AS DOUBLE) / (s1.n + s2.n - c)"
  /** The dedup_components truth as CTEs ending in `cc` (`node`, `label`):
    * min-label components of the jaccard ≥ 0.8 ∪ exact-text edges, as a
    * recursive CTE (the query needs `WITH RECURSIVE`). */
  private val componentsCtes =
    s"""${jaccardCtes("x.doc_id < y.doc_id")},
       |  jpairs AS (SELECT d1, d2 FROM pairs JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |    WHERE $jaccard >= 0.8),
       |  ex AS (SELECT x.doc_id AS d1, y.doc_id AS d2 FROM documents x JOIN documents y
       |    ON x.text = y.text AND x.doc_id < y.doc_id),
       |  e0 AS (SELECT d1, d2 FROM jpairs UNION SELECT d1, d2 FROM ex),
       |  edges AS (SELECT d1 AS src, d2 AS dst FROM e0 UNION SELECT d2 AS src, d1 AS dst FROM e0),
       |  cc AS (SELECT doc_id AS node, doc_id AS label FROM documents
       |    UNION SELECT e.dst AS node, cc.label FROM cc JOIN edges e ON cc.node = e.src)""".stripMargin
  /** Stopword-language scores `s_de` … `s_zh` per doc as CTE `s` (with
    * `lang_declared`), over lowered tokens. */
  private val langScoresCtes =
    s"""t AS (SELECT doc_id, lang, ${tokens("lower(text)")} AS tk FROM documents),
       |  s AS (SELECT doc_id, lang AS lang_declared,
       |    CAST(len(list_filter(tk, x -> x IN ('der','und','die','das'))) AS BIGINT) AS s_de,
       |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and'))) AS BIGINT) AS s_en,
       |    CAST(len(list_filter(tk, x -> x IN ('el','la','los','de'))) AS BIGINT) AS s_es,
       |    CAST(len(list_filter(tk, x -> x IN ('le','les','une','est'))) AS BIGINT) AS s_fr,
       |    CAST(len(list_filter(tk, x -> x IN ('zh'))) AS BIGINT) AS s_zh
       |    FROM t)""".stripMargin
  /** The predicted language over [[langScoresCtes]]: highest score, ties to
    * the earlier of de, en, es, fr, zh. */
  private val langPred =
    """CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |  WHEN s_fr >= s_zh THEN 'fr'
      |  ELSE 'zh' END""".stripMargin
  /** Token, stopword and distinct-token counts per doc as CTE `s`. */
  private val qualityCountsCtes =
    s"""t AS (SELECT doc_id, ${tokens("text")} AS tk FROM documents),
       |  s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct FROM t)""".stripMargin
  /** The text_quality score over [[qualityCountsCtes]]. */
  private val qualityScore =
    """(CASE WHEN n_tokens < 10 THEN 0.0 ELSE 1.0 END) *
      |  (0.5 * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.03 THEN 1.0
      |               ELSE CAST(n_stop AS DOUBLE) / n_tokens * 10.0 END) +
      |   0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens))""".stripMargin
  /** The UTF-8 bytes of `text` as an INT list, rebuilt from code points. */
  private val utf8Bytes =
    """flatten(list_transform(string_split(text, ''), c -> CASE
      |  WHEN unicode(c) < 128 THEN [unicode(c)]
      |  WHEN unicode(c) < 2048 THEN [192 + unicode(c) // 64, 128 + unicode(c) % 64]
      |  WHEN unicode(c) < 65536 THEN [224 + unicode(c) // 4096, 128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64]
      |  ELSE [240 + unicode(c) // 262144, 128 + (unicode(c) // 4096) % 64, 128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64]
      |END))""".stripMargin
  /** Each purchase with the latest earlier-or-tied view of its user: the
    * as-of join truth of both the SQL and the operator form. */
  private val asofTruth =
    """WITH ev AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id, event_type FROM events),
      |  t AS (SELECT user_id, ms, 0 AS side, event_id FROM ev WHERE event_type = 'view'
      |        UNION ALL
      |        SELECT user_id, ms, 1 AS side, event_id FROM ev WHERE event_type = 'purchase'),
      |  w AS (SELECT user_id, ms, side, event_id,
      |          last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER win AS last_view_id,
      |          last_value(CASE WHEN side = 0 THEN ms END IGNORE NULLS) OVER win AS last_view_ms
      |        FROM t WINDOW win AS (PARTITION BY user_id ORDER BY ms, side, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id AS purchase_id, ms AS purchase_ms, last_view_id, last_view_ms
      |FROM w WHERE side = 1""".stripMargin
  private val revenue =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          $revenue AS sum_disc_price,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          COUNT(*) AS count_order
          FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      s"""SELECT o_orderkey, $revenue AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_nation_revenue" ->
      s"""SELECT n_name, $revenue AS revenue, COUNT(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY n_name""",
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q_semi_anti" ->
      """WITH w AS (SELECT c_mktsegment, COUNT(*) AS n_with_orders FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) GROUP BY 1),
         wo AS (SELECT c_mktsegment, COUNT(*) AS n_without_orders FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) GROUP BY 1)
         SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
           COALESCE(n_with_orders, 0) AS n_with_orders,
           COALESCE(n_without_orders, 0) AS n_without_orders
         FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment""",
    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, running_spend FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER w AS rn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
           FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
         WHERE rn <= 2""",
    "q_setops" ->
      """WITH used AS (SELECT DISTINCT l_partkey AS partkey FROM lineitem),
         cat AS (SELECT DISTINCT p_partkey AS partkey FROM part)
         SELECT 'both' AS side, COUNT(*) AS n FROM (SELECT partkey FROM used INTERSECT SELECT partkey FROM cat)
         UNION ALL
         SELECT 'used_only' AS side, COUNT(*) AS n FROM (SELECT partkey FROM used EXCEPT SELECT partkey FROM cat)
         UNION ALL
         SELECT 'cat_only' AS side, COUNT(*) AS n FROM (SELECT partkey FROM cat EXCEPT SELECT partkey FROM used)""",
    "q_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
    // closed-domain pivot = one pass of conditional aggregates in any engine
    "q_pivot" ->
      """SELECT source,
           COUNT(*) FILTER (lang = 'de') AS de,
           COUNT(*) FILTER (lang = 'en') AS en,
           COUNT(*) FILTER (lang = 'es') AS es,
           COUNT(*) FILTER (lang = 'fr') AS fr,
           COUNT(*) FILTER (lang = 'zh') AS zh
         FROM documents GROUP BY source""",
    "q_unpivot" ->
      """SELECT doc_id, 'n_chars' AS metric, CAST(strlen(text) AS BIGINT) AS value FROM documents
         UNION ALL
         SELECT doc_id, 'n_space_tokens' AS metric,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS value FROM documents""",
    "q_topn_physical" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
           FROM orders)
         WHERE rank <= 2""",
    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "ev_hourly_agg" ->
      """SELECT epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_ms, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2""",
    "ev_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
         v AS (SELECT user_id, MIN(ms) AS view_ms FROM e WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(ms) AS click_ms FROM e JOIN v USING (user_id)
               WHERE event_type = 'click' AND ms > view_ms GROUP BY 1),
         p AS (SELECT e.user_id, MIN(ms) AS purchase_ms FROM e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND ms > click_ms GROUP BY 1)
         SELECT u.user_id, view_ms, click_ms, purchase_ms,
           CASE WHEN purchase_ms IS NOT NULL THEN 3
                WHEN click_ms IS NOT NULL THEN 2
                WHEN view_ms IS NOT NULL THEN 1 ELSE 0 END AS stage
         FROM (SELECT DISTINCT user_id FROM e) u
         LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    "ev_retention" ->
      """WITH e AS (SELECT user_id, event_type,
                      epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day FROM events),
         cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM e
                    WHERE event_type = 'signup' GROUP BY 1),
         active AS (SELECT DISTINCT user_id, day FROM e)
         SELECT cohort_day, day - cohort_day AS day_offset,
           COUNT(DISTINCT user_id) AS n_users
         FROM active JOIN cohort USING (user_id)
         WHERE day >= cohort_day GROUP BY 1, 2""",
    "ev_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id FROM events),
         g AS (SELECT user_id, ms, event_id,
           CASE WHEN LAG(ms) OVER w IS NULL OR ms - LAG(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         s AS (SELECT user_id, ms, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM g)
         SELECT user_id, session_idx, COUNT(*) AS n_events, MIN(ms) AS start_ms, MAX(ms) AS end_ms
         FROM s GROUP BY user_id, session_idx""",
    "q_asof_join" -> asofTruth,
    "q_asof_operator" -> asofTruth,
    "ev_approx_users" ->
      """SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           (ABS(CAST(approx_count_distinct(user_id) AS BIGINT) - COUNT(DISTINCT user_id))
              / CAST(COUNT(DISTINCT user_id) AS DOUBLE)) <= 0.1 AS estimate_ok
         FROM events GROUP BY event_type""",
    // each engine's own sketch must land in the exact p45..p55 envelope
    "q_quantiles_sketch" ->
      """SELECT event_type,
           quantile_cont(value, 0.5) AS p50_exact,
           COUNT(*) AS n,
           (approx_quantile(value, 0.5) BETWEEN quantile_cont(value, 0.45)
              AND quantile_cont(value, 0.55)) AS sketch_ok
         FROM events GROUP BY event_type""",
    "ev_range_join" ->
      """WITH ev AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id, event_type FROM events),
         p AS (SELECT user_id, ms AS pms, event_id AS purchase_id FROM ev WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user, ms AS vms FROM ev WHERE event_type = 'view')
         SELECT user_id, purchase_id, pms AS purchase_ms,
           COUNT(vms) AS n_views_1h, MAX(vms) AS last_view_ms
         FROM p LEFT JOIN v ON v_user = user_id AND vms >= pms - 3600000 AND vms < pms
         GROUP BY user_id, purchase_id, pms""",
    // json_valid + json_type guard, matching from_json PERMISSIVE
    // exactly: k is extracted ONLY when the JSON value is an integral
    // number — a quoted numeric like {"k":"123"} or a float is NULL in
    // Spark (type mismatch nulls the field), so a bare TRY_CAST of the
    // ->> text (which would happily coerce '123') is the wrong contract
    // even though the clean fixture never trips it; ev_props_nested
    // self-generates the dirty rows that do
    "ev_props_extract" ->
      """SELECT event_type, COUNT(*) AS n_events, COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
           COUNT(DISTINCT k) AS n_distinct_k
         FROM (SELECT event_type,
                 CASE WHEN json_valid(props)
                        AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                      THEN TRY_CAST(props->>'k' AS BIGINT) END AS k
               FROM events)
         GROUP BY event_type""",
    // rebuild the identical JSON strings with ||, then mirror from_json
    // PERMISSIVE per-field: u/m.a only when the JSON value is an integral
    // number (quoted numerics and floats are NULL — pinned empirically:
    // PERMISSIVE nulls the mismatched FIELD but keeps the record; only
    // json_valid=false nulls everything), m.s via ->> (JSON numbers
    // coerce INTO strings), tags only when '$.tags' is an ARRAY;
    // explode_outer's corrupt-row NULL tag is unnest(COALESCE(tags,[NULL]))
    "ev_props_nested" ->
      """WITH e AS (SELECT event_type,
           CASE WHEN event_id % 13 = 0 THEN '{"u":'
                WHEN event_id % 13 = 1 THEN '{"u":"' || CAST(user_id AS VARCHAR) || '","tags":["a"],"m":{"a":1,"s":"x"}}'
                ELSE '{"u":' || CAST(user_id AS VARCHAR) || ',"tags":["t' || CAST(user_id % 5 AS VARCHAR)
                  || '","t' || CAST(event_id % 3 AS VARCHAR) || '"],"m":{"a":' || CAST(event_id % 100 AS VARCHAR)
                  || ',"s":"' || event_type || '"}}'
           END AS j FROM events),
         p AS (SELECT event_type,
           CASE WHEN json_valid(j) AND json_type(j, '$.u') IN ('BIGINT', 'UBIGINT')
                THEN TRY_CAST(json_extract_string(j, '$.u') AS BIGINT) END AS u,
           CASE WHEN json_valid(j) AND json_type(j, '$.m.a') IN ('BIGINT', 'UBIGINT')
                THEN TRY_CAST(json_extract_string(j, '$.m.a') AS BIGINT) END AS a,
           CASE WHEN json_valid(j) THEN json_extract_string(j, '$.m.s') END AS s,
           CASE WHEN json_valid(j) AND json_type(j, '$.tags') = 'ARRAY'
                THEN CAST(j->'$.tags' AS VARCHAR[]) END AS tags
           FROM e),
         x AS (SELECT event_type, u, a, s, unnest(COALESCE(tags, [NULL])) AS tag FROM p)
         SELECT event_type, tag, COUNT(*) AS n_rows, COUNT(u) AS n_u,
           CAST(SUM(a) AS BIGINT) AS sum_a, COUNT(DISTINCT u) AS n_users,
           COUNT(CASE WHEN s = event_type THEN 1 END) AS n_s_echo
         FROM x GROUP BY event_type, tag""",
    // each engine's own sketch median/MAD/outlier-count inside its own
    // exact envelopes (q_quantiles_sketch contract); exact p50/mad and
    // the booleans are the compared surface
    "ev_anomaly_sketch" ->
      s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med,
            quantile_cont(value, 0.45) AS p45, quantile_cont(value, 0.55) AS p55,
            approx_quantile(value, 0.5) AS med_sk
          FROM events GROUP BY 1),
          d AS (SELECT e.event_type, m.med, m.p45, m.p55, m.med_sk,
            ABS(e.value - m.med) AS adev, ABS(e.value - m.med_sk) AS adev_sk
          FROM events e JOIN med m USING (event_type)),
          ma AS (SELECT event_type, quantile_cont(adev, 0.5) AS m_mad,
            quantile_cont(adev, 0.45) AS mad45, quantile_cont(adev, 0.55) AS mad55,
            approx_quantile(adev_sk, 0.5) AS mad_sk
          FROM d GROUP BY 1)
          SELECT d.event_type, COUNT(*) AS n_events,
            ROUND(ANY_VALUE(d.med), 6) AS p50, ROUND(ANY_VALUE(ma.m_mad), 6) AS mad,
            (ANY_VALUE(d.med_sk) BETWEEN ANY_VALUE(d.p45) AND ANY_VALUE(d.p55)) AS p50_sketch_ok,
            (ANY_VALUE(ma.mad_sk) BETWEEN ANY_VALUE(ma.mad45) AND ANY_VALUE(ma.mad55)) AS mad_sketch_ok,
            (CAST(SUM(CASE WHEN d.adev_sk > ${RelationalQueries.AnomalyK} * ma.mad_sk THEN 1 ELSE 0 END) AS BIGINT)
               BETWEEN CAST(SUM(CASE WHEN d.adev > ${RelationalQueries.AnomalyK} * ma.m_mad * 1.1 THEN 1 ELSE 0 END) AS BIGINT)
                   AND CAST(SUM(CASE WHEN d.adev > ${RelationalQueries.AnomalyK} * ma.m_mad * 0.9 THEN 1 ELSE 0 END) AS BIGINT))
              AS outliers_sketch_ok
          FROM d JOIN ma USING (event_type) GROUP BY d.event_type""",
    // the 3·1.4826 threshold constant is interpolated from the SAME Scala
    // double as the engine's (never re-derived — the BM25 float device)
    "ev_anomaly" ->
      s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1),
          d AS (SELECT e.event_type, e.value, m.med FROM events e
                JOIN med m USING (event_type)),
          ma AS (SELECT event_type, quantile_cont(ABS(value - med), 0.5) AS mad
                 FROM d GROUP BY 1)
          SELECT d.event_type, COUNT(*) AS n_events,
            CAST(SUM(CASE WHEN ABS(d.value - d.med) > ${RelationalQueries.AnomalyK} * ma.mad
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
            ROUND(MIN(d.med), 6) AS p50, ROUND(MIN(ma.mad), 6) AS mad
          FROM d JOIN ma USING (event_type) GROUP BY d.event_type""",
    "ev_gap_fill" ->
      """WITH h AS (SELECT event_type,
              epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_ms,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
              COUNT(*) AS n_events
            FROM events GROUP BY 1, 2),
          r AS (SELECT MIN(hour_ms) AS lo, MAX(hour_ms) AS hi FROM h),
          sp AS (SELECT event_type, unnest(generate_series(lo, hi, 3600000)) AS hour_ms
                 FROM (SELECT DISTINCT event_type FROM h), r),
          j AS (SELECT sp.event_type, sp.hour_ms, h.sum_value, h.n_events
                FROM sp LEFT JOIN h ON sp.event_type = h.event_type
                                   AND sp.hour_ms = h.hour_ms)
          SELECT event_type, hour_ms, COALESCE(n_events, 0) AS n_events,
            (n_events IS NULL) AS filled,
            last_value(sum_value IGNORE NULLS) OVER (PARTITION BY event_type
              ORDER BY hour_ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS sum_value_locf
          FROM j""",
    "ev_moving_avg" ->
      """WITH h AS (SELECT event_type,
              epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_ms,
              SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec, COUNT(*) AS n_events
            FROM events GROUP BY 1, 2)
          SELECT event_type, hour_ms, CAST(sum_dec AS DOUBLE) AS sum_value,
            n_events,
            CAST(SUM(sum_dec) OVER w AS DOUBLE) AS ma24_sum,
            COUNT(*) OVER w AS ma24_hours,
            CAST(SUM(sum_dec) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS ma24_avg
          FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_ms
            RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW)""",
    "ev_forecast" ->
      """WITH h AS (SELECT event_type,
              epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_ms,
              SUM(CAST(value AS DECIMAL(18,2))) AS y
            FROM events GROUP BY 1, 2),
          m AS (SELECT MIN(hour_ms) AS h0 FROM h),
          d AS (SELECT event_type, (hour_ms - h0) // 3600000 AS x, y FROM h, m),
          s AS (SELECT event_type, COUNT(*) AS n,
              CAST(SUM(x) AS DOUBLE) AS sxd, CAST(SUM(x * x) AS DOUBLE) AS sxxd,
              CAST(SUM(y) AS DOUBLE) AS syd, CAST(SUM(x * y) AS DOUBLE) AS sxyd,
              CAST(SUM(y * y) AS DOUBLE) AS syyd
            FROM d GROUP BY 1)
          SELECT event_type, n,
            ROUND((n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd), 6) AS slope,
            ROUND((syd - ((n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)) * sxd) / n, 6)
              AS intercept,
            ROUND(((n * sxyd - sxd * syd) * (n * sxyd - sxd * syd)) /
              ((n * sxxd - sxd * sxd) * (n * syyd - syd * syd)), 6) AS r2
          FROM s""",
    "q7_trade_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
            CAST(year(l_shipdate) AS INT) AS ship_year,
            $revenue AS revenue, COUNT(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
          GROUP BY 1, 2, 3""",
    "q12_priority_class" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q14_promo_share" ->
      """WITH j AS (SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
              CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
              p_type
            FROM lineitem JOIN part ON l_partkey = p_partkey)
          SELECT ship_year,
            CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
            CAST(SUM(rev) AS DOUBLE) AS total_revenue,
            100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
              / CAST(SUM(rev) AS DOUBLE) AS promo_share
          FROM j GROUP BY 1""",
    "q19_brackets" ->
      s"""SELECT $revenue AS revenue, COUNT(*) AS n_items
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 5
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 20 AND 30)""",
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
              SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
            FROM lineitem GROUP BY 1
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
          SELECT c_custkey, c_name, o_orderkey, o_totalprice,
            CAST(qty_dec AS DOUBLE) AS order_qty
          FROM orders JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey""",
    "q21_wait_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY s_name""",
    "q22_idle_customers" ->
      """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
              / COUNT(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0),
          rb AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01')
          SELECT c_mktsegment, COUNT(*) AS n_custs,
            CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
          FROM customer, a
          WHERE c_acctbal > avg_bal
            AND c_custkey NOT IN (SELECT o_custkey FROM rb)
          GROUP BY 1""",
    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey,
              SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS t
            FROM lineitem WHERE year(l_shipdate) = 1998 GROUP BY 1)
          SELECT s_suppkey, s_name, CAST(t AS DOUBLE) AS total_revenue
          FROM rev JOIN supplier ON s_suppkey = l_suppkey
          WHERE t = (SELECT MAX(t) FROM rev)""",
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#15' AND p_size IN (1, 5, 9, 13)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    "ev_attribution" ->
      """WITH e AS (SELECT user_id, event_type, value,
              epoch_ms(CAST(ts AS TIMESTAMP)) * 1000000 + event_id AS ord
            FROM events),
          w AS (SELECT user_id, event_type, value, ord,
              MAX(CASE WHEN event_type = 'click' THEN ord END) OVER
                (PARTITION BY user_id ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lco,
              MIN(CASE WHEN event_type = 'click' THEN ord END) OVER
                (PARTITION BY user_id ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fco
            FROM e)
        SELECT user_id, CAST(ord % 1000000 AS BIGINT) AS purchase_id,
          CAST(ord // 1000000 AS BIGINT) AS purchase_ms, value,
          CAST(lco % 1000000 AS BIGINT) AS click_id,
          CAST(lco // 1000000 AS BIGINT) AS click_ms,
          CAST(ord // 1000000 - lco // 1000000 AS BIGINT) AS gap_ms,
          COALESCE(ord // 1000000 - lco // 1000000 <= 604800000, FALSE) AS attributed,
          CAST(fco % 1000000 AS BIGINT) AS first_click_id
        FROM w WHERE event_type = 'purchase'""",
    "ev_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day,
              user_id FROM events),
          dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
          sp AS (SELECT DISTINCT day AS d FROM ud),
          wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau FROM sp
                  JOIN ud ON ud.day BETWEEN d - 6 AND d GROUP BY 1)
         SELECT CAST(dau.day AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau,
           CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
         FROM dau JOIN wau ON dau.day = wau.d""",
    // exact counts compare bit-equal; each engine's own HLL estimate is
    // pinned to its own exact count at 5% (the ev_approx_users contract)
    "ev_dau_wau_sketch" ->
      """WITH ud AS (SELECT DISTINCT epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day,
              user_id FROM events),
          dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau,
                  approx_count_distinct(user_id) AS dau_est FROM ud GROUP BY 1),
          sp AS (SELECT DISTINCT day AS d FROM ud),
          wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau,
                  approx_count_distinct(user_id) AS wau_est FROM sp
                  JOIN ud ON ud.day BETWEEN d - 6 AND d GROUP BY 1)
         SELECT CAST(dau.day AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau,
           ABS(CAST(dau_est AS BIGINT) - dau) / CAST(dau AS DOUBLE) <= 0.05
             AS dau_sketch_ok,
           ABS(CAST(wau_est AS BIGINT) - wau) / CAST(wau AS DOUBLE) <= 0.05
             AS wau_sketch_ok
         FROM dau JOIN wau ON dau.day = wau.d""",
    "sim_pair_hist" -> graft.sim.Similarity.pairCosineHistOracleSql(),
    "text_vocab_growth" -> TextAnalysis.vocabGrowthOracleSql(),
    // arm fate and every post-count float mirror the engine's exact
    // expression tree — divide/add/multiply/sqrt only, so no rounding
    "ev_ab_test" ->
      s"""WITH u AS (SELECT user_id,
              MAX(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY 1),
          t AS (SELECT ${fnv32("CAST(user_id AS VARCHAR) || ':ab'")} % 2 AS arm,
                  converted FROM u),
          arms AS (SELECT arm, COUNT(*) AS n, SUM(converted) AS conv FROM t GROUP BY 1),
          j AS (SELECT a.n AS n_a, b.n AS n_b, a.conv AS conv_a, b.conv AS conv_b
                FROM (SELECT n, conv FROM arms WHERE arm = 0) a,
                     (SELECT n, conv FROM arms WHERE arm = 1) b),
          r AS (SELECT n_a, n_b, conv_a, conv_b,
                  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
                  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
                  CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool
                FROM j)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
           rate_a, rate_b,
           CASE WHEN p_pool > 0 AND p_pool < 1 THEN
             (rate_a - rate_b) / sqrt((p_pool * (CAST(1 AS DOUBLE) - p_pool)) *
               (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)))
           END AS z_score,
           COALESCE(ABS(CASE WHEN p_pool > 0 AND p_pool < 1 THEN
             (rate_a - rate_b) / sqrt((p_pool * (CAST(1 AS DOUBLE) - p_pool)) *
               (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)))
           END) > 1.96, FALSE) AS significant
         FROM r""",
    "q_kanon_audit" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
           (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000) // 100000 AS bal_band,
           COUNT(*) AS n_members
         FROM customer GROUP BY 1, 2, 3 HAVING COUNT(*) < 5""",
    "src_csv_dirty" -> graft.sources.Formats.csvDirtyOracleSql,
    "src_orc_roundtrip" -> graft.sources.Formats.orcRoundtripOracleSql,
    // CDC truth is the per-key last row by (ms, event_id): tombstoned keys
    // drop, count is the full log depth per key
    "q_cdc_apply" ->
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id,
              CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
            FROM events),
          r AS (SELECT user_id, ms, op, value,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ms DESC, event_id DESC) AS rn,
              COUNT(*) OVER (PARTITION BY user_id) AS cnt
            FROM e)
        SELECT user_id, value AS last_value, ms AS last_ms,
          CAST(cnt AS BIGINT) AS n_changes
        FROM r WHERE rn = 1 AND op = 'U'""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <= TIMESTAMP '1997-12-31'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1""",
    "q8_market_share" ->
      """WITH j AS (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
            CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
            sn.n_name AS supp_nation
          FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey AND cn.n_regionkey = 2
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey)
        SELECT o_year,
          CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_revenue,
          CAST(SUM(rev) AS DOUBLE) AS total_revenue,
          CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
            / CAST(SUM(rev) AS DOUBLE) AS mkt_share
        FROM j GROUP BY 1""",
    "q9_profit_by_nation" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            - CAST(p_retailprice AS DECIMAL(18,2)) *
              CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit,
          COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%gear%'
        GROUP BY 1, 2""",
    "q10_returned_items" ->
      """WITH g AS (
          SELECT c_custkey, c_name, n_name, c_acctbal,
            SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1998-01-01'
            AND o_orderdate < TIMESTAMP '1998-07-01'
          GROUP BY 1, 2, 3, 4)
        SELECT c_custkey, c_name, n_name, c_acctbal,
          CAST(rev_dec AS DOUBLE) AS revenue
        FROM g ORDER BY rev_dec DESC, c_custkey LIMIT 20""",
    // the share compare is double-vs-double ON PURPOSE: both engines divide
    // the same two exact-decimal bit patterns, so the quotient (and the
    // comparison) is identical — while decimal·decimal at this precision
    // overflows the 38-digit cap engine-dependently
    "q11_important_parts" ->
      """WITH v AS (SELECT l_partkey,
            SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS val_dec
          FROM lineitem GROUP BY 1),
         t AS (SELECT SUM(val_dec) AS tot_dec FROM v)
        SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value,
          CAST(val_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) AS part_share
        FROM v, t
        WHERE CAST(val_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) > CAST(0.0006 AS DOUBLE)""",
    "q13_customer_distribution" ->
      """WITH oc AS (SELECT o_custkey, COUNT(*) AS n FROM orders
            WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        SELECT COALESCE(n, 0) AS c_count, COUNT(*) AS custdist
        FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        GROUP BY 1""",
    // quantity carried as exact integer centiunits so the fifth-of-average
    // predicate (5·qty·n < s) is pure BIGINT — no float ever exists
    "q17_small_qty_revenue" ->
      """WITH a AS (SELECT l_partkey AS pk,
            CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s,
            COUNT(*) AS n
          FROM lineitem GROUP BY 1)
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey JOIN a ON l_partkey = pk
        WHERE p_brand = 'Brand#23'
          AND CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * 5 * n < s""",
    "q20_promo_suppliers" ->
      """WITH q AS (SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tq
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small%' GROUP BY 1)
        SELECT s_suppkey, s_name, s_acctbal, CAST(tq AS DOUBLE) AS shipped_qty
        FROM supplier JOIN q ON s_suppkey = l_suppkey
        WHERE tq > CAST(2200 AS DECIMAL(18,2))""",
    "ev_transitions" ->
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
              event_id, event_type FROM events),
          s AS (SELECT event_type AS from_type,
              LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY ms, event_id) AS to_type
            FROM e),
          t AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
            FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
          SELECT from_type, to_type, n_transitions,
            CAST(n_transitions AS DOUBLE) /
              CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE) AS share
          FROM t""",
    // the merge's truth is the one-pass full recompute: exact DECIMAL
    // sums make partial-merge == recompute to the bit
    "q_incremental_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          $revenue AS sum_revenue,
          COUNT(*) AS count_order
          FROM lineitem GROUP BY 1, 2""",
    // SCD2: lag marks changes (null-safe: first event always opens), lead
    // over survivors closes intervals, +inf sentinel keeps it NULL-free
    "ev_scd2" ->
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
              event_id, event_type FROM events),
          c AS (SELECT user_id, ms, event_id, event_type,
              LAG(event_type) OVER (PARTITION BY user_id
                ORDER BY ms, event_id) AS prev_type
            FROM e),
          k AS (SELECT user_id, ms, event_id, event_type FROM c
            WHERE prev_type IS DISTINCT FROM event_type)
          SELECT user_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ms, event_id) AS INT) AS version,
            event_type, ms AS valid_from_ms,
            COALESCE(LEAD(ms) OVER (PARTITION BY user_id
              ORDER BY ms, event_id), 253402300800000) AS valid_to_ms
          FROM k""",
    "q_bucketed_join" ->
      s"""SELECT o_orderstatus, $revenue AS revenue, COUNT(*) AS n_items
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1""",
    "q_integrity" ->
      """WITH li AS (SELECT CASE WHEN l_orderkey % 101 = 0 THEN -l_orderkey
              ELSE l_orderkey END AS k FROM lineitem),
          oc AS (SELECT CASE WHEN o_custkey % 101 = 0 THEN -o_custkey
              ELSE o_custkey END AS k FROM orders),
          cn AS (SELECT CASE WHEN c_nationkey % 101 = 0 THEN -c_nationkey
              ELSE c_nationkey END AS k FROM customer),
          sn AS (SELECT CASE WHEN s_nationkey % 101 = 0 THEN -s_nationkey
              ELSE s_nationkey END AS k FROM supplier)
          SELECT 'lineitem->orders' AS relation,
            (SELECT COUNT(*) FROM li) AS n_child,
            (SELECT COUNT(*) FROM li WHERE k NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
          UNION ALL
          SELECT 'orders->customer',
            (SELECT COUNT(*) FROM oc),
            (SELECT COUNT(*) FROM oc WHERE k NOT IN (SELECT c_custkey FROM customer))
          UNION ALL
          SELECT 'customer->nation',
            (SELECT COUNT(*) FROM cn),
            (SELECT COUNT(*) FROM cn WHERE k NOT IN (SELECT n_nationkey FROM nation))
          UNION ALL
          SELECT 'supplier->nation',
            (SELECT COUNT(*) FROM sn),
            (SELECT COUNT(*) FROM sn WHERE k NOT IN (SELECT n_nationkey FROM nation))""",
    "sample_epochs" ->
      s"""WITH d AS (SELECT doc_id, source,
            2 + ${fnv32("source")} % 5 AS e2,
            ${fnv32("CAST(doc_id AS VARCHAR) || ':epoch'")} % 100 AS fate
          FROM documents),
          n AS (SELECT doc_id, source,
            e2 // 2 + CASE WHEN e2 % 2 = 1 AND fate < 50 THEN 1 ELSE 0 END AS nc
          FROM d)
          SELECT doc_id, source, CAST(nc AS BIGINT) AS n_copies,
            CAST(unnest(generate_series(1, nc)) AS BIGINT) AS copy_idx
          FROM n""",
    "pack_greedy_bins" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(${tokens("text")}) AS BIGINT) AS n
            FROM documents),
          c AS (SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM t),
          b AS (SELECT (cum - n) // 2048 AS bin_id, n, cum FROM c)
          SELECT bin_id, COUNT(*) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS n_tokens_assigned,
            CAST(GREATEST(0, MAX(cum) - (bin_id + 1) * 2048) AS BIGINT) AS overshoot
          FROM b GROUP BY bin_id""",
    "ev_impute" ->
      """WITH dirty AS (SELECT event_id, event_type,
              CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
            FROM events),
          stats AS (SELECT event_type, COUNT(v) AS n_obs,
              SUM(CAST(v AS DECIMAL(18,2))) AS sum_dec,
              SUM(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2))) AS sumsq_dec
            FROM dirty GROUP BY 1),
          j AS (SELECT d.*, CAST(sum_dec AS DOUBLE) / n_obs AS mean,
              (CAST(sumsq_dec AS DOUBLE)
                 - CAST(sum_dec AS DOUBLE) * CAST(sum_dec AS DOUBLE) / n_obs) / n_obs AS variance
            FROM dirty d JOIN stats USING (event_type))
          SELECT event_id, event_type, (v IS NULL) AS was_null,
            COALESCE(v, mean) AS value_filled,
            (COALESCE(v, mean) - mean) / sqrt(variance) AS z
          FROM j""",
    "ev_ohlc" ->
      """SELECT event_type, hour_ms,
           arg_min(value, ord) AS open, MAX(value) AS high, MIN(value) AS low,
           arg_max(value, ord) AS close, COUNT(*) AS n_events
         FROM (SELECT event_type,
                 epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_ms,
                 value,
                 epoch_ms(CAST(ts AS TIMESTAMP)) * 1000000 + event_id AS ord
               FROM events)
         GROUP BY event_type, hour_ms""",
    "q_rank_family" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
         FROM supplier
         WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)""",
    "q_table_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS k,
              CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
          v2 AS (SELECT CASE WHEN k % 83 = 0 THEN -k ELSE k END AS k,
                   CASE WHEN k % 89 = 0 THEN price + CAST(1.0 AS DECIMAL(18,2))
                        ELSE price END AS price
                 FROM v1 WHERE k % 97 <> 0),
          j AS (SELECT COALESCE(a.k, b.k) AS k, a.price AS old_price,
                  b.price AS new_price
                FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k)
          SELECT k AS o_orderkey,
            CASE WHEN old_price IS NULL THEN 'added'
                 WHEN new_price IS NULL THEN 'deleted'
                 WHEN old_price <> new_price THEN 'changed' END AS change,
            CAST(old_price AS DOUBLE) AS old_price,
            CAST(new_price AS DOUBLE) AS new_price
          FROM j WHERE old_price IS NULL OR new_price IS NULL
             OR old_price <> new_price""",
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status_dim,
           COALESCE(o_orderpriority, 'ALL') AS priority_dim,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
    "q_skew_salted" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_items
         FROM lineitem GROUP BY l_returnflag""",
    "q_min_cost_supplier" ->
      """SELECT l.l_partkey,
                MIN(l.l_suppkey) AS best_supp,
                MIN(l.l_extendedprice) AS best_price,
                COUNT(*) AS n_best
         FROM lineitem l
         WHERE l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                                    FROM lineitem l2
                                    WHERE l2.l_partkey = l.l_partkey)
         GROUP BY l.l_partkey""",
    "q_quantiles" ->
      """SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           MIN(value) AS v_min, MAX(value) AS v_max, COUNT(*) AS n
         FROM events GROUP BY event_type""",
    "mr_wordcount" ->
      s"""SELECT word, COUNT(*) AS cnt FROM
          (SELECT unnest(${tokens("text")}) AS word FROM documents) GROUP BY word""",
    "mr_inverted_index" ->
      s"""WITH t AS (SELECT DISTINCT word, CAST(doc_id AS VARCHAR) AS doc FROM
           (SELECT doc_id, unnest(${tokens("text")}) AS word FROM documents))
          SELECT word, COUNT(*) AS n_docs, string_agg(doc, ',' ORDER BY doc) AS doc_list
          FROM t GROUP BY word""",
    "mr_sorted_concat" ->
      """SELECT lang, COUNT(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY CAST(doc_id AS VARCHAR)) AS docs
         FROM documents GROUP BY lang""",
    "mr_wc_typed" ->
      s"""SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value FROM
          (SELECT unnest(${tokens("text")}) AS word FROM documents) GROUP BY word""",
    "kv_append_fold" ->
      """WITH ops AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts,
           event_id AS seq, CAST(event_id AS VARCHAR) AS value FROM events)
         SELECT key, string_agg(value, ',' ORDER BY ts, seq) AS final_value, COUNT(*) AS n_ops
         FROM ops GROUP BY key""",
    "kv_exactly_once" ->
      """WITH ops AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts,
           event_id AS seq, CAST(event_id AS VARCHAR) AS value FROM events),
         dup AS (SELECT * FROM ops UNION ALL SELECT * FROM ops WHERE seq % 3 = 0),
         ded AS (SELECT DISTINCT key, ts, seq, value FROM dup)
         SELECT key, string_agg(value, ',' ORDER BY ts, seq) AS final_value, COUNT(*) AS n_ops
         FROM ded GROUP BY key""",
    "shard_routing" ->
      """SELECT ascii(substr(CAST(user_id AS VARCHAR), 1, 1)) % 10 AS shard, COUNT(*) AS n_events
         FROM events GROUP BY 1""",
    // deterministic config trajectory of the Join/Join/Join/Leave/Move/Leave
    // script, hand-derived from the documented rebalance rules (sorted-gid
    // processing, lowest-indexed shard from most-loaded group, max-min <= 1;
    // /root/reference/src/shardmaster/test_test.go:25-52) — pins the exact
    // rebalance algorithm output, not just the invariant
    "shard_config_history" ->
      """SELECT CAST(config_num AS BIGINT) AS config_num, CAST(shard AS BIGINT) AS shard,
           CAST(gid AS BIGINT) AS gid, CAST(n_groups AS BIGINT) AS n_groups
         FROM (VALUES (0,0,0,0),(0,1,0,0),(0,2,0,0),(0,3,0,0),(0,4,0,0),(0,5,0,0),(0,6,0,0),(0,7,0,0),(0,8,0,0),(0,9,0,0),
           (1,0,1,1),(1,1,1,1),(1,2,1,1),(1,3,1,1),(1,4,1,1),(1,5,1,1),(1,6,1,1),(1,7,1,1),(1,8,1,1),(1,9,1,1),
           (2,0,2,3),(2,1,3,3),(2,2,2,3),(2,3,3,3),(2,4,2,3),(2,5,3,3),(2,6,1,3),(2,7,1,3),(2,8,1,3),(2,9,1,3),
           (3,0,2,4),(3,1,3,4),(3,2,2,4),(3,3,3,4),(3,4,2,4),(3,5,3,4),(3,6,4,4),(3,7,4,4),(3,8,1,4),(3,9,1,4),
           (4,0,1,3),(4,1,3,3),(4,2,4,3),(4,3,3,3),(4,4,1,3),(4,5,3,3),(4,6,4,3),(4,7,4,3),(4,8,1,3),(4,9,1,3),
           (5,0,1,3),(5,1,3,3),(5,2,4,3),(5,3,1,3),(5,4,1,3),(5,5,3,3),(5,6,4,3),(5,7,4,3),(5,8,1,3),(5,9,1,3),
           (6,0,3,2),(6,1,3,2),(6,2,4,2),(6,3,3,2),(6,4,4,2),(6,5,3,2),(6,6,4,2),(6,7,4,2),(6,8,3,2),(6,9,4,2))
           AS t(config_num, shard, gid, n_groups)""",
    // independent data-plane census (routing recomputed from events in SQL)
    // joined to the same pinned trajectory: every migration hop's end state
    // is value-checked, not just the config plane
    "shard_migration" ->
      """WITH census AS (
           SELECT ascii(substr(CAST(user_id AS VARCHAR), 1, 1)) % 10 AS shard,
             COUNT(DISTINCT user_id) AS n_keys, COUNT(*) AS n_events
           FROM events GROUP BY 1),
         traj(config_num, shard, gid) AS (VALUES
           (1,0,1),(1,1,1),(1,2,1),(1,3,1),(1,4,1),(1,5,1),(1,6,1),(1,7,1),(1,8,1),(1,9,1),
           (2,0,2),(2,1,3),(2,2,2),(2,3,3),(2,4,2),(2,5,3),(2,6,1),(2,7,1),(2,8,1),(2,9,1),
           (3,0,2),(3,1,3),(3,2,2),(3,3,3),(3,4,2),(3,5,3),(3,6,4),(3,7,4),(3,8,1),(3,9,1),
           (4,0,1),(4,1,3),(4,2,4),(4,3,3),(4,4,1),(4,5,3),(4,6,4),(4,7,4),(4,8,1),(4,9,1),
           (5,0,1),(5,1,3),(5,2,4),(5,3,1),(5,4,1),(5,5,3),(5,6,4),(5,7,4),(5,8,1),(5,9,1),
           (6,0,3),(6,1,3),(6,2,4),(6,3,3),(6,4,4),(6,5,3),(6,6,4),(6,7,4),(6,8,3),(6,9,4))
         SELECT CAST(config_num AS BIGINT) AS config_num, CAST(shard AS BIGINT) AS shard,
           CAST(gid AS BIGINT) AS gid, n_keys, n_events
         FROM traj JOIN census USING (shard)""",
    "lin_check" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
           COUNT(*) + CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END AS n_ops,
           CASE WHEN user_id % 7 = 0 THEN 'violation' ELSE 'linearizable' END AS verdict
         FROM events GROUP BY user_id""",
    // register model: every user history ends in a get; correct observations
    // are linearizable, the planted impossible reads are violations
    "lin_check_register" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
           COUNT(*) + 1 AS n_ops,
           CASE WHEN user_id % 5 = 0 THEN 'violation' ELSE 'linearizable' END AS verdict
         FROM events GROUP BY user_id""",
    "text_token_stats" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("text")} AS tk, length(text) AS text_len FROM documents)
          SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
            CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
            CAST(text_len AS BIGINT) AS n_chars,
            CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS avg_token_len
          FROM t""",
    "text_bpe_tokens" ->
      """SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '''(s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    "text_quality" ->
      s"""WITH $qualityCountsCtes
          SELECT doc_id, n_tokens,
            CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
            CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
            $qualityScore AS quality_score
          FROM s""",
    "text_langid" ->
      s"""WITH $langScoresCtes
          SELECT doc_id, lang_declared, s_de, s_en, s_es, s_fr, s_zh, $langPred AS lang_pred
          FROM s""",
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct(${tokens("lower(text)")})), ' ')) AS fp
          FROM documents""",
    "text_gopher_filters" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("text")} AS tk FROM documents),
          ${gramStatsCtes("t")},
          base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
                 ${meanTokenLen("tk")} AS mean_word_len
               FROM t)
          SELECT b.doc_id, b.n_words, b.mean_word_len,
            $topBigramFrac AS top_bigram_frac,
            $dupTrigramFrac AS dup_trigram_frac,
            ${gopherOk("b.n_words", "b.mean_word_len", topBigramFrac, dupTrigramFrac)} AS gopher_ok
          FROM base b JOIN g2s USING (doc_id) JOIN g3s USING (doc_id)""",
    // wordlist filter: same token mechanics, same IEEE integer-ratio and
    // same scrub join — the verdict threshold compares the exact double
    "text_blocklist" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("text")} AS tk FROM documents),
          s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(tk, x -> x IN ('slow','big','bad'))) AS BIGINT) AS n_blocked,
                  array_to_string(list_filter(tk, x -> x NOT IN ('slow','big','bad')), ' ') AS scrubbed
                FROM t)
          SELECT doc_id, n_tokens, n_blocked,
            CAST(n_blocked AS DOUBLE) / n_tokens AS blocked_frac,
            (CAST(n_blocked AS DOUBLE) / n_tokens > 0.05) AS blocked, scrubbed
          FROM s""",
    // same planted-PII strings rebuilt with ||; the patterns are
    // backtracking-free character classes on which Java regex and RE2
    // agree, and DuckDB regexp_replace carries the explicit 'g' flag that
    // Spark's global-by-default replace implies
    "text_pii_scrub" ->
      """WITH t AS (SELECT doc_id,
           text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         FROM documents),
         s AS (SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS s
         FROM t)
         SELECT doc_id, n_emails, n_phones, n_emails + n_phones AS n_pii,
           CAST(length(s) AS BIGINT) AS scrubbed_len, md5(s) AS scrubbed_md5
         FROM s""",
    // per-source profile: exact integer totals, interpolated quantiles
    // (the q_quantiles acceptance), IEEE divisions of exact ints
    "text_profile" ->
      s"""WITH t AS (SELECT source, ${tokens("text")} AS tk FROM documents),
          b AS (SELECT source, CAST(len(tk) AS BIGINT) AS n_tok, tk FROM t),
          s AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                  quantile_cont(n_tok, 0.5) AS p50_tokens,
                  quantile_cont(n_tok, 0.9) AS p90_tokens,
                  MAX(n_tok) AS max_tokens
                FROM b GROUP BY 1),
          v AS (SELECT source, COUNT(DISTINCT w) AS vocab
                FROM (SELECT source, unnest(tk) AS w FROM b) GROUP BY 1)
          SELECT source, n_docs, total_tokens,
            CAST(total_tokens AS DOUBLE) / n_docs AS mean_tokens,
            p50_tokens, p90_tokens, max_tokens, vocab,
            CAST(vocab AS DOUBLE) / total_tokens AS ttr
          FROM s JOIN v USING (source)""",
    // heavy hitters: exact counts, the (n desc, gram asc) tie-break makes
    // the k-set deterministic across engines
    "text_chunks" -> TextAnalysis.chunksOracleSql(),
    // the sketch path must agree EXACTLY with the plain vocab-sized GROUP BY
    "text_heavy_hitters" -> TextAnalysis.heavyHittersOracleSql(),
    "text_bm25" -> TextAnalysis.bm25OracleSql(),
    "dedup_cross_source" -> Dedup.crossSourceOracleSql,
    "text_top_ngrams" ->
      s"""WITH t AS (SELECT ${tokens("text")} AS tk FROM documents),
          g AS (SELECT ${gram("tk", "i", 2)} AS gram
                FROM t, unnest(generate_series(1, len(tk)-1)) AS u(i)
                WHERE len(tk) >= 2)
          SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM g
          GROUP BY 1 ORDER BY n DESC, gram LIMIT 25""",
    // the integer PageRank recurrence unrolled as 5 CTE rounds — identical
    // fixed-point arithmetic, `//` mirroring DIV (all values non-negative)
    "text_textrank" ->
      s"""SELECT node AS token, rank FROM (
            ${graft.graph.PageRank.oracleSqlFor(graft.graph.PageRank.textrankEdgesSql, 5)}
          ) t ORDER BY rank DESC, node LIMIT 20""",
    // ranks iterate on long node ids; names format (and tie-break) on the
    // top-30 output rows only — mirrors graphPagerank's select-then-order
    "graph_pagerank" ->
      s"""SELECT ${graft.graph.PageRank.nodeNameSql("node")} AS node, rank FROM (
            ${graft.graph.PageRank.oracleSqlFor(graft.graph.PageRank.bipartiteEdgesSql, 5)}
          ) t ORDER BY rank DESC, 1 LIMIT 30""",
    // the oracle is TRUTH, not the blocking: direct cross join + exact
    // levenshtein (the engine's SymSpell candidates must find all of it)
    "text_fuzzy_join" ->
      """WITH vocab AS (SELECT DISTINCT t AS word FROM
            (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
            WHERE t <> ''),
          qs AS (SELECT doc_id, string_split(text, ' ')[1] AS qtok
            FROM documents WHERE doc_id % 11 = 0),
          m AS (SELECT doc_id,
              substr(qtok, 1, CAST((doc_id // 11) % length(qtok) AS INT)) ||
                substr(qtok, CAST((doc_id // 11) % length(qtok) AS INT) + 2) AS q
            FROM qs)
          SELECT m.doc_id, m.q AS query_token, v.word AS match_word,
            CAST(levenshtein(m.q, v.word) AS INT) AS dist
          FROM m JOIN vocab v ON levenshtein(m.q, v.word) <= 1""",
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY text""",
    "dedup_url" -> Dedup.urlDedupOracleSql,
    // re-plant the formatting variants, normalize, group on the normalized
    // hash; only groups that actually collapsed (n_docs > 1) report
    "dedup_normalized" ->
      s"""WITH d AS (${graft.Fixtures.caseVariantDocsSql}),
          n AS (SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
              md5(text) AS raw_hash
            FROM d)
          SELECT norm_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs,
            COUNT(DISTINCT raw_hash) AS n_raw,
            string_agg(doc_id, ',' ORDER BY doc_id) AS members
          FROM n GROUP BY norm_hash HAVING COUNT(*) > 1""",
    // paragraph chunking + planted boilerplate re-derived; winner election
    // = lexicographic MIN([doc_id, para_idx]) per paragraph hash
    "dedup_paragraphs" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          ix AS (SELECT doc_id, toks,
              unnest(generate_series(0, (len(toks) + 19) // 20 - 1)) AS i FROM d),
          p AS (SELECT doc_id, i AS para_idx,
              CASE WHEN i = 0 AND doc_id % 7 = 0
                   THEN '${graft.dedup.Dedup.ParagraphBoilerplate}'
                   ELSE array_to_string(list_slice(toks, i * 20 + 1, i * 20 + 20), ' ')
              END AS para FROM ix),
          w AS (SELECT md5(para) AS h, MIN([doc_id, CAST(para_idx AS BIGINT)]) AS f
                FROM p GROUP BY 1),
          k AS (SELECT p.doc_id, p.para_idx, p.para,
                (p.doc_id = f[1] AND p.para_idx = f[2]) AS kept
                FROM p JOIN w ON md5(p.para) = w.h)
          SELECT doc_id, COUNT(*) AS n_paras,
            CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            md5(COALESCE(string_agg(CASE WHEN kept THEN para END,
              chr(10) ORDER BY para_idx), '')) AS clean_hash
          FROM k GROUP BY 1""",
    // train/eval decontamination re-derived on n-gram STRINGS (the engine
    // joins on their fnv64 hashes — equal counts absent a collision)
    "decontam_overlap" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          s AS (SELECT doc_id, list_distinct(${shingles("tk", 5)}) AS sh FROM t),
          w AS (SELECT doc_id, unnest(sh) AS g FROM s),
          sz AS (SELECT doc_id, len(sh) AS n FROM s),
          p AS (SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS c
                FROM (SELECT * FROM w WHERE doc_id % 50 <> 0) tr
                JOIN (SELECT * FROM w WHERE doc_id % 50 = 0) ev USING (g)
                GROUP BY 1, 2)
          SELECT train_id, eval_id, c AS n_shared,
            CAST(c AS DOUBLE) / sz.n AS contamination
          FROM p JOIN sz ON eval_id = sz.doc_id
          WHERE c >= 1""",
    // containment re-derived on gram STRINGS (count parity + collision
    // acceptance); the oracle's all-pairs gram join IS the completeness
    // proof for the engine's prefix-filtered candidates
    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          s AS (SELECT doc_id, list_distinct(${shingles("tk", 5)}) AS sh FROM t),
          w AS (SELECT doc_id, unnest(sh) AS g FROM s),
          sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s WHERE len(sh) > 0),
          p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS shared
                FROM w a JOIN w b ON a.g = b.g AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
          SELECT d1, d2, sz.n AS n_grams, shared,
            CAST(shared AS DOUBLE) / sz.n AS containment
          FROM p JOIN sz ON d1 = sz.doc_id
          WHERE CAST(shared AS DOUBLE) / sz.n >= CAST(0.5 AS DOUBLE)""",
    // duplicated-span fractions re-derived on gram STRINGS (the engine
    // joins on 64-bit gram hashes — same count parity + collision
    // acceptance as decontam_overlap: per-doc gram sets are distinct)
    "dedup_span_overlap" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          s AS (SELECT doc_id, list_distinct(${shingles("tk", 5)}) AS sh FROM t),
          w AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams, unnest(sh) AS g FROM s),
          d AS (SELECT g FROM w GROUP BY g HAVING COUNT(*) >= 2)
          SELECT w.doc_id, w.n_grams, COUNT(d.g) AS n_dup_grams,
            CAST(COUNT(d.g) AS DOUBLE) / w.n_grams AS dup_frac
          FROM w LEFT JOIN d ON w.g = d.g
          GROUP BY 1, 2""",
    // span EXTENTS re-derived positionally: gram strings stand in for the
    // 64-bit gram hashes (equality is all either engine uses — the
    // dedup_span_overlap acceptance), positions via a struct-list unnest,
    // duplicated positions window-merged gaps-and-islands style with the
    // same gap-≤-w rule and end cap as the Spark plan
    "dedup_span_extents" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n, ${shingles("tk", 5)} AS sh FROM t),
          o AS (SELECT doc_id, n, unnest(list_transform(generate_series(1, len(sh)),
                   i -> {'p': i - 1, 'g': sh[i]})) AS u FROM s),
          x AS (SELECT doc_id, n, CAST(u.p AS BIGINT) AS pos, u.g AS g FROM o),
          d AS (SELECT g FROM x GROUP BY g HAVING COUNT(*) >= 2),
          y AS (SELECT x.doc_id, x.n, x.pos FROM x JOIN d ON x.g = d.g),
          r AS (SELECT doc_id, n, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                 THEN 0 ELSE 1 END AS brk FROM y),
          i AS (SELECT doc_id, n, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM r)
          SELECT doc_id, MIN(pos) AS start_tok, LEAST(MAX(pos) + 4, MAX(n) - 1) AS end_tok,
            COUNT(*) AS n_dup_grams
          FROM i GROUP BY doc_id, run""",
    // the cut-list applied: extents re-derived (same CTEs, islands CTE
    // renamed to avoid the token-index alias), every token position marked
    // by a correlated EXISTS against its doc's spans, kept tokens
    // re-joined ORDER BY position; 0-token docs appended so both engines
    // emit every document
    "dedup_span_clean" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n, ${shingles("tk", 5)} AS sh FROM t),
          o AS (SELECT doc_id, n, unnest(list_transform(generate_series(1, len(sh)),
                   i -> {'p': i - 1, 'g': sh[i]})) AS u FROM s),
          x AS (SELECT doc_id, n, CAST(u.p AS BIGINT) AS pos, u.g AS g FROM o),
          d AS (SELECT g FROM x GROUP BY g HAVING COUNT(*) >= 2),
          y AS (SELECT x.doc_id, x.n, x.pos FROM x JOIN d ON x.g = d.g),
          r AS (SELECT doc_id, n, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                 THEN 0 ELSE 1 END AS brk FROM y),
          isl AS (SELECT doc_id, n, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM r),
          e AS (SELECT doc_id, MIN(pos) AS st, LEAST(MAX(pos) + 4, MAX(n) - 1) AS en
                FROM isl GROUP BY doc_id, run),
          tox AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
                   unnest(list_transform(generate_series(1, len(tk)), j -> {'i': j - 1, 'w': tk[j]})) AS u FROM t),
          a AS (SELECT doc_id, n, CAST(u.i AS BIGINT) AS i, u.w AS w FROM tox),
          m AS (SELECT a.doc_id, a.n, a.i, a.w,
                 EXISTS(SELECT 1 FROM e WHERE e.doc_id = a.doc_id AND a.i BETWEEN e.st AND e.en) AS dup
                FROM a)
          SELECT doc_id, MAX(n) AS n_tokens,
            CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tokens,
            COALESCE(string_agg(CASE WHEN NOT dup THEN w END, ' ' ORDER BY i), '') AS clean_text
          FROM m GROUP BY doc_id
          UNION ALL SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), '' FROM t WHERE len(tk) = 0""",
    // per-source greedy near-dup rate: dedup_token_jaccard's pairs
    // (jaccardCtes), drop set = every d2 of a qualifying pair, aggregated
    // per source
    "dedup_source_rate" ->
      s"""WITH ${jaccardCtes("x.doc_id < y.doc_id")},
          dropped AS (SELECT DISTINCT d2 AS doc_id FROM pairs
            JOIN sz s1 ON pairs.d1 = s1.doc_id JOIN sz s2 ON pairs.d2 = s2.doc_id
            WHERE $jaccard >= 0.8)
          SELECT d.source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
            ROUND(CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_rate
          FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
          GROUP BY d.source""",
    // the same jaccard arithmetic restricted to (base, delta) pairs —
    // delta = doc_id above the 80% watermark of the id range
    "dedup_incremental" ->
      s"""WITH cut AS (SELECT COALESCE(MAX(doc_id), 0) - COALESCE(MAX(doc_id), 0) // 5 AS c FROM documents),
          ${jaccardCtes("x.doc_id <= (SELECT c FROM cut) AND y.doc_id > (SELECT c FROM cut)")}
          SELECT d1, d2, $jaccard AS jaccard
          FROM pairs JOIN sz s1 ON pairs.d1 = s1.doc_id JOIN sz s2 ON pairs.d2 = s2.doc_id
          WHERE $jaccard >= 0.8""",
    // TF-IDF re-derived end-to-end; ranking compares the ROUNDED score so
    // the one non-IEEE-exact op (ln, faithful to ~1 ulp in both engines)
    // cannot flip an order
    // bigram LM re-derived in SQL: identical integer counts, the same
    // add-one formula, AVG over doubles rounded to 6 decimals (the ln /
    // aggregation-order boundary argument is the TF-IDF precedent);
    // c1 cast to BIGINT so DuckDB's HUGEINT SUM widening stays out of the
    // double arithmetic
    "text_lm_quality" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS t FROM documents),
          bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                   i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
                 FROM t WHERE len(t) >= 2),
          bb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
          c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bb GROUP BY 1, 2),
          c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
          v AS (SELECT COUNT(DISTINCT word) AS v FROM
                  (SELECT unnest(t.t) AS word FROM t)),
          s AS (SELECT bb.doc_id, COUNT(*) AS n_bigrams,
                  ROUND(AVG(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS lm_score
                FROM bb JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
                GROUP BY 1)
          SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
                 s.n_bigrams, s.lm_score
          FROM t LEFT JOIN s ON t.doc_id = s.doc_id""",
    "text_tfidf_top" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          w AS (SELECT doc_id, unnest(tk) AS word FROM t),
          tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
          df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT COUNT(*) AS n_docs FROM documents),
          s AS (SELECT doc_id, word, tf, df,
                  ROUND(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
                FROM tf JOIN df USING (word) CROSS JOIN n),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rnk
                FROM s)
          SELECT doc_id, word, tf, df, score, CAST(rnk AS INT) AS rnk
          FROM r WHERE rnk <= 5""",
    // all-pairs exact distinct-3-shingle jaccard — the quadratic ground
    // truth the LSH+verify pipeline must reproduce
    "dedup_minhash_lsh" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          s AS (SELECT doc_id, list_distinct(${shingles("tk", 3)}) AS sh FROM t),
          w AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
          sz AS (SELECT doc_id, len(sh) AS n FROM s),
          pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c FROM w a JOIN w b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
          SELECT d1, d2, $jaccard AS jaccard
          FROM pairs JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
          WHERE $jaccard >= 0.8""",
    // full independent recomputation of fnv64 (OracleSql.fnv64) + SimHash
    // + pigeonhole in SQL: bit extraction is exact because powers of two
    // are exact doubles. No cap
    // term: dedup_dropped_buckets pins that no bucket overflows at this sf
    "dedup_simhash" ->
      s"""WITH occ AS (SELECT doc_id, unnest(${tokens("lower(text)")}) AS tok FROM documents),
          vocab AS (SELECT DISTINCT tok FROM occ),
          hashed AS (SELECT tok, ${fnv64("tok")} AS h FROM vocab),
          bits AS (SELECT o.doc_id, b.b,
              SUM(CASE WHEN (h.h // CAST(power(2, b.b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS acc
            FROM occ o JOIN hashed h USING (tok)
            CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
            GROUP BY o.doc_id, b.b),
          sims AS (SELECT doc_id,
              SUM(CASE WHEN acc > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS sim
            FROM bits GROUP BY doc_id),
          chunks AS (SELECT doc_id, sim, c.c, (sim // CAST(power(2, 16 * c.c) AS HUGEINT)) % 65536 AS chunk
            FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS c) c),
          cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sim AS s1, b.sim AS s2
            FROM chunks a JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
          ham AS (SELECT d1, d2,
              SUM(CASE WHEN (s1 // p.p) % 2 <> (s2 // p.p) % 2 THEN 1 ELSE 0 END) AS hamming
            FROM cand CROSS JOIN (SELECT CAST(power(2, unnest(range(0, 64))) AS HUGEINT) AS p) p
            GROUP BY d1, d2)
          SELECT d1, d2, CAST(hamming AS INT) AS hamming FROM ham WHERE hamming <= 3""",
    // full winnowing recomputation: 5-token shingles of the lowered token
    // stream, hashed with OracleSql.fnv64 (as dedup_simhash's oracle),
    // keep h % 4 == 0, distinct per doc, pairs sharing >= 2 fingerprints
    "dedup_fp_overlap" ->
      s"""WITH t AS (SELECT doc_id, ${tokens("lower(text)")} AS tk FROM documents),
          sh AS (SELECT doc_id, ${gram("tk", "i", 5)} AS shingle
                 FROM t, unnest(generate_series(1, len(tk) - 4)) AS u(i)),
          vocab AS (SELECT DISTINCT shingle FROM sh),
          hashed AS (SELECT shingle, ${fnv64("shingle")} AS h FROM vocab),
          fp AS (SELECT DISTINCT sh.doc_id, hashed.h
                 FROM sh JOIN hashed USING (shingle) WHERE hashed.h % 4 = 0),
          pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
                    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT d1, d2, n_shared FROM pairs WHERE n_shared >= 2""",
    // independent recomputation of BOTH edge sets and the components: the
    // same jaccard pipeline as dedup_token_jaccard, exact-text pairs, then
    // min-label connectivity as a recursive CTE — grounds the iterative
    // Spark propagation in DuckDB's fixpoint semantics
    "dedup_components" ->
      s"""WITH RECURSIVE $componentsCtes
          SELECT node AS doc_id, MIN(label) AS canonical_id, (node = MIN(label)) AS keep
          FROM cc GROUP BY node""",
    // the caps lose nothing at this sf: the overflow-bucket report is empty,
    // value-compared (schema + zero rows) so any silent drop fails the gate
    "dedup_dropped_buckets" ->
      """SELECT CAST(NULL AS VARCHAR) AS family, CAST(NULL AS INT) AS band,
           CAST(NULL AS VARCHAR) AS bucket, CAST(NULL AS BIGINT) AS bucket_n
         WHERE 1 = 0""",
    // hyperplane-LSH pairs and tuning sweep: the oracle re-derives the
    // signatures from the SAME ±1 plane literals the engine projects onto
    // (interpolated from one Scala constant — zero duplication)
    "dedup_lsh_pairs" -> graft.dedup.EmbeddingLsh.oraclePairsSql,
    "dedup_lsh_pairs_prod" -> graft.dedup.EmbeddingLsh.oraclePairsProdSql,
    "dedup_lsh_sweep" -> graft.dedup.EmbeddingLsh.oracleSweepSql(),
    "dedup_lsh_components" -> graft.dedup.EmbeddingLsh.oracleDedupKeepSql,
    "dedup_lsh_components_prod" -> graft.dedup.EmbeddingLsh.oracleDedupKeepProdSql,
    // the funnel re-derived end-to-end: hygiene (OracleSql.hygieneCte),
    // dedup keep (componentsCtes, the dedup_components truth),
    // decontamination (OracleSql.shingles 5-gram strings vs the eval
    // split), mixture (OracleSql.fnv32 bucket), and the packing arithmetic
    "pipeline_training_set" ->
      s"""WITH RECURSIVE
          t AS (SELECT doc_id, lang, source, text, ${tokens("text")} AS tk FROM documents),
          b AS (SELECT doc_id, lang, source, text, tk, CAST(len(tk) AS BIGINT) AS n_tok FROM t),
          ${gramStatsCtes("b")},
          ${hygieneCte("b")},
          $componentsCtes,
          keepd AS (SELECT node AS doc_id, (node = MIN(label)) AS kd FROM cc GROUP BY node),
          lt AS (SELECT doc_id, ${tokens("lower(text)")} AS ltk FROM documents),
          shg AS (SELECT doc_id, list_distinct(${shingles("ltk", 5)}) AS s FROM lt),
          wg AS (SELECT doc_id, unnest(s) AS g FROM shg),
          evg AS (SELECT DISTINCT g FROM wg WHERE doc_id % 50 = 0),
          cont AS (SELECT DISTINCT wg.doc_id FROM wg JOIN evg USING (g) WHERE wg.doc_id % 50 <> 0),
          mx AS (SELECT doc_id, ((${fnv32("CAST(doc_id AS VARCHAR)")} % 100) <
                   CASE lang WHEN 'en' THEN 90 WHEN 'fr' THEN 75 WHEN 'de' THEN 50
                             WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END) AS pm FROM documents),
          flags AS (SELECT b.doc_id, b.n_tok,
              COALESCE(hy.ph, FALSE) AS ph, keepd.kd AS kd,
              (b.doc_id % 50 <> 0 AND b.doc_id NOT IN (SELECT doc_id FROM cont)) AS pd,
              mx.pm AS pm
            FROM b JOIN hy ON b.doc_id = hy.doc_id
                   JOIN keepd ON b.doc_id = keepd.doc_id
                   JOIN mx ON b.doc_id = mx.doc_id),
          funnel AS (SELECT
              CAST(COUNT(*) AS BIGINT) AS total_docs,
              CAST(SUM(CASE WHEN ph THEN 1 ELSE 0 END) AS BIGINT) AS after_hygiene,
              CAST(SUM(CASE WHEN ph AND kd THEN 1 ELSE 0 END) AS BIGINT) AS after_dedup,
              CAST(SUM(CASE WHEN ph AND kd AND pd THEN 1 ELSE 0 END) AS BIGINT) AS after_decontam,
              CAST(SUM(CASE WHEN ph AND kd AND pd AND pm THEN 1 ELSE 0 END) AS BIGINT) AS after_mixture,
              CAST(SUM(CASE WHEN ph AND kd AND pd AND pm THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM flags)
          SELECT total_docs, after_hygiene, after_dedup, after_decontam, after_mixture,
            kept_tokens, CAST((kept_tokens + 511) // 512 AS BIGINT) AS n_sequences
          FROM funnel""",
    "dedup_embedding" ->
      s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         p AS (SELECT a.vec_id AS d1, b.vec_id AS d2, ${cosine6("a.emb", "b.emb")} AS cosine
               FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT d1, d2, cosine FROM p WHERE cosine >= 0.35""",
    "dedup_semantic" -> graft.dedup.SemDedup.oracleSql(),
    "decontam_semantic" -> graft.dedup.SemDedup.decontamOracleSql(),
    "sample_dsir" -> graft.sample.Dsir.oracleSql(),
    // the kNN join is exact all-pairs truth over the fixed-count
    // hash-order sample (sample == table at sf <= 0.1, so values are the
    // full exact graph there; the sample pins the quadratic cost forever)
    "sim_knn_graph" ->
      s"""SELECT query_id AS vec_id, neighbor_id, cosine, rank FROM (${topKTruth(
        s"""SELECT vec_id AS query_id, emb AS qe FROM e
            ORDER BY ${fnv32("CAST(vec_id AS VARCHAR) || ':kg'")}, vec_id LIMIT 2000""",
        "v.vec_id <> query_id AND v.vec_id IN (SELECT query_id FROM q)", 3)})""",
    // pruned-kNN sweep: engine-guaranteed booleans over the ratio-stable
    // rung surface (nlist/8, nlist/4, nlist), completeness (3 edges per
    // query) and recall floors; the endpoint row's guarantee is exact
    // equality with the brute truth by construction. Every value derives
    // from COUNT(embeddings) alone — same integer arithmetic as the engine
    // (nlist = max(16, ceil(n/256)), int division for the rungs).
    "sim_knn_graph_pruned" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
         p AS (SELECT GREATEST(16, CAST((n + 255) // 256 AS INT)) AS nlist, n FROM n)
         SELECT CAST(GREATEST(1, nlist // 8) AS INT) AS nprobe, n AS n_queries,
                CAST(3 * n AS BIGINT) AS n_edges, TRUE AS recall_ok FROM p
         UNION ALL SELECT CAST(GREATEST(2, nlist // 4) AS INT), n,
                CAST(3 * n AS BIGINT), TRUE FROM p
         UNION ALL SELECT CAST(nlist AS INT), LEAST(128, n),
                CAST(3 * LEAST(128, n) AS BIGINT), TRUE FROM p""",
    "sim_topk_brute" ->
      bruteTopK,
    "sim_hybrid_rrf" -> graft.sim.Similarity.hybridRrfOracleSql(),
    "sim_radius_search" -> graft.sim.Similarity.radiusSearchOracleSql(),
    "sample_interleave" ->
      s"""WITH b AS (SELECT doc_id, source,
            ${fnv32("CAST(doc_id AS VARCHAR) || ':ilv'")} AS h FROM documents),
          r AS (SELECT doc_id, source,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h DESC, doc_id) AS rank
          FROM b),
          s AS (SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS idx
                FROM (SELECT DISTINCT source FROM documents)),
          n AS (SELECT COUNT(*) AS ns FROM s)
          SELECT CAST((rank - 1) * ns + idx + 1 AS INT) AS slot, r.source, doc_id
          FROM r JOIN s ON r.source = s.source, n
          WHERE (rank - 1) * ns + idx + 1 <= 200""",
    "graph_degree_dist" -> graft.graph.PageRank.degreeDistributionSql,
    "text_langid_confusion" ->
      s"""WITH $langScoresCtes,
          p AS (SELECT lang_declared, $langPred AS lang_pred FROM s),
          m AS (SELECT lang_declared, lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1, 2)
          SELECT lang_declared, lang_pred, n_docs,
            CAST(n_docs AS DOUBLE) /
              CAST(SUM(n_docs) OVER (PARTITION BY lang_declared) AS DOUBLE) AS declared_share
          FROM m""",
    "sim_topk_mmr" -> graft.sim.Mmr.mmrOracleSql(),
    "sim_topk_mmr_ivf" -> graft.sim.Mmr.mmrOracleSql(),
    "sim_hard_negatives" ->
      topKTruth(truthQueries, "v.label <> q.label", 10),
    // ball-pruned IVF returns the exact top-k, so its oracle is the same
    // all-pairs truth as sim_topk_brute
    "sim_topk_ivf" ->
      bruteTopK,
    // the SQ8-searched top-k is exact by its error-ball rescan: identical
    // all-pairs truth again
    "sim_topk_sq8" ->
      bruteTopK,
    // the stored-index search is exact too: identical all-pairs truth
    "sim_topk_ivf_stored" ->
      bruteTopK,
    // the incrementally maintained index is exact by the same ball-pruning
    // argument (radii max-merged on upsert): identical all-pairs truth
    "sim_index_upsert" ->
      bruteTopK,
    // filtered search: the truth restricts candidates to the query's label
    // BEFORE ranking (pre-filter semantics, exact within the filtered set)
    "sim_topk_filtered" ->
      topKTruth(truthQueries, "v.label = q.label AND v.vec_id <> query_id", 10),
    // every (nprobe, query) row must report k hits and clear its recall
    // threshold; the nprobe=16 endpoint is a hard recall-1.0 guarantee
    "sim_ivf_recall" ->
      """SELECT CAST(np AS INT) AS nprobe, CAST(q AS BIGINT) AS query_id,
           CAST(10 AS BIGINT) AS n_hits, TRUE AS recall_ok
         FROM (VALUES (4),(8),(16)) AS a(np),
              (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS b(q)""",
    // PQ recall sweep: the engine guarantees recall_ok per (width, query) —
    // finite widths by measured fixture floors with margin, the
    // rerank=corpus endpoint by construction; the oracle pins the full
    // surface TRUE, SF-independent (widths below corpus size + the corpus-
    // size endpoint, mirroring the engine's sweep constructor)
    "sim_topk_pq" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
         widths AS (
           SELECT 40 AS rerank FROM n WHERE 40 < n
           UNION ALL SELECT 160 FROM n WHERE 160 < n
           UNION ALL SELECT CAST(n AS INT) FROM n)
         SELECT CAST(w.rerank AS INT) AS rerank, CAST(q AS BIGINT) AS query_id,
           CAST(10 AS BIGINT) AS n_hits, TRUE AS recall_ok
         FROM widths w, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS b(q)""",
    // IVF-PQ recall sweep: engine-guaranteed recall_ok per operating point —
    // the finite (nprobe, rerank) point by measured fixture floor with
    // margin, the (nlist, corpus) endpoint by construction; SF-independent
    // like sim_topk_pq's oracle
    "sim_topk_ivfpq" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
         pts AS (
           SELECT 8 AS nprobe, 160 AS rerank FROM n WHERE 160 < n
           UNION ALL SELECT 16, CAST(n AS INT) FROM n)
         SELECT CAST(p.nprobe AS INT) AS nprobe, CAST(p.rerank AS INT) AS rerank,
           CAST(q AS BIGINT) AS query_id, CAST(10 AS BIGINT) AS n_hits, TRUE AS recall_ok
         FROM pts p, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS b(q)""",
    // SQ8 re-derived with the identical IEEE ops and the same explicit
    // left-fold sum order — all three doubles compare bit-exact
    // Degenerate-input contract mirrored from Quantize.sq8Stats (not
    // fixture-dependent): any NULL element → all three stats NULL; an empty
    // or all-zero vector → scale 0, mse 0, max_err 0.
    "sim_quantize_sq8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x0 FROM embeddings),
         g AS (SELECT vec_id,
                 CASE WHEN len(list_filter(x0, v -> v IS NULL)) > 0 THEN NULL ELSE x0 END AS x
               FROM e),
         s AS (SELECT vec_id, x,
                 CASE WHEN x IS NULL THEN NULL
                      WHEN len(x) = 0 THEN 0.0
                      ELSE list_reduce(list_transform(x, v -> abs(v)), (a, b) -> greatest(a, b)) / 127.0 END AS scale
               FROM g),
         r AS (SELECT vec_id, scale,
                 CASE WHEN scale IS NULL OR scale = 0 THEN NULL
                      ELSE list_transform(generate_series(1, len(x)),
                             i -> x[i] - floor(x[i]/scale + 0.5) * scale) END AS err
               FROM s)
         SELECT vec_id, scale,
           CASE WHEN scale IS NULL THEN NULL WHEN err IS NULL THEN 0.0
                ELSE list_reduce(list_transform(err, v -> v*v), (a, b) -> a + b) / len(err) END AS mse,
           CASE WHEN scale IS NULL THEN NULL WHEN err IS NULL THEN 0.0
                ELSE list_reduce(list_transform(err, v -> abs(v)), (a, b) -> greatest(a, b)) END AS max_err
         FROM r""",
    "dedup_token_jaccard" ->
      s"""WITH ${jaccardCtes("x.doc_id < y.doc_id")}
          SELECT d1, d2, $jaccard AS jaccard
          FROM pairs JOIN sz s1 ON pairs.d1 = s1.doc_id JOIN sz s2 ON pairs.d2 = s2.doc_id
          WHERE $jaccard >= 0.8""",
    // resize re-derived on the full UTF-8 byte stream: stride keep via an
    // index lambda, order-free byte-sum checksum, integer-DIV metadata
    // rescale — every op exact in both engines
    "mm_resize" ->
      s"""WITH m AS (
           SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             text, CAST(n_chars % 640 AS INT) AS width, CAST(n_chars % 480 AS INT) AS height
           FROM documents),
         b AS (SELECT doc_id, media_type, width, height,
             $utf8Bytes AS bl FROM m),
         s AS (SELECT doc_id, media_type, width, height, bl, len(bl) AS n,
             GREATEST(1, (len(bl) + 63) // 64) AS stride FROM b),
         k AS (SELECT doc_id, media_type, width, height, n,
             list_filter(bl, (x, i) -> (i - 1) % stride = 0) AS kept FROM s)
         SELECT doc_id, media_type, CAST(n AS BIGINT) AS n_bytes,
           CAST(len(kept) AS BIGINT) AS resized_n_bytes,
           CAST(COALESCE(list_sum(kept), 0) AS BIGINT) AS byte_sum,
           CAST(CASE WHEN n > 0 THEN width * len(kept) // n ELSE 0 END AS INT) AS new_width,
           CAST(CASE WHEN n > 0 THEN height * len(kept) // n ELSE 0 END AS INT) AS new_height
         FROM k""",
    // the engine encodes a deterministic RGB recipe to REAL PNG bytes and
    // decodes them back with ImageIO; because PNG is lossless, the decoded
    // width/height/channel sums equal the generating recipe — replayed
    // here as pure modular arithmetic over pixel indices (i = y·w + x,
    // channel c value = (id·31 + i·3 + c) mod 256)
    "mm_image_decode" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h FROM documents),
         px AS (SELECT doc_id, w, h, u.i AS i
                FROM d, unnest(generate_series(0, w * h - 1)) AS u(i))
         SELECT doc_id, CAST(MIN(w) AS BIGINT) AS width, CAST(MIN(h) AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM((doc_id * 31 + i * 3 + 0) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 31 + i * 3 + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 31 + i * 3 + 2) % 256) AS BIGINT) AS sum_b
         FROM px GROUP BY doc_id""",
    // PCM WAV is lossless: the decoded amplitude stats equal the
    // generating recipe, replayed as modular arithmetic over sample index
    "mm_audio_decode" ->
      """WITH n AS (SELECT doc_id, 100 + doc_id % 211 AS ns FROM documents),
         s AS (SELECT doc_id, ns, u.i AS i
               FROM n, unnest(generate_series(0, ns - 1)) AS u(i)),
         v AS (SELECT doc_id, ns,
                 abs(((doc_id * 7 + i * 13) % 2048) - 1024) AS a FROM s)
         SELECT doc_id, CAST(MIN(ns) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(SUM(a) AS BIGINT) AS sum_abs, CAST(MAX(a) AS BIGINT) AS max_abs
         FROM v GROUP BY 1""",
    "mm_dedup_phash" -> Multimodal.oracleDedupPhashSql(),
    // truth via the canonical a<b<c three-way self-join — the engine's
    // degree-ordered orientation must reproduce it
    "graph_triangles" ->
      s"""WITH e AS (${graft.graph.PageRank.textrankEdgesSql}),
          und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e WHERE src <> dst),
          tri AS (SELECT COUNT(*) AS c FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
          SELECT
            (SELECT CAST(COUNT(*) AS BIGINT)
               FROM (SELECT a AS nd FROM und UNION SELECT b FROM und)) AS n_nodes,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
            (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles""",
    "graph_bfs" -> graft.graph.Bfs.oracleSql,
    "graph_kcore" -> graft.graph.KCore.oracleSql(),
    "graph_adamic_adar" -> graft.graph.LinkPrediction.oracleSql(),
    "sample_kcenter" -> graft.sample.KCenter.oracleSql(),
    "dedup_cdc_chunks" -> graft.dedup.CdcChunks.oracleSql(),
    "text_feature_hash" -> TextAnalysis.featureHashOracleSql(),
    "text_html_extract" -> TextAnalysis.htmlExtractOracleSql,
    "pipeline_crawl" -> graft.pipeline.CrawlPipeline.crawlFunnelOracleSql,
    "text_window_cooc" -> TextAnalysis.windowCoocOracleSql(),
    // the media payload is the UTF-8 encoding of `text`; the oracle rebuilds
    // each byte's high nibble from code points with UTF-8 arithmetic
    "mm_features" ->
      """WITH m AS (
           SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             text, CAST(strlen(text) AS BIGINT) AS n_bytes
           FROM documents),
         nb AS (
           SELECT doc_id, n.nib AS nib FROM m,
             UNNEST(flatten(list_transform(string_split(text, ''), c ->
               CASE WHEN unicode(c) < 128 THEN [unicode(c) // 16]
                    WHEN unicode(c) < 2048 THEN [12 + (unicode(c) // 1024), 8 + ((unicode(c) % 64) // 16)]
                    WHEN unicode(c) < 65536 THEN [14, 8 + (((unicode(c) // 64) % 64) // 16), 8 + ((unicode(c) % 64) // 16)]
                    ELSE [15, 8 + (((unicode(c) // 4096) % 64) // 16), 8 + (((unicode(c) // 64) % 64) // 16), 8 + ((unicode(c) % 64) // 16)]
               END))) AS n(nib))
         SELECT m.doc_id, ANY_VALUE(media_type) AS media_type, ANY_VALUE(n_bytes) AS n_bytes,
           COALESCE(COUNT(*) FILTER (nib = 0), 0) AS b0,
           COALESCE(COUNT(*) FILTER (nib = 1), 0) AS b1,
           COALESCE(COUNT(*) FILTER (nib = 2), 0) AS b2,
           COALESCE(COUNT(*) FILTER (nib = 3), 0) AS b3,
           COALESCE(COUNT(*) FILTER (nib = 4), 0) AS b4,
           COALESCE(COUNT(*) FILTER (nib = 5), 0) AS b5,
           COALESCE(COUNT(*) FILTER (nib = 6), 0) AS b6,
           COALESCE(COUNT(*) FILTER (nib = 7), 0) AS b7,
           COALESCE(COUNT(*) FILTER (nib = 8), 0) AS b8,
           COALESCE(COUNT(*) FILTER (nib = 9), 0) AS b9,
           COALESCE(COUNT(*) FILTER (nib = 10), 0) AS b10,
           COALESCE(COUNT(*) FILTER (nib = 11), 0) AS b11,
           COALESCE(COUNT(*) FILTER (nib = 12), 0) AS b12,
           COALESCE(COUNT(*) FILTER (nib = 13), 0) AS b13,
           COALESCE(COUNT(*) FILTER (nib = 14), 0) AS b14,
           COALESCE(COUNT(*) FILTER (nib = 15), 0) AS b15
         FROM m LEFT JOIN nb ON m.doc_id = nb.doc_id GROUP BY m.doc_id""",
    "mm_summary" ->
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           COUNT(*) AS n_media,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(SUM(strlen(text)) AS DOUBLE) / COUNT(*) AS avg_bytes
         FROM documents GROUP BY 1""",
    "sample_mixture" ->
      s"""WITH b AS (SELECT doc_id, lang, (${fnv32("CAST(doc_id AS VARCHAR)")} % 100) AS bucket FROM documents)
          SELECT doc_id, lang, bucket FROM b
          WHERE bucket < CASE lang WHEN 'en' THEN 90 WHEN 'fr' THEN 75 WHEN 'de' THEN 50
                                   WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END""",
    "sample_split" ->
      s"""WITH b AS (SELECT doc_id, lang, (${fnv32("CAST(doc_id AS VARCHAR)")} % 100) AS bucket FROM documents)
          SELECT doc_id, lang, bucket,
            CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
          FROM b""",
    // the identical deterministic permutation: salted full 31-bit FNV rank,
    // shard = rank mod 8, in-shard position with the same (h, doc_id) total
    // order
    "sample_shuffle" ->
      s"""WITH b AS (SELECT doc_id,
            ${fnv32("CAST(doc_id AS VARCHAR) || ':shuffle'")} AS h FROM documents)
          SELECT doc_id, h, CAST(h % 8 AS INT) AS shard,
            CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
          FROM b""",
    // temperature mixing: exact integer token counts; pow/÷ are the only
    // non-exact ops so both shares are 6-decimal rounded (the ln/TF-IDF
    // acceptance) and budget/epochs derive from the ROUNDED share
    "sample_temperature" ->
      """WITH c AS (SELECT source,
            CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
          t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                       SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS total_pow FROM c),
          s AS (SELECT source, n_tokens,
                  ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS raw_share,
                  ROUND(pow(CAST(n_tokens AS DOUBLE), 0.7) / total_pow, 6) AS temp_share
                FROM c, t)
          SELECT source, n_tokens, raw_share, temp_share,
            CAST(FLOOR(temp_share * 1000000) AS BIGINT) AS budget_tokens,
            ROUND(CAST(FLOOR(temp_share * 1000000) AS BIGINT) / CAST(n_tokens AS DOUBLE), 6) AS epochs
          FROM s""",
    // quality score re-derived (text_quality's exact arithmetic), salted
    // bucket, and the same IEEE keep comparison
    "sample_weighted" ->
      s"""WITH $qualityCountsCtes,
          q AS (SELECT doc_id, $qualityScore AS quality_score FROM s),
          b AS (SELECT doc_id, quality_score,
            (${fnv32("CAST(doc_id AS VARCHAR) || ':wq'")} % 100) AS bucket FROM q)
          SELECT doc_id, quality_score, bucket FROM b
          WHERE CAST(bucket AS DOUBLE) < quality_score * 100""",
    // the same salted-hash fate re-derived; rank semantics match the
    // TopKPerKey operator (order desc on h, ties to the smaller doc_id)
    "sample_source_cap" ->
      s"""WITH b AS (SELECT doc_id, source,
            ${fnv32("CAST(doc_id AS VARCHAR) || ':cap'")} AS h FROM documents),
          r AS (SELECT doc_id, source, h,
            CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h DESC, doc_id) AS BIGINT) AS rank
          FROM b)
          SELECT doc_id, source, h, rank FROM r WHERE rank <= 10""",
    // naive single-window truth of the engine's two-phase threshold
    // selection: identical set by the prefix-sum/boundary-layer algebra
    "sample_budget_select" ->
      s"""WITH t AS (SELECT doc_id, source, ${tokens("text")} AS tk FROM documents),
          s AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens,
              CAST(len(list_distinct(tk)) AS BIGINT) * 1000000 // CAST(len(tk) AS BIGINT) AS score
            FROM t WHERE len(tk) > 0),
          b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 5 AS budget FROM s),
          c AS (SELECT source, n_tokens,
              SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM s)
          SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sel_tokens
          FROM c, b WHERE cum <= budget GROUP BY source""",
    // Hamilton allocation re-derived on the strata table; in-stratum
    // selection by the same salted-hash rank
    "sample_stratified" ->
      s"""WITH st AS (SELECT source, lang, COUNT(*) AS n_h FROM documents GROUP BY 1, 2),
          t AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n_total FROM st),
          a0 AS (SELECT source, lang, n_h, n_total, n_total // 20 AS n_sample,
              n_h * (n_total // 20) // n_total AS base,
              (n_h * (n_total // 20)) % n_total AS rem
            FROM st, t),
          bs AS (SELECT CAST(SUM(base) AS BIGINT) AS base_sum FROM a0),
          a AS (SELECT source, lang, n_h,
              base + (CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source, lang)
                             <= n_sample - base_sum THEN 1 ELSE 0 END) AS alloc
            FROM a0, bs),
          r AS (SELECT doc_id, source, lang,
              ROW_NUMBER() OVER (PARTITION BY source, lang
                ORDER BY ${fnv32("CAST(doc_id AS VARCHAR) || ':st'")} DESC, doc_id) AS rn
            FROM documents),
          p AS (SELECT r.source, r.lang, COUNT(*) AS n_picked,
              string_agg(r.doc_id, ',' ORDER BY r.doc_id) AS members
            FROM r JOIN a ON r.source = a.source AND r.lang = a.lang
            WHERE r.rn <= a.alloc GROUP BY r.source, r.lang)
          SELECT a.source, a.lang, a.n_h, a.alloc,
            COALESCE(p.n_picked, 0) AS n_picked,
            COALESCE(p.members, '') AS members
          FROM a LEFT JOIN p ON a.source = p.source AND a.lang = p.lang""",
    // the windowed-cumsum twin of the engine's two-phase prefix sum
    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(${tokens("text")}) AS BIGINT) AS n_tokens FROM documents),
          c AS (SELECT doc_id, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
                FROM t)
          SELECT doc_id, n_tokens, token_start,
            CAST(token_start // 512 AS BIGINT) AS first_chunk,
            CAST(CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 512
                 ELSE token_start // 512 END AS BIGINT) AS last_chunk,
            (CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 512
                 ELSE token_start // 512 END) <> (token_start // 512) AS crosses_boundary
          FROM c""",
    // the payload is ASCII (strlen == byte length), so VARCHAR substring md5
    // equals Spark's binary-slice md5 byte-for-byte
    // scene cuts replay the frame offsets + byte sums from the UTF-8
    // expansion of the same payload recipe (the mm_resize byte device)
    "mm_scene_cuts" ->
      s"""WITH m AS (SELECT doc_id, text FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
         b AS (SELECT doc_id,
             $utf8Bytes AS bl FROM m),
         s AS (SELECT doc_id, bl, len(bl) AS n FROM b WHERE len(bl) > 0),
         f AS (SELECT doc_id, n, bl, unnest(range(0, 16)) AS i FROM s),
         st AS (SELECT doc_id, CAST(i AS INT) AS i,
             CAST(list_sum(list_slice(bl,
               LEAST(n * i // 16, GREATEST(n - 1, 0)) + 1,
               LEAST(LEAST(n * i // 16, GREATEST(n - 1, 0)) + 32, n))) AS BIGINT) AS stat
           FROM f),
         d AS (SELECT doc_id, i,
             ABS(stat - LAG(stat) OVER (PARTITION BY doc_id ORDER BY i)) AS delta
           FROM st),
         dd AS (SELECT doc_id, i, delta FROM d WHERE delta IS NOT NULL),
         ag AS (SELECT doc_id, COUNT(*) AS nd, SUM(delta) AS sum_delta,
                  MAX(delta) AS max_delta FROM dd GROUP BY 1),
         cuts AS (SELECT dd.doc_id,
                    COUNT(*) AS n_cuts,
                    string_agg(CAST(dd.i AS VARCHAR), ',' ORDER BY dd.i) AS cut_frames
                  FROM dd JOIN ag USING (doc_id)
                  WHERE 2 * nd * delta >= 3 * sum_delta AND delta > 0
                  GROUP BY 1)
         SELECT ag.doc_id, CAST(16 AS INT) AS n_frames,
           CAST(sum_delta AS BIGINT) AS sum_delta,
           CAST(max_delta AS BIGINT) AS max_delta,
           CAST(COALESCE(n_cuts, 0) AS BIGINT) AS n_cuts,
           COALESCE(cut_frames, '') AS cut_frames
         FROM ag LEFT JOIN cuts USING (doc_id)""",
    "mm_frame_sample" ->
      """WITH v AS (SELECT doc_id, text, strlen(text) AS len FROM documents
                    WHERE CAST(doc_id % 3 AS INT) = 2),
         f AS (SELECT doc_id, CAST(i.i AS INT) AS frame_idx,
                 CAST(LEAST(len * i.i // 4, GREATEST(len - 1, 0)) AS INT) AS byte_offset, len, text
               FROM v, (SELECT unnest(range(0, 4)) AS i) i)
         SELECT doc_id, frame_idx, byte_offset,
           CAST(LEAST(byte_offset + 32, len) - byte_offset AS BIGINT) AS n_bytes,
           md5(substring(text, byte_offset + 1, LEAST(byte_offset + 32, len) - byte_offset)) AS frame_md5
         FROM f""",
  )
}
