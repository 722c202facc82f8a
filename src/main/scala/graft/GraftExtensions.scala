package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{Cosine6Expr, Fnv32Expr, FingerprintTokensExpr, GramStatsExpr, MinHashSigExpr, MinHashTokensExpr, ShingleHashesExpr, SimHashTokensExpr, SortedIntersectCountExpr, Sq8StatsExpr}

/** Session-extensions entry point: makes the engine's native expressions
  * available to pure-SQL users at session build time —
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)              // programmatic
  *   // or spark.sql.extensions=graft.GraftExtensions    // config-driven
  *
  * Injected functions:
  *   - graft_fnv32(string): the reference's bucket router hash
  *   - graft_minhash_sig(array<string>): MinHash signature of shingles
  *   - graft_minhash_tokens(array<string>): fused shingle+MinHash from tokens
  *   - graft_simhash_tokens(array<string>): 64-bit SimHash of the token multiset
  *   - graft_fingerprint_tokens(array<string>): winnowing-style w=5 mod-4
  *     rolling-hash fingerprints
  *   - graft_shingle_hashes(array<string>): sorted distinct char-FNV64
  *     3-shingle hashes (the hashed shingle-set form the verifiers use)
  *   - graft_sorted_intersect_count(array, array): |A ∩ B| of two sorted
  *     duplicate-free arrays (string or bigint) by two-pointer merge
  *   - graft_gram_stats(array<string>): [g2_max, g2_n, g3_n, g3_d]
  *     repetition statistics (Gopher filters' per-document facts)
  *   - graft_sq8_stats(array<float|double>): [scale, mse, max_err] of the
  *     int8 scalar quantization of an embedding
  *   - graft_cosine6(array<double>, array<double>): exact-order cosine
  *     rounded to the 6-decimal cross-engine surface
  *
  * Injected rules:
  *   - [[graft.plans.AsOfJoinRule]]: expands the [[graft.plans.AsOfJoinPlan]]
  *     logical operator (see `graft.plans.AsOf.join`) into its linear
  *     union+window physical shape
  *
  * Injected planner strategies:
  *   - [[graft.plans.TopKStrategy]]: per-key top-k (`graft.plans.TopK.perKey`)
  *   - [[graft.plans.SetSimJoinStrategy]]: the prefix-filter token-set
  *     Jaccard join (`graft.plans.SetSimJoin.jaccard`)
  *   - [[graft.plans.KnnJoinStrategy]]: the block-partitioned exact kNN
  *     join (`graft.plans.KnnJoin.edges`)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Wrong argument count must be a clean analysis error, not an
    * IndexOutOfBoundsException out of the builder. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children =>
      if (children.size == n) build(children)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> children.size.toString, "docroot" -> ""))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(session => new graft.plans.AsOfJoinRule(session))
    // physical tier: TopKPerKeyPlan → TopKFinalExec(TopKPartialExec(...))
    ext.injectPlannerStrategy(_ => new graft.plans.TopKStrategy)
    // SetSimJoinPlan → SetSimJoinExec(SetSimPrefixExec(...))
    ext.injectPlannerStrategy(_ => new graft.plans.SetSimJoinStrategy)
    // KnnJoinPlan → KnnMergeExec(KnnBlockExec(Exchange(KnnChunkExec(...))))
    ext.injectPlannerStrategy(_ => new graft.plans.KnnJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("graft_fnv32"),
      info("graft_fnv32", "graft_fnv32(str) - FNV-1a 32-bit hash masked to 31 bits."),
      arity("graft_fnv32", 1)(c => Fnv32Expr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "graft_minhash_sig(shingles) - 64-perm MinHash signature."),
      arity("graft_minhash_sig", 1)(c => MinHashSigExpr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_tokens"),
      info("graft_minhash_tokens", "graft_minhash_tokens(tokens) - fused 3-shingle MinHash signature."),
      arity("graft_minhash_tokens", 1)(c => MinHashTokensExpr(c.head, 3))))
    ext.injectFunction((
      FunctionIdentifier("graft_pos_eq_count"),
      info("graft_pos_eq_count", "graft_pos_eq_count(a, b) - position-wise equality count of two array<bigint> (MinHash signature agreement)."),
      arity("graft_pos_eq_count", 2)(c => graft.functions.PosEqCountExpr(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_tokens"),
      info("graft_simhash_tokens", "graft_simhash_tokens(tokens) - 64-bit SimHash (char-FNV per token, per-bit majority)."),
      arity("graft_simhash_tokens", 1)(c => SimHashTokensExpr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint_tokens"),
      info("graft_fingerprint_tokens", "graft_fingerprint_tokens(tokens) - rolling char-FNV 5-shingle fingerprints kept at hash % 4 == 0, distinct+sorted."),
      arity("graft_fingerprint_tokens", 1)(c => FingerprintTokensExpr(c.head, 5, 4))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", "graft_shingle_hashes(tokens) - sorted distinct char-FNV64 hashes of all 3-shingles."),
      arity("graft_shingle_hashes", 1)(c => ShingleHashesExpr(c.head, 3))))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_count"),
      info("graft_sorted_intersect_count", "graft_sorted_intersect_count(a, b) - |A ∩ B| of two ascending duplicate-free arrays."),
      arity("graft_sorted_intersect_count", 2)(c => SortedIntersectCountExpr(c(0), c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_stats"),
      info("graft_gram_stats", "graft_gram_stats(tokens) - [g2_max, g2_n, g3_n, g3_d] bigram/trigram repetition stats."),
      arity("graft_gram_stats", 1)(c => GramStatsExpr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("graft_sq8_stats"),
      info("graft_sq8_stats", "graft_sq8_stats(embedding) - [scale, mse, max_err] of int8 scalar quantization."),
      arity("graft_sq8_stats", 1)(c => Sq8StatsExpr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine6"),
      info("graft_cosine6", "graft_cosine6(a, b) - exact-order cosine of two array<double>, rounded to 6 decimals."),
      arity("graft_cosine6", 2)(c => Cosine6Expr(c(0), c(1)))))
  }
}
