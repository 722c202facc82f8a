package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{Cosine6Expr, Fnv32Expr, FingerprintTokensExpr, GramStatsExpr, MinHashSigExpr, MinHashTokensExpr, PosEqCountExpr, ShingleHashesExpr, SimHashTokensExpr, SortedIntersectCountExpr, Sq8StatsExpr}

/** Session-extensions entry point: makes the engine's native expressions
  * available to pure-SQL users at session build time —
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)              // programmatic
  *   // or spark.sql.extensions=graft.GraftExtensions    // config-driven
  *
  * Injected functions: every row of [[GraftExtensions.Functions]].
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
    GraftExtensions.Functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.name + f.usage, ""),
        arity(f.name, f.arity)(f.build)))
    }
  }
}

object GraftExtensions {

  /** One `graft_*` SQL function: name, argument count, usage (after the
    * name) and the builder of its expression. */
  private[graft] final case class Fn(name: String, arity: Int, usage: String,
                                     build: Seq[Expression] => Expression)

  /** Every `graft_*` SQL function, the one place such a name is bound. */
  private[graft] val Functions: Seq[Fn] = Seq(
    Fn("graft_fnv32", 1, "(str) - FNV-1a 32-bit hash masked to 31 bits.",
      c => Fnv32Expr(c(0))),
    Fn("graft_minhash_sig", 1, "(shingles) - 64-perm MinHash signature.",
      c => MinHashSigExpr(c(0))),
    Fn("graft_minhash_tokens", 1, "(tokens) - fused 3-shingle MinHash signature.",
      c => MinHashTokensExpr(c(0), 3)),
    Fn("graft_pos_eq_count", 2, "(a, b) - position-wise equality count of two " +
      "array<bigint> (MinHash signature agreement).",
      c => PosEqCountExpr(c(0), c(1))),
    Fn("graft_simhash_tokens", 1, "(tokens) - 64-bit SimHash (char-FNV per token, " +
      "per-bit majority).",
      c => SimHashTokensExpr(c(0))),
    Fn("graft_fingerprint_tokens", 1, "(tokens) - rolling char-FNV 5-shingle " +
      "fingerprints kept at hash % 4 == 0, distinct+sorted.",
      c => FingerprintTokensExpr(c(0), 5, 4)),
    Fn("graft_shingle_hashes", 1, "(tokens) - sorted distinct char-FNV64 hashes of " +
      "all 3-shingles.",
      c => ShingleHashesExpr(c(0), 3)),
    Fn("graft_sorted_intersect_count", 2, "(a, b) - |A ∩ B| of two ascending " +
      "duplicate-free arrays.",
      c => SortedIntersectCountExpr(c(0), c(1))),
    Fn("graft_gram_stats", 1, "(tokens) - [g2_max, g2_n, g3_n, g3_d] bigram/trigram " +
      "repetition stats.",
      c => GramStatsExpr(c(0))),
    Fn("graft_sq8_stats", 1, "(embedding) - [scale, mse, max_err] of int8 scalar " +
      "quantization.",
      c => Sq8StatsExpr(c(0))),
    Fn("graft_cosine6", 2, "(a, b) - exact-order cosine of two array<double>, " +
      "rounded to 6 decimals.",
      c => Cosine6Expr(c(0), c(1))))
}
