package perfbench

/** One benchmark workload: the registered queries one pass runs, and whether
  * one client runs them or `cores` clients share the session's executor. */
final case class Workload(name: String, concurrent: Boolean, queries: Seq[String])

object Workloads {

  /** One query from every module, so each module's build and exec
    * time is measured on every workload:
    *  - relational: `q1_pricing_summary`, the query whose full result
    *    costs most over its `count()`.
    *  - dedup: `dedup_token_jaccard`, the multi-exchange candidate chain a
    *    fused set-similarity join would replace.
    *  - sim / graph: the `knnGraph` kernel and the `bipartiteEdges` scan
    *    and spread under the degree distribution.
    *  - pipeline: the crawl funnel, the module's cheaper query.
    *  - mr: the paper's inverted-index app.
    *  - text / sample: the n-gram expression site and weighted sampling.
    * The order is the cycle every pass follows. The list is sized so one
    * warm pass takes about five seconds at sf0.01 on 4 cores: every run
    * pays a cold JVM, three set-ups and two timed passes.
    */
  val mix: Seq[String] = Seq(
    "q1_pricing_summary",
    "dedup_token_jaccard",
    "sim_knn_graph",
    "graph_degree_dist",
    "pipeline_crawl",
    "mr_inverted_index",
    "text_top_ngrams",
    "sample_weighted",
  )

  val all: Seq[Workload] = Seq(
    // one closed-loop client: the latency path of each query
    Workload("mixed_serial", concurrent = false, mix),
    // one closed-loop client per core, each on its own session: work that
    // looks free serially (extra tasks, idle cores) costs throughput here
    Workload("mixed_concurrent", concurrent = true, mix),
  )

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** The module a registered query is built by, from its registry prefix
    * (`q<N>_…` is the relational TPC-H family). */
  def module(query: String): String =
    if (query.matches("q\\d+_.*")) "relational" else query.takeWhile(_ != '_')

  val modules: Seq[String] =
    Seq("relational", "dedup", "sim", "graph", "pipeline", "mr", "text", "sample")
}
