package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev-only plan tap for ITERATIVE operators (CC, PageRank, BFS, k-core):
  * their registered queries' terminal plans are checkpoint scans, so the
  * per-round join/aggregate shapes — where the broadcast-below-cutover and
  * ReuseExchange claims live — never appear in a query's terminal plan. The
  * operators tap each round's frame here before materializing it; with no
  * sink installed (every production/bench path) the tap is a null check and
  * nothing else. [[PlanDump]] installs a sink to commit representative
  * mid-iteration plans under `plans/rNN/`, and plan-shape specs install one
  * to assert round invariants (e.g. the CC union-agg subtree planning
  * exactly one shared exchange). */
object PlanProbe {
  @volatile private var sink: (String, DataFrame) => Unit = null

  /** Run `body` with `f` installed as the sink, restoring the previous sink
    * however `body` exits — a throwing caller cannot leave a tap behind to
    * fire inside later, unrelated queries. */
  def withSink[T](f: (String, DataFrame) => Unit)(body: => T): T = {
    val prev = sink
    sink = f
    try body finally sink = prev
  }

  /** Tag convention: `<op>round_<n>`. No-op unless a sink is installed. */
  @inline def tap(tag: String, df: => DataFrame): Unit = {
    val s = sink
    if (s != null) s(tag, df)
  }
}
