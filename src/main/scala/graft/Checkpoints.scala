package graft

import org.apache.spark.sql.DataFrame

/** Session-level ledger for eager `localCheckpoint(true)` frames whose
  * blocks must OUTLIVE the builder function that made them — either the
  * returned result itself (PageRank's final ranks) or an input a lazily
  * returned plan still references (the LSH signature frame all of
  * `pairsFrame`'s consumers share). Builders that can release eagerly do
  * (the `ccIterate` round discipline); the ones that cannot register here,
  * and the harnesses ([[Verify]], `perfbench`) drain the ledger between
  * queries, once the previous query's result is materialized. Without the
  * drain, repeated bench invocations accumulate non-fault-tolerant
  * executor storage blocks that only ContextCleaner GC would free — at
  * 100 TB those are corpus-sized pins.
  *
  * Thread-safe (Verify is single-threaded over queries, but
  * streaming specs build frames from listener threads).
  */
object Checkpoints {
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register an eager-localCheckpoint frame for deferred release; returns
    * the frame for inline use. `df` must satisfy
    * [[graft.dedup.Dedup.releaseLocalCheckpoint]]'s single-LogicalRDD
    * precondition. */
  def track(df: DataFrame): DataFrame = { pending.add(df); df }

  /** Release every tracked frame's checkpoint blocks. Safe to call at any
    * query boundary: tracked frames belong to COMPLETED builder calls, and
    * a re-invoked builder registers fresh frames. */
  def releaseTracked(): Unit = {
    var df = pending.poll()
    while (df != null) {
      try graft.dedup.Dedup.releaseLocalCheckpoint(df)
      catch { case scala.util.control.NonFatal(_) => () }
      df = pending.poll()
    }
  }
}
