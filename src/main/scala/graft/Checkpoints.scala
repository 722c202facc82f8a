package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of how long a pinned intermediate lives. A frame that
  * several consumers read is pinned as an eager `localCheckpoint(true)`,
  * and one rule decides when its blocks go:
  *
  *  - the plan the builder RETURNS reads it: [[track]] it, and the
  *    harnesses ([[Verify]], `perfbench`, and through `tools.Harness` the
  *    `ClusterSmoke`, chaos and plan-dump tools) drain the ledger with
  *    [[releaseTracked]] between queries, once the
  *    previous result is materialized and no query is in flight on any
  *    session of this JVM;
  *  - only the builder reads it: [[release]] it in that builder once its
  *    last reader has run.
  *
  * A checkpoint on neither path stays pinned until a ContextCleaner GC:
  * non-fault-tolerant executor blocks that pile up over repeated queries
  * and are corpus-sized at 100 TB. A `persist()` is only for a cache that
  * its own function unpersists in a `finally`.
  *
  * Thread-safe: streaming specs build frames from listener threads.
  */
object Checkpoints {
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Register an eager checkpoint that the returned plan reads, for
    * release at the next drain; returns it for inline use. `ds` must
    * satisfy [[release]]'s precondition. */
  def track[T](ds: Dataset[T]): Dataset[T] = { pending.add(ds); ds }

  /** Unpersist the block set behind an eager `localCheckpoint(true)` frame.
    * `Dataset.unpersist` only talks to the CacheManager and a checkpointed
    * frame is not registered there; the blocks belong to the `LogicalRDD`
    * leaf the checkpoint left in the plan.
    *
    * PRECONDITION: `ds` must be exactly the frame an eager localCheckpoint
    * returned — its analyzed plan a single `LogicalRDD` leaf. Anything
    * derived from MULTIPLE checkpointed inputs is rejected rather than
    * risk unpersisting non-recomputable blocks a sibling frame still needs
    * ("Checkpoint block not found" much later, far from the cause). */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "Checkpoints.release expects a frame whose plan is a single " +
          s"LogicalRDD checkpoint leaf, got: ${other.nodeName}")
    }

  /** Release every tracked frame's checkpoint blocks. Safe at any query
    * boundary with no query in flight: tracked frames belong to COMPLETED
    * builder calls, and a re-invoked builder registers fresh frames. */
  def releaseTracked(): Unit = {
    var ds = pending.poll()
    while (ds != null) {
      try release(ds)
      catch { case scala.util.control.NonFatal(_) => () }
      ds = pending.poll()
    }
  }
}
