package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cache lifecycle for queries whose plans reference a persisted frame more
  * than once (Spark never dedups common subplans): persist LAZILY at
  * construction so the caller's single action materializes the cache
  * in-line, then release the blocks as soon as that action completes —
  * instead of leaking them until ContextCleaner GC, which taxes every
  * neighboring query's memory (measured: 0.1 → 0.8 s inflation on bench
  * neighbors before this existed).
  */
object CacheLifecycle {

  /** Unpersist `frames` after the NEXT query action (success or failure) on
    * `spark`, then unregister — a one-shot listener, so each query
    * constructor pays for exactly its own caches. The query constructors
    * that use this stay fully lazy (no eager count at construction).
    *
    * Contract for callers of the query constructors: run the action on the
    * returned frame before constructing the next query on the same session —
    * an interleaved foreign action would release these caches early, which
    * only costs recompute (never correctness). Verify and perfbench both
    * construct-then-act per query, satisfying this.
    */
  def releaseAfterNextAction(spark: SparkSession, frames: Dataset[_]*): Unit = {
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private val done = new AtomicBoolean(false)
      private def release(): Unit = if (done.compareAndSet(false, true)) {
        frames.foreach(_.unpersist(blocking = false))
        spark.listenerManager.unregister(this)
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = release()
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = release()
    }
    spark.listenerManager.register(listener)
  }
}
