package graft.tools

import java.util.{Map => JMap}

import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.TaskContext

/** Whole-surface crash injection — the Spark expression of the reference's
  * crash loop (`test-mr.sh` crash tests + `crash.go maybeCrash`: workers
  * randomly dying under load the entire run), generalized from the MR
  * family's app-level wrappers (`Probes.chaosLoop`) to EVERY task of EVERY
  * query: an executor plugin whose `onTaskStart` hook decides from
  * hash(seed, stageId, partitionId, attemptNumber) to kill the attempt
  * (30% of attempts, `Pct`) or stall up to 200 ms at start (reordering stress).
  *
  * The kill mechanism: `ExecutorPluginContainer` SWALLOWS exceptions
  * thrown by the hook itself (found empirically — "Exception while
  * calling onTaskStart" is logged and the task proceeds), so the hook
  * instead registers a `TaskCompletionListener` that throws: completion-
  * listener failures DO fail the task, after its body ran but before its
  * result is reported — a worker dying between doing the work and
  * acking it, the nastiest point in the reference's crash window (the
  * work must be redone AND any side effects must have been invisible).
  * The scheduler then retries on the other executor. Attempts at or
  * beyond `MaxInjected` (2) are left clean so the job always
  * completes (the reference's loop likewise never kills the coordinator);
  * byte-equality with the fault-free run is the assertion
  * ([[ChaosSweep]]).
  *
  * Config: `spark.graft.chaos.seed` (long). */
class ChaosPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null

  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    @volatile private var seed = 0L

    override def init(ctx: org.apache.spark.api.plugin.PluginContext,
                      extraConf: JMap[String, String]): Unit = {
      seed = ctx.conf.getLong("spark.graft.chaos.seed", 0L)
    }

    override def onTaskStart(): Unit = {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() < ChaosPlugin.MaxInjected) {
        val h = ChaosPlugin.decisionHash(seed, tc.stageId(), tc.partitionId(),
          tc.attemptNumber())
        if (h < ChaosPlugin.Pct) {
          val msg = s"[chaos] injected death: stage ${tc.stageId()} " +
            s"task ${tc.partitionId()} attempt ${tc.attemptNumber()} seed $seed"
          tc.addTaskCompletionListener(new org.apache.spark.util.TaskCompletionListener {
            override def onTaskCompletion(ctx: TaskContext): Unit =
              throw new RuntimeException(msg)
          }): Unit
        }
        if (h >= 80) Thread.sleep(h % 200L) // crash.go's stall branch
      }
    }
  }
}

object ChaosPlugin {
  /** Share of task attempts killed, in percent. */
  private val Pct = 30
  /** Attempts from this number on run clean; keep < spark.task.maxFailures. */
  private val MaxInjected = 2

  /** Deterministic per-(seed, stage, partition, attempt) decision in
    * [0, 100), folded through the splitmix64 finalizer: the FNV fold of
    * Probes.chaosHash mixes tiny consecutive ints poorly (its top bits land
    * on multiples of 4, so a 3-task query could draw zero deaths at 30%);
    * splitmix avalanches. */
  def decisionHash(seed: Long, stage: Int, partition: Int, attempt: Int): Int = {
    import graft.sim.Similarity.mix64
    java.lang.Math.floorMod(mix64(mix64(mix64(mix64(seed) ^ stage) ^ partition) ^ attempt), 100L).toInt
  }
}
