package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The listener bus's drain and post are Spark-internal; the benchmark
  * drains so that counters read after a phase include every event of that
  * phase, and posts its own events so that they arrive in order with the
  * engine's. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
