package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one private Spark hook the benchmark needs: listener events arrive
  * asynchronously, so every read of recorded progress, job or stage events
  * first waits until the listener bus has delivered everything posted so far.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
