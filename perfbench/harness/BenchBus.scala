package org.apache.spark

/** The one private[spark] hook the benchmark needs: wait until every
  * queued listener event has been delivered, so the counters read after
  * a timed call cover all of that call's jobs, stages and tasks.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
