package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * the listener bus has delivered every event posted so far, so a
  * traced run's job, task and progress records are complete before
  * they are aggregated. */
object PerfbenchInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
