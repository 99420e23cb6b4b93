package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * every posted listener event has been delivered, so counters read after
  * a phase include all of its jobs and tasks. */
object E2eBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
