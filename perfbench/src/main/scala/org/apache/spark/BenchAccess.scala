package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener queue has delivered the events posted so far, so that counters
  * read at a pass boundary hold that pass's jobs, tasks and progress. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
