package org.apache.spark

/** The one private hook the benchmark needs: block until every event
  * posted so far has reached every listener, so a listener can be detached
  * without losing the tail of the pass it observed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
