package org.apache.spark

/** The one package-private Spark call the benchmark harness needs: block
  * until every posted listener event has been delivered, so task metrics
  * read after a pass include all of that pass's tasks.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
