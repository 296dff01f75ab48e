package org.apache.spark

/** The live listener bus is package-private; the benchmark needs it to
  * wait until every job, stage and task event of an operation has been
  * delivered before it reads the counts attributed to that operation. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
