package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that a run's last job and task events are counted before
  * the per-layer figures are computed.
  */
object MoverbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
