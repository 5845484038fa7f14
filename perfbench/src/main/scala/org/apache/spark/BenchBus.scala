package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: the
  * traced run must see every job, stage, task and query event of an
  * op before it turns them into per-layer figures. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
