package org.apache.spark

/** Lives in Spark's package only to reach the listener bus: the benchmark
  * reads its listeners' tallies after every pass, and `waitUntilEmpty`
  * returns once every event posted so far has been delivered, so no count
  * depends on a sleep. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
