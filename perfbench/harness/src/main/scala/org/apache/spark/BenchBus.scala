package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read after an operation include that operation's tasks
  * and queries. The bus is `private[spark]`, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
