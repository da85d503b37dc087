package org.apache.spark

/** Waits until every event posted so far has been delivered to the
  * listeners. Lives in Spark's package because the live listener bus is
  * `private[spark]`; the traced run needs it so that each query's jobs,
  * tasks, blocks and stream progress are charged to that query. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
