package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * listener read right after an action sees that action's task and stage
  * ends (the listener bus delivers asynchronously). The bus is
  * package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
