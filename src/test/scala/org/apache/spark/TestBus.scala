package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * listener read right after a call sees that call's job starts (the
  * listener bus delivers asynchronously). The bus is package-private to
  * Spark, hence this file's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
