package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. `classic.ExpressionUtils` is `private[sql]` in Spark 4, so the
  * Column↔Expression conversion has to be re-exported from inside the
  * `org.apache.spark.sql` package — the standard technique for libraries
  * that inject native expressions without going through the SQL parser.
  * This file contains no logic of its own.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan of `df`, and a frame over a logical plan
    * (`classic.Dataset.ofRows` is `private[sql]`) — how an operator with
    * its own logical node hands it to the DataFrame API. */
  def analyzed(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
  def frame(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Whether `c` is syntactically a call to one of `names` (lower-case).
    * Spark 4 Columns carry a ColumnNode AST (`UnresolvedFunction` for the
    * `functions._` builders), only convertible to Catalyst at analysis —
    * so callers that need to special-case e.g. a map `element_at` lookup
    * must inspect the node, not the Catalyst expression. */
  def isFunctionCall(c: Column, names: Set[String]): Boolean = c.node match {
    case f: internal.UnresolvedFunction => names.contains(f.functionName.toLowerCase)
    case _ => false
  }

  /** Whether `c` is an extraction (`col("m").getItem(k)` / `col("m")(k)` /
    * `getField`) — the other syntactic shape of a map lookup. */
  def isExtractValue(c: Column): Boolean = c.node match {
    case _: internal.UnresolvedExtractValue => true
    case _ => false
  }

  /** Unload every loaded state-store provider (and the files + checkpoint
    * -manager pool each holds). `StateStore` is `private[sql]`; suite
    * drivers that run many stateful streaming queries in one JVM call this
    * between queries instead of waiting on the lazy maintenance eviction.
    * Providers reload transparently on the next stateful query. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** Drain the async listener bus (`private[spark]`) so a listener reads a
    * settled counter, not a racing one. */
  private def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)

  /** `body`'s value and the number of Spark jobs started while it ran — the
    * one job counter (`Probe jobcount`, the specs). The bus is drained
    * before the listener is added, so no earlier call's job is counted, and
    * again before the count is read, so none of `body`'s is missed. */
  def countJobs[T](sc: org.apache.spark.SparkContext)(body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drainListenerBus(sc)
      (out, n.get())
    } finally sc.removeSparkListener(listener)
  }
}
