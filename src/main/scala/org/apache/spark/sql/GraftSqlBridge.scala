package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal interop shim: Spark 4 made the Column↔Expression converters
  * (`classic.ExpressionUtils`) private[sql]; a library adding NATIVE
  * Catalyst expressions (graft.functions.WordCountExpression) still needs
  * them. This is the standard in-package bridge pattern — one-line
  * delegations, no behavior. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` re-rooted at a leaf over its executed rows, keeping its
    * statistics and output partitioning: what `localCheckpoint` builds,
    * minus the checkpoint. Over a filled cache the leaf reads the cached
    * rows, and later plans built on it no longer nest `df`'s lineage. */
  def truncatePlan(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(d.sparkSession,
      execution.LogicalRDD.fromDataset(d.queryExecution.toRdd, d, isStreaming = false))
  }

  /** Block until every event posted so far has reached every listener, or
    * throw `TimeoutException` after `timeoutMs` (the bus is private[spark]). */
  def drainListeners(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Register a native Expression builder on an EXISTING session (the
    * extensions path only applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
