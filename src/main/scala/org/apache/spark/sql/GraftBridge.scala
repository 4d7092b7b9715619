package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column↔Expression converters
  * (Spark 4 wraps Column around ColumnNode; custom Catalyst expressions
  * need these two hops). Lives in the org.apache.spark.sql package for
  * access — the standard shim pattern for Spark extensions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function on a live session (the per-session analog of
    * the GraftExtensions injection used at cluster deploy time). */
  def registerFunction(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Free the executor blocks behind a `localCheckpoint()`ed DataFrame.
    * A local checkpoint's data IS its persisted blocks (lineage is
    * truncated at checkpoint time), so only call this once the DataFrame
    * — and everything derived from it — is no longer needed; a later
    * action on it would fail rather than recompute. No-op on plans that
    * are not checkpoint-backed. */
  def unpersistLocalCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.foreach {
      case r: execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }
}
