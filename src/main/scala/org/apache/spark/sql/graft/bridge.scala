package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Column↔Expression conversion — the
  * supported way to surface a custom Catalyst `Expression` through the
  * Column API without registering a SQL function (Spark 4.x moved Column
  * internals behind the classic ColumnNode layer).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a hand-built LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — the entry point for custom logical operators.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over rows already in Catalyst form
    * (`internalCreateDataFrame` is `private[sql]`): a source that builds
    * `InternalRow`s itself skips the `Row` encoder round trip.
    */
  def ofInternalRows(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** The analyzed plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The session planner's strategies — including those injected through
    * `SparkSessionExtensions` (`spark.sql.extensions`), which are
    * invisible to `spark.experimental.extraStrategies` (the planner is
    * `private[sql]`, hence this lives in the bridge).
    */
  def plannerStrategies(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies

  /** Drain the listener bus (`listenerBus` is `private[spark]`) — a
    * probe reading metrics accumulated by a SparkListener must flush
    * in-flight events before the read, or the assertion races the bus. */
  def waitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Eagerly convert a Column to a catalyst Expression (the plain
    * [[expression]] returns a LAZY ColumnNode wrapper that only the
    * Dataset-API operators convert during their own construction — inside a
    * hand-built LogicalPlan it survives to execution and fails as
    * Unevaluable). Attribute references come back as `UnresolvedAttribute`s
    * for the caller to bind against a child plan.
    */
  def eagerExpression(c: Column): Expression =
    ExpressionUtils.expression(c) match {
      case e if e.getClass.getSimpleName == "ColumnNodeExpression" =>
        org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
      case e => e
    }
}
