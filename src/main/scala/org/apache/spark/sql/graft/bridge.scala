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

  /** Load the cache entry `df` is persisted under — one job over its
    * cached batches, where a query's own scan would first run the same
    * job as a separate table-cache stage — and return its measured
    * in-memory size; None when `df` is not cached. */
  def loadCache(df: org.apache.spark.sql.DataFrame): Option[BigInt] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).map { c =>
      val rel = c.cachedRepresentation
      if (!rel.cacheBuilder.isCachedColumnBuffersLoaded)
        rel.cacheBuilder.cachedColumnBuffers.count()
      rel.computeStats().sizeInBytes
    }
  }

  /** The session's parsed `spark.sql.autoBroadcastJoinThreshold` (bytes;
    * negative disables broadcasting). */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** `c IN values` over `df`'s rows as an `InSet` whatever the set's
    * size: the set is one reference in generated code (an `In` over few
    * primitive literals would inline them, compiling a new class for
    * every new set), and a scan still pushes it down. Values are external
    * (`Long`, `String`, ...), of `c`'s type; a null matches nothing. An
    * `InSet` over an int, short, byte or date column compiles to a
    * `switch` that inlines its values, so those compare as decimal
    * strings (of the day number for a date): an injective cast the
    * optimizer cannot unwrap, as it does a widening to long; no
    * pushdown. */
  def inSet(df: org.apache.spark.sql.DataFrame, c: Column,
      values: Iterable[Any]): Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val vs = values.filter(_ != null).map(
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst)
    val (child, set) = df.select(c).schema.head.dataType match {
      case IntegerType | ShortType | ByteType =>
        (c.cast(StringType), vs.map(v => UTF8String.fromString(v.toString)))
      case DateType =>
        (org.apache.spark.sql.functions.unix_date(c).cast(StringType),
          vs.map(v => UTF8String.fromString(v.toString)))
      case _ => (c, vs)
    }
    column(org.apache.spark.sql.catalyst.expressions.InSet(expression(child),
      set.toSet))
  }

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
