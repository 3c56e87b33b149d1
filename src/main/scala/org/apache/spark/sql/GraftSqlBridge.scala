package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion — the
  * standard hook an external Spark-native library needs to expose
  * custom Catalyst expressions as `Column`s without requiring session
  * level extension config (the harness may hand us a session we did
  * not build). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a concrete Catalyst
    * expression (ExpressionUtils.expression returns a LAZY
    * ColumnNodeExpression wrapper that only materializes during
    * analysis — useless for driver-side inspection, e.g. manifest
    * file skipping). */
  def resolved(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The ANALYZED logical plan of a DataFrame — resolved attributes
    * with stable expression ids, the form custom logical nodes must
    * be built from. */
  def analyzed(df: Dataset[Row]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Wrap a (custom) logical plan back into a DataFrame. */
  def ofRows(
      spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently install a planner strategy on a RUNNING session —
    * `experimental.extraStrategies` is the public hook; extensions
    * config only applies at session build time. */
  def installStrategy(
      spark: SparkSession,
      strategy: execution.SparkStrategy): Unit = {
    val e = spark.asInstanceOf[classic.SparkSession].experimental
    if (!e.extraStrategies.contains(strategy))
      e.extraStrategies = e.extraStrategies :+ strategy
  }

  /** Register a SQL function on an ALREADY-RUNNING session (the
    * extensions config only applies at session build time, and the
    * harness may hand us its own session). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The schema checks `df.write` makes before a file-format write
    * that `FileFormatWriter.write` itself does not: no empty (or
    * nested-empty) struct, and no duplicate column names under the
    * session's case sensitivity. */
  def checkWritableSchema(
      spark: SparkSession, format: String, schema: types.StructType): Unit = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    execution.datasources.DataSource.validateSchema(format, schema, conf)
    util.SchemaUtils.checkColumnNameDuplication(
      schema.map(_.name), conf.caseSensitiveAnalysis)
  }

  /** Cancel every job tagged `tag`, then return once the scheduler has
    * processed the cancellation and the listener bus has delivered
    * every event posted before it. Task start events go through the
    * scheduler's event loop in launch order, so a listener then has
    * seen the start of every task a job of the tag launched before it
    * ended. */
  def cancelAndDrain(sc: org.apache.spark.SparkContext, tag: String, reason: String): Unit = {
    scala.concurrent.Await.result(
      sc.cancelJobsWithTagWithFuture(tag, reason),
      scala.concurrent.duration.Duration(60, "s"))
    drainListeners(sc)
  }

  /** Return once the listener bus has delivered every event posted so
    * far. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
