package org.apache.spark.sql.graftshims

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Minimal bridge to two `private[sql]` seams that every Spark extension
 * library needs: wrapping a Catalyst Expression as a Column, and registering
 * native (non-UDF, codegen-capable) functions on an already-built session.
 * Same approach as spark-packages (e.g. sedona, delta) use; no Spark
 * internals are modified.
 */
object GraftShims {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def functionExists(spark: SparkSession, name: String): Boolean = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))
  }

  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: FunctionBuilder): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
  }

  def tableFunctionExists(spark: SparkSession, name: String): Boolean = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.tableFunctionRegistry
      .functionExists(FunctionIdentifier(name))
  }

  /** Table-valued function registration (FROM clause) on a built session —
    * the seam `injectTableFunction` uses at extension time. */
  def registerTableFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.tableFunctionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
  }

  /** The analyzed plan of a frame — embeddable into another query during
    * analysis (what a TVF builder must return). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A DataFrame over an already-materialized internal RDD, with the
    * partitioning, ordering and constraints `Dataset.localCheckpoint`
    * gives it (`LogicalRDD.fromDataset`) but the statistics the caller
    * MEASURED while materializing it. `fromDataset` copies the origin
    * plan's optimizer estimate, which for a join origin is the product of
    * its inputs' sizes — so the measured bytes are what lets Catalyst
    * pick broadcast for a small checkpointed frame. */
  def checkpointedFrom(
      origin: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      sizeInBytes: Long,
      rowCount: Long): org.apache.spark.sql.DataFrame = {
    val classic = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val lr = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, classic, isStreaming = false)
    val measured = org.apache.spark.sql.catalyst.plans.logical
      .Statistics(sizeInBytes, rowCount = Some(rowCount))
    org.apache.spark.sql.classic.Dataset.ofRows(classic.sparkSession,
      lr.copy()(classic.sparkSession, Some(measured), Some(lr.constraints)))
  }

  /** Drain the async listener bus: block until every queued event has been
    * delivered (or the timeout passes — best-effort, never throws). The
    * profiling tools read listener-fed counters right after an action;
    * a fixed sleep undercounts under load and lets one rep's async sweep
    * events bleed into the next rep's counters. */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMillis: Long): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: Throwable => () }

  /** A DataFrame over an already-analyzed logical plan — the inverse seam:
    * a rewritten SQL command (MERGE INTO → log merge) hands its resolved
    * source subtree back to the DataFrame API at execution time. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
