package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions so
  * graft's custom Catalyst expressions (e.g. the codegen'd PolyHash) can
  * be exposed as ordinary `Column`s. Lives under org.apache.spark.sql
  * solely for access; contains no Spark-internal logic of its own.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-tag a batch DataFrame's rows as a STREAMING frame — the shape a
    * V1 streaming `Source.getBatch` must return (the engine asserts
    * `isStreaming` on the plan; FileStreamSource and DeltaSource use
    * the same `internalCreateDataFrame(_, _, isStreaming = true)`
    * bridge, which is `private[sql]`).
    */
  def streamingDataFrame(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The inverse re-tag: a streaming micro-batch frame (the one a V1
    * `Sink.addBatch` receives, backed by an IncrementalExecution that
    * refuses batch actions) as an ordinary BATCH frame over the same
    * rows — FileStreamSink/DeltaSink's discipline for writing a batch
    * from inside a sink.
    */
  def batchDataFrame(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)

  /** Wrap an already-analyzed logical plan as a DataFrame (the
    * `private[sql]` Dataset.ofRows) — the SQL MERGE rule hands the
    * statement's resolved source plan to the library merge this way.
    */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's V2 catalog plugin by name (CatalogManager is
    * `private[sql]`) — the MV DDL commands resolve `cat.ns.view`
    * identifiers the same way Spark's own analyzer does. Throws
    * `CatalogNotFoundException` for an unregistered name.
    */
  def catalogPlugin(spark: SparkSession, name: String)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.sessionState.catalogManager.catalog(name)

  /** `StructType.asNullable` is `private[sql]` — exposed for the
    * manifest-backed scan paths, whose explicit dataSchema must be
    * nullable (the vectorized parquet reader refuses a REQUIRED column
    * missing from an additively-evolved old file's footer).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** The session's CURRENT catalog plugin (for 2-part MV identifiers). */
  def currentCatalog(spark: SparkSession)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.sessionState.catalogManager.currentCatalog

  /** Drain the async listener bus (`private[spark]`) so a just-finished
    * action's task-end events have all been delivered before the bench
    * reads its task-time accumulator — the zero-sleep alternative to a
    * fixed drain pause per timed rep.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A new directory `<java.io.tmpdir>/<prefix>-<uuid>` for a query's
    * scratch warehouse, created through Spark's `private[spark]`
    * `Utils.createTempDir`, which registers it with Spark's shutdown
    * hook: the directory is deleted when the JVM exits.
    */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getAbsolutePath
}
