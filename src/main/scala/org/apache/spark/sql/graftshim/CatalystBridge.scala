package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into two `private[sql]` seams a session-extension library
  * legitimately needs (the usual pattern for Spark extensions — the
  * members are stable across the 3.x/4.x line but scoped to Spark's own
  * package tree, so the bridge lives in a subpackage of it):
  *
  *  - [[ofRows]]: analyze + wrap a hand-built [[LogicalPlan]] as a
  *    DataFrame — how [[graft.sql.SnapshotDml]]'s parser-injected DML
  *    commands turn their rewritten plans (unresolved projections over
  *    the snapshot read) into executable frames;
  *  - [[column]]: lift a catalyst [[Expression]] into a public
  *    [[Column]] (Spark 4 removed the public Column-from-Expression
  *    constructor in favor of ColumnNode).
  */
object CatalystBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Hadoop Configuration in Spark's own serializable wrapper
    * (`private[spark]` — reachable from this subpackage), for shipping a
    * prepared write job's conf to executor-side parquet writers.
    */
  def serializableConf(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(conf)

  def confOf(sc: org.apache.spark.util.SerializableConfiguration)
      : org.apache.hadoop.conf.Configuration = sc.value

  /** Driver-built, executor-serializable parquet row reader over one
    * schema — the READ-side mirror of [[graft.streaming.SnapshotStreamingWrite]]'s
    * `prepareWrite` use: Spark's own [[org.apache.spark.sql.execution
    * .datasources.parquet.ParquetFileFormat]] reader (predicate/row-group
    * machinery included), forced to the row-iterator shape
    * (`OPTION_RETURNING_BATCH=false`) so a DSv2 [[org.apache.spark.sql
    * .connector.read.PartitionReader]] can serve the rows directly.
    * Built once per scan on the driver (it broadcasts the hadoop conf);
    * the returned function is what ships to executors.
    */
  def parquetRowReader(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new ParquetFileFormat().buildReaderWithPartitionValues(
      classic, schema, new org.apache.spark.sql.types.StructType(), schema,
      Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      classic.sessionState.newHadoopConfWithOptions(Map.empty))
  }

  /** A whole-file [[org.apache.spark.sql.execution.datasources
    * .PartitionedFile]] (no partition values, no split) for feeding
    * [[parquetRowReader]] from a DSv2 input partition.
    */
  def wholeFile(path: String, length: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(path), 0L, length)

  /** Block until every event posted so far has reached every listener
    * (`private[spark]`): a job's end event is posted before its action
    * returns, so a listener read after this has seen every finished job.
    * Throws `java.util.concurrent.TimeoutException` after `timeoutMs`.
    */
  def drainListeners(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
