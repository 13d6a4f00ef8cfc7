package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for `Dataset.ofRows` (package-private in Spark): lets
  * the library hand a custom [[LogicalPlan]] node (graft.plans.TopKPerKeyNode)
  * to the session for analysis + planning. Lives in the Spark namespace for
  * visibility only — contains no Spark-internal logic.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A driver-held frame over already-collected rows: the `LocalRelation`
    * that `createDataFrame(rows, schema)` builds, without the external-row
    * round trip. */
  def localDataFrame(spark: SparkSession,
                     schema: org.apache.spark.sql.types.StructType,
                     rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Block until the listener bus has delivered every event posted so far
    * (`listenerBus` is private[spark]): a job-counting listener read after
    * this has seen every job that already started. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Column ↔ Expression conversion (`classic.ExpressionUtils` is
    * private[sql]) — lets the library apply a custom Expression that
    * carries a non-SQL-representable payload (the deletion-vector map)
    * without registering a session function for it. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** A STREAMING DataFrame over already-computed batch rows — what a V1
    * streaming `Source.getBatch` must return (the FileStreamSource /
    * DeltaSource shape: `internalCreateDataFrame(rdd, schema,
    * isStreaming = true)`, which is private[sql]). */
  def streamingDataFrame(spark: SparkSession,
                         rdd: org.apache.spark.rdd.RDD[
                           org.apache.spark.sql.catalyst.InternalRow],
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse boundary: a re-executable BATCH DataFrame over a
    * streaming micro-batch's rows — what a V1 `Sink.addBatch` body needs
    * before running multi-job batch logic (count + write + stats pass)
    * against the handed-in incremental DataFrame (the ForeachBatchSink
    * wrapping move). */
  def batchDataFrame(spark: SparkSession,
                     rdd: org.apache.spark.rdd.RDD[
                       org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Re-pack a row stream into [[org.apache.spark.sql.vectorized
    * .ColumnarBatch]]es (the `RowToColumnarExec` per-partition move —
    * `RowToColumnConverter` is private[execution], so the implementation
    * lives in [[execution.GraftColumnarBridge]]): what a FileFormat reader
    * must hand a columnar scan for the files it can only produce rows for
    * (graft-tx's deletion-vector row masking), so the CLEAN files of the
    * same relation keep the vectorized batch path end-to-end. The batch
    * contract's usual caveat applies: consumers exhaust a batch before
    * pulling the next (vectors are reused), which is exactly how
    * whole-stage codegen consumes file-scan batches. */
  def rowsToColumnarBatches(schema: org.apache.spark.sql.types.StructType,
                            rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                            batchSize: Int = 4096)
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    execution.GraftColumnarBridge.rowsToColumnarBatches(schema, rows, batchSize)
}
