package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Internal-row plan plumbing the public API hides. Lives in the shim
  * namespace (like [[ArrowShim]]/[[ColumnShim]]) for `private[sql]`
  * access to the classic session.
  *
  * [[internalCreateDataFrame]] wraps an `RDD[InternalRow]` back into a
  * DataFrame WITHOUT the external-Row encode leg that
  * `session.createDataFrame(rdd, schema)` pays (Catalyst converters on
  * every field of every row). The resulting scan projects each row to
  * unsafe, so emitted rows may be reused buffers or
  * `GenericInternalRow`s — the standard operator contract.
  *
  * [[ofRows]] builds a DataFrame over a logical plan (`Dataset.ofRows`),
  * for operators that are plan nodes such as [[RangeSweep]]. */
object PlanShim {

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
