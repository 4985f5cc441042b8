package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The `private[sql]` hops the engine needs: turning a custom
  * [[LogicalPlan]] (graft.plans.AsOfJoin) into a user-facing DataFrame,
  * minting the `isStreaming = true` DataFrame a DSv1 streaming
  * `Source.getBatch` must return (graft.sources.SnapshotStreamSource —
  * the same `internalCreateDataFrame` hop every DSv1 source inside
  * Spark takes), and converting between a [[Column]] and its Catalyst
  * [[Expression]] so graft.functions.GraftFunctions can wrap its native
  * expressions without a function-name registry. Placing these
  * forwarders inside `org.apache.spark.sql` is the established way
  * third-party Spark libraries expose custom operators and sources (no
  * other Spark internals are touched here; everything else lives under
  * `graft.*`).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A streaming-tagged DataFrame over an InternalRow RDD — what a DSv1
    * `Source.getBatch` hands the micro-batch engine (MicroBatchExecution
    * asserts `isStreaming = true` on the returned plan). */
  def streamingDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
