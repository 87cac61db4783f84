package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's private[sql] Column ⇄ Expression converters.
  * Placed in the spark.sql package on purpose — the standard pattern for
  * Catalyst-extension libraries (Column no longer exposes `.expr` publicly
  * since the Spark Connect refactor).
  */
object GraftInternal {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for composing custom plans). */
  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over a custom LogicalPlan (classic Dataset.ofRows bridge). */
  def dataFrame(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over rows already in Catalyst form (classic
    * internalCreateDataFrame bridge): no per-row conversion on a scan.
    */
  def rowsDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)
}
