package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into private[sql] surface: constructing a DataFrame from a custom
  * LogicalPlan (graft.plans.AsOfJoinPlan). The standard extension-library
  * shim — no behavior, just visibility. */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression bridges: every Column helper of graft's native
    * expressions (Det.hash32, VectorExprs, TileExprs, UnicodeExprs.unorm)
    * builds its expression directly through these, so no session
    * function registry is involved; `GraftExtensions` registers the SQL
    * names for SQL-text callers only. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's internal form, with no
    * per-row conversion (the graph-ANN driver-side beam search's visited
    * rows, graft.operators.LlmExtras.BeamSearch). */
  def internalRows(spark: SparkSession, rows: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow], schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
