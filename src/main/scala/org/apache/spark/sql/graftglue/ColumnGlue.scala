package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ↔ Column and plan → DataFrame bridge. Spark 4's
  * `Column` wraps a `ColumnNode`, and the converter
  * (`classic.ExpressionUtils`), `classic.Dataset.ofRows` and the
  * grouping-key normalization (`NormalizeFloatingNumbers.normalize`)
  * are `private[sql]` — this one-file package-in shim re-exports what
  * the engine's custom expressions and plan nodes need. No other
  * Spark internals are touched.
  */
object ColumnGlue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** `e` as Spark groups it: NaN and -0.0 normalized, nested ones too. */
  def groupingKey(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
