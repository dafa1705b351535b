package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Bridge from Catalyst to the user-facing API: an [[Expression]] to a
  * [[Column]] and back, and a [[LogicalPlan]] to a [[DataFrame]].
  *
  * Spark 4 moved `Column` to the connect-compatible sql-api layer and made
  * the classic conversions `private[sql]` (`ExpressionUtils.column`,
  * `Dataset.ofRows`); a one-line accessor inside the `org.apache.spark.sql`
  * namespace is the standard technique extension libraries use to expose
  * custom expressions as Columns and custom plan nodes as DataFrames.
  * Nothing else in the engine lives in Spark's namespace. */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = Dataset.ofRows(castToImpl(spark), plan)
}
