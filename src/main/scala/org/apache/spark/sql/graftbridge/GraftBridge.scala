/* Bridge into Spark's package-private Column <-> Expression conversions
 * and plan-to-DataFrame construction. Spark 4 hides
 * `classic.ExpressionUtils` and `classic.Dataset.ofRows` behind
 * `private[sql]`; extension libraries that define native Catalyst
 * expressions or rewrite parsed plans conventionally expose them through
 * a small shim in the org.apache.spark.sql package.
 */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DataFrame of a parsed plan: `spark.sql` minus the parse. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
