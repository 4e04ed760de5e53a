package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]`-crossing seam the engine needs: turning a
  * custom [[LogicalPlan]] node into a user-facing [[DataFrame]]
  * (`Dataset.ofRows` has no public equivalent — every Spark extension
  * library that ships its own logical operators carries exactly this
  * bridge), and a custom [[Expression]] into a [[Column]] without
  * registering it as a SQL function, and a schema with every field
  * nullable — the schema a file scan reads, whatever the writer
  * declared. Kept to single forwarding calls in a single file so the
  * internal surface area is auditable. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def asNullable(t: types.StructType): types.StructType = t.asNullable
}
