package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters.
  *
  * Almost every graft native function goes through the function registry
  * (`call_function`), which only accepts `Column` arguments — i.e.
  * things expressible as literals. Operators that must embed a
  * NON-literal runtime object in an expression (the Broadcast handle in
  * [[graft.functions.BloomMightContainBc]]) need to construct the
  * `Column` directly from the Catalyst expression; this shim exposes
  * exactly the two conversions Spark itself uses
  * (`org.apache.spark.sql.classic.ExpressionUtils`), nothing more.
  */
object GraftSqlShim {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a (classic) Column to its Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, nested ones included, nullable — the
    * schema a parquet relation reads a file under.
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Wrap a logical plan as a DataFrame — how custom operators
    * ([[graft.plans.AsOfJoinPlan]]) enter the declarative pipeline; the
    * same `Dataset.ofRows` Spark's own DataFrame APIs call.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
