package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Shim into Spark's `private[sql]` Column↔Expression bridge — the classic
  * (non-connect) API hides these behind the sql package; custom Catalyst
  * expressions need them to surface as Columns. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is `private[sql]`: build a DataFrame over an arbitrary
    * logical plan (used to query a DSv2 metadata Table without a catalog
    * round trip). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `LiteralValue` is `private[sql]`: construct a typed DSv2 literal
    * (catalyst-internal value representation) — used by specs exercising
    * the V2 predicate conversion matrix. */
  def v2Literal(v: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(v, dt)
}
