package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column <-> catalyst Expression bridge. ExpressionUtils is
  * private[sql] in Spark 4, so the one-line indirection lives in an
  * org.apache.spark.sql subpackage — the standard pattern for
  * extension libraries shipping native expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c` converted to a catalyst expression up front, for a SQL
    * function builder: a UDF column becomes its `ScalaUDF`, which
    * [[expression]] would leave as an unevaluable wrapper. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
