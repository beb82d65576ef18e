package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark 4 removed the public Column(Expression) constructor; the sanctioned
  * bridges (ExpressionUtils, ColumnNodeToExpressionConverter) are
  * private[sql]. This shim lives in an org.apache.spark.sql subpackage
  * solely to re-export the two converters for graft's native expressions
  * and SQL function builders.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst tree of `c`, converted now rather than at the Dataset
    * boundary (ExpressionUtils.expression defers it behind an Unevaluable
    * node), so a registry builder can return it for the analyzer to
    * resolve in place.
    */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
