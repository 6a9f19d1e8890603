package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression,
  ColumnNodeToExpressionConverter}
import org.apache.spark.sql.internal.ColumnNode

/** A column as the unresolved Catalyst tree the analyzer starts from,
  * with the column nodes nested inside the engine's own expressions
  * converted too, for printing and comparing masks.
  * [[ExpressionBridge.expression]] defers that conversion: its result
  * prints as `columnnodeexpression(<node>)`, and the node's text holds
  * the identity hash of its call-site stack trace, which differs on
  * every run.
  */
object ExpressionTree {
  def of(c: Column): Expression = convert(c.node)

  private def convert(n: ColumnNode): Expression =
    ColumnNodeToExpressionConverter(n).transformUp {
      case ColumnNodeExpression(inner) => convert(inner)
    }
}
