package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.Shim

/** Column ↔ Expression bridge for the engine's custom Catalyst
  * expressions.
  */
object GraftExpr {
  def column(e: Expression): Column = Shim.column(e)
  def expr(c: Column): Expression = Shim.expression(c)
}
