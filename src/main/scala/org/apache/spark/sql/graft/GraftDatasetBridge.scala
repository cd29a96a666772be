package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic

/** Bridge into the package-private Column factories: wrapping a
  * data-bearing custom Expression (graft.functions.BpeDocTokenCount carries
  * its merge table as a constructor object, so it cannot route through a
  * SQL function registration) requires ExpressionUtils.column, and
  * unwrapping a Column requires ExpressionUtils.expression — both
  * private[sql]. Lives under org.apache.spark.sql for access; contains no
  * logic.
  */
object GraftDatasetBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
