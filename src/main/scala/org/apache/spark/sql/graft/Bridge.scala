package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression
  * converters, the standard pattern for libraries that ship native Catalyst
  * expressions (the public API deliberately hides expression internals
  * behind ColumnNode since Spark 4), plus the one internal aggregate the
  * public functions do not expose. Nothing else from the private surface
  * is touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst's `collect_top_k`: per group, the `k` largest values of `c`
    * (the `k` smallest when `smallest`) under Spark's own ordering for its
    * type, as an array sorted best-first. Order a struct column to rank by
    * several fields. It is a bounded priority queue in a typed imperative
    * aggregate, so it plans as a partial ObjectHashAggregate before the
    * exchange and a final one after it: each input partition ships at most
    * `k` rows per group. Null values are skipped.
    */
  def collectTopK(c: Column, k: Int, smallest: Boolean = false): Column =
    column(new CollectTopK(expression(c), k, smallest).toAggregateExpression())
}
