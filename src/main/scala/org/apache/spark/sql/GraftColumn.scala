package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed forwarder, the [[GraftSessionId]] policy: the classic
  * session's Column <-> Expression conversions are `private[sql]`, and
  * `graft.functions.ExactDistinctAgg` builds its Column straight from
  * its Expression (no registered SQL name).
  */
object GraftColumn {
  def of(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
