package org.apache.spark.sql

/** Package-placed forwarder, the [[execution.datasources.GraftV2Bridge]]
  * policy: Spark's own per-session UUID is `private[sql]` on the classic
  * (in-process) session, and `graft.api.SessionMemo` keys its entries
  * on it.
  */
object GraftSessionId {
  def of(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID
}
