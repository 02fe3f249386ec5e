package org.apache.spark.sql.execution.datasources

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.sources.Filter

/** Package-placed shim: `DataSourceStrategy.translateFilter` is
  * `protected[sql]`, and graft's log-metadata file pruning
  * (`TxTableRelation.keptFiles`) wants Spark's OWN
  * Expression → source-Filter translation (hand-rolling it would be a
  * second, driftable copy of non-trivial semantics — null handling,
  * nested fields, collations). One forwarding method, nothing else;
  * the same in-package access route Spark-native extensions
  * (Delta, Iceberg's spark module) use for exactly this call.
  */
object GraftFilterTranslation {
  def translate(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}

/** Second shim, same policy: a V1 streaming `Sink.addBatch` hands a
  * DataFrame whose incremental plan must be PINNED to this
  * micro-batch's RDD before any further (lazy) consumption — otherwise
  * a re-execution could re-read the source offsets. This is verbatim
  * what Spark's own ForeachBatchSink does (toRdd → LogicalRDD →
  * Dataset.ofRows), all `private[sql]`.
  */
object GraftBatchMaterialize {
  def pin(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cds = data.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      cds.queryExecution.toRdd, cds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(cds.sparkSession, node)
  }

  /** The V1 streaming `Source.getBatch` contract requires the returned
    * frame to be STREAMING-TAGGED (MicroBatchExecution grafts its plan
    * into the streaming query); FileStreamSource does exactly this
    * toRdd → internalCreateDataFrame(isStreaming = true) conversion,
    * both halves `private[sql]`.
    */
  def asStreamingBatch(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cds = data.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    cds.sparkSession.internalCreateDataFrame(
      cds.queryExecution.toRdd, cds.schema, isStreaming = true)
  }
}
