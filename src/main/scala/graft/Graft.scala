package graft

import org.apache.spark.sql.SparkSession

/** Library-level session hygiene. Several operators memoize expensive
  * intermediates per SparkSession (shingle frames, near-dup pair sets,
  * bucketed-table writes, stream replays) so that the queries branching
  * over them don't rebuild them. Those entries live in
  * [[api.SessionMemo]] and — without this hook — would pin persisted
  * data for the life of the process, which is a leak for a long-lived
  * server embedding the library.
  */
object Graft {

  /** Drop every session-keyed memo entry held for `spark`: unpersists
    * the cached and pinned frames, drops the bucketed and index tables
    * the session attached, and forgets scratch writes and finished
    * stream replays. Safe to call at any point — entries rebuild lazily
    * on next use.
    */
  def clear(spark: SparkSession): Unit = api.SessionMemo.clear(spark)
}
