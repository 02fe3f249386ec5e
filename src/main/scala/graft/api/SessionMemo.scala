package graft.api

import org.apache.spark.sql.{DataFrame, GraftSessionId, SparkSession}

/** The one registry for everything the library builds once per
  * SparkSession: shared persisted frames, bucketed and index tables,
  * driver-literal tables, finished stream replays, scratch writes,
  * child sessions. An entry is one (session, namespace, key) cell
  * holding a built value and the action that releases it.
  *
  *  - Session identity is Spark's own `sessionUUID`: unlike a 32-bit
  *    identity hash it cannot collide between a dead session and a
  *    live one.
  *  - Build dedupe: the map only installs a cell (no Spark action under
  *    any map-wide lock); the first `value` caller builds under the
  *    CELL's monitor, racers on the same key wait for that one build,
  *    and other keys proceed. A build that throws is dropped from the
  *    map, so the next caller retries with its own build (callers
  *    already waiting on the failed cell retry it in turn). A build may
  *    consult another key; it then waits on that key's cell.
  *  - Clear epoch: [[clear]] removes the session's cells, and a removed
  *    cell is never re-installed. A build still running during a clear
  *    returns its result to the callers already waiting on it, and the
  *    next caller after the clear builds afresh. Such a late build is
  *    also never released by the memo; the contract (which Bench
  *    honors) is clear between quiesced phases.
  *  - Release: [[clear]] runs the release action of each BUILT cell
  *    exactly once, outside any lock, and never builds a cell that was
  *    not built.
  *
  * Process-global metadata memos (tx snapshot folds, footer schemas,
  * LSH planes) hold no session-bound object and stay where they are.
  */
private[graft] object SessionMemo {

  private final class Cell[V](build: () => V, release: V => Unit) {
    @volatile private var built: Option[V] = None
    lazy val value: V = { val v = build(); built = Some(v); v }
    def releaseIfBuilt(): Unit = built.foreach(release)
  }

  private val cells = scala.collection.concurrent
    .TrieMap[(String, String, Any), Cell[_]]()

  /** The session's memoized value of (`ns`, `key`), built on first use;
    * `release` runs on it at [[clear]].
    */
  def withRelease[V](s: SparkSession, ns: String, key: Any,
                     release: V => Unit)(build: => V): V = {
    val k = (GraftSessionId.of(s), ns, key)
    val fresh = new Cell[V](() => build, release)
    val cell = cells.putIfAbsent(k, fresh).getOrElse(fresh).asInstanceOf[Cell[V]]
    try cell.value
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** An entry with nothing to release (metadata, plans, markers). */
  def apply[V](s: SparkSession, ns: String, key: Any)(build: => V): V =
    withRelease[V](s, ns, key, _ => ())(build)

  /** An entry holding a persisted frame, unpersisted at [[clear]]. */
  def persisted(s: SparkSession, ns: String, key: Any)(
      build: => DataFrame): DataFrame =
    withRelease[DataFrame](s, ns, key, df => { df.unpersist(); () })(build)

  /** Forget every entry held for `s` and release the built ones. Safe
    * at any point: entries rebuild lazily on next use.
    */
  def clear(s: SparkSession): Unit = {
    val mine = GraftSessionId.of(s)
    cells.keys.filter(_._1 == mine).toList
      .flatMap(cells.remove).foreach(_.releaseIfBuilt())
  }
}
