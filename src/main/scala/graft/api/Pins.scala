package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed registry for frames persisted INSIDE an operator
  * (never handed to the caller, so the caller cannot unpersist them).
  * [[graft.Graft.clear]] drains a session's pins; independently, a
  * per-session cap bounds what an un-hygienic long-lived caller can
  * accumulate — once a session holds `MaxPerSession` pins, the OLDEST
  * is unpersisted and dropped (safe: an unpersisted frame silently
  * recomputes if some lazy plan still references it). Memory-tier
  * blocks also fall to Spark's LRU, but DISK-tier spill does NOT —
  * without the cap, a loop of dedup calls that never clears would fill
  * local disk.
  *
  * BYTE bound: the slot cap alone is count-, not size-aware — 256
  * slots of corpus-scale MEMORY_AND_DISK index frames could hold
  * unbounded disk spill in a long-lived session. Each `pin()` also sums
  * the storage bytes (memory + disk tier) of the session's OWN pinned
  * frames — priced once per call, and only when the context's total
  * storage is over the cap — and evicts them oldest-first while that
  * sum exceeds `spark.graft.pins.maxBytes` (default 4x the driver JVM's
  * max heap — far above anything the bench suite persists, so local
  * behavior is unchanged; set it to a fraction of cluster storage in
  * production).
  * Another session's cache, or the caller's own non-pin cache, does not
  * count: pins can only give back pin bytes, so charging them for
  * storage they cannot release would evict every pin on each call and
  * still admit the new one.
  */
private[graft] object Pins {
  // 256: the full concurrent query suite now registers well over 64
  // pins (vocab/model/cut/graph frames joined the original dedup
  // frames) — at the old cap the oldest pins were evicted MID-SUITE
  // and their still-referenced plans silently recomputed, exactly the
  // duplicated work pinning exists to prevent. Still a hard bound on
  // disk-tier spill for un-hygienic long-lived callers.
  private[api] val MaxPerSession = 256
  private[graft] val MaxBytesConf = "spark.graft.pins.maxBytes"

  /** One session's pins, oldest first: a [[SessionMemo]] entry whose
    * release (Graft.clear) unpersists them all and closes the set, so a
    * pin racing the clear moves on to the session's next set instead of
    * landing in a released one.
    */
  private final class PinSet {
    val frames = scala.collection.mutable.Buffer.empty[DataFrame]
    var open = true
  }

  private def pinSet(s: SparkSession): PinSet =
    SessionMemo.withRelease[PinSet](s, "pins", (), p => p.synchronized {
      p.open = false
      p.frames.foreach(_.unpersist())
      p.frames.clear()
    })(new PinSet)

  private def maxBytes(s: SparkSession): Long =
    s.conf.getOption(MaxBytesConf).map(_.toLong)
      .getOrElse(4L * Runtime.getRuntime.maxMemory)

  /** Storage bytes (memory + disk tier) each pinned frame's cache holds,
    * in frame order. A cache several frames share is charged once, to
    * the oldest of them — the eviction that releases it. A cache not
    * yet materialized holds nothing.
    */
  private def frameBytes(s: SparkSession, frames: Seq[DataFrame],
                         stored: Map[Int, Long]): Seq[Long] = {
    val cache = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val charged = scala.collection.mutable.Set.empty[Int]
    frames.map(f => cache.lookupCachedData(
        f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers.id)
      .filter(charged.add)
      .flatMap(stored.get).getOrElse(0L))
  }

  @annotation.tailrec
  def pin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val mine = pinSet(s)
    val pinned = mine.synchronized {
      if (mine.open) {
        if (mine.frames.size >= MaxPerSession) mine.frames.remove(0).unpersist()
        // byte bound: evict oldest-first while this session's pins
        // exceed the cap. The context's total storage bounds the pins'
        // share, so only a total over the cap prices the pins one by one
        val cap = maxBytes(s)
        val stored = s.sparkContext.getRDDStorageInfo
          .map(i => i.id -> (i.memSize + i.diskSize)).toMap
        if (stored.values.sum > cap) {
          val bytes = frameBytes(s, mine.frames.toSeq, stored).toBuffer
          var total = bytes.sum
          while (mine.frames.nonEmpty && total > cap) {
            total -= bytes.remove(0)
            mine.frames.remove(0).unpersist()
          }
        }
        mine.frames += df
      }
      mine.open
    }
    if (pinned) df else pin(df)
  }
}
