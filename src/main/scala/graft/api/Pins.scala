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
  * BYTE bound (round 22): the slot cap alone is count-, not
  * size-aware — 256 slots of corpus-scale MEMORY_AND_DISK index frames
  * could hold unbounded disk spill in a long-lived session. Each
  * `pin()` also checks the session's TOTAL persisted bytes (memory +
  * disk across all cached RDDs, from the driver's storage status) and
  * evicts pins oldest-first while it exceeds
  * `spark.graft.pins.maxBytes` (default 4x the driver JVM's max heap —
  * far above anything the bench suite persists, so local behavior is
  * unchanged; set it to a fraction of cluster storage in production).
  * The accounting is session-total, which is deliberately conservative:
  * a user's own big cache counts against the pin budget, so pins yield
  * first when storage is tight — the safe direction, because an
  * evicted pin only recomputes while an evicted user cache may be the
  * caller's checkpoint.
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

  /** All persisted bytes the session's context currently holds (memory
    * tier + disk tier, every cached RDD). Driver-local metadata — one
    * array walk, no RPC in local mode and one status read on a
    * cluster.
    */
  private def persistedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  @annotation.tailrec
  def pin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val mine = pinSet(s)
    val pinned = mine.synchronized {
      if (mine.open) {
        if (mine.frames.size >= MaxPerSession) mine.frames.remove(0).unpersist()
        // byte bound: evict oldest-first (blocking, so the next check
        // sees the freed bytes) while the session's persisted total
        // exceeds the cap and this session still holds pins to give back
        val cap = maxBytes(s)
        while (mine.frames.nonEmpty && persistedBytes(s) > cap)
          mine.frames.remove(0).unpersist(blocking = true)
        mine.frames += df
      }
      mine.open
    }
    if (pinned) df else pin(df)
  }
}
