package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The Pins registry's BYTE bound (round 22): a long-lived session's
  * pinned frames must be evicted oldest-first once the context's
  * persisted bytes exceed `spark.graft.pins.maxBytes` — the slot cap
  * alone is count-, not size-aware, and 256 corpus-scale
  * MEMORY_AND_DISK index frames would otherwise hold unbounded disk
  * spill (VERDICT r21 item 5).
  */
class PinsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("pin evicts oldest-first once persisted bytes exceed the cap") {
    // child session: the cap conf is session-scoped and Pins keys its
    // registry by session identity, so the main suite's pins are
    // untouched
    val s = spark.newSession()
    s.conf.set(graft.api.Pins.MaxBytesConf, "1")
    val a = s.range(10000).toDF("a").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(a)
    a.count() // materialize, so persistedBytes sees it
    assert(a.storageLevel !== StorageLevel.NONE)
    // a DIFFERENT plan: an identical one would share a's cache entry
    // (CacheManager plan-matches ignoring aliases) and die with it
    val b = s.range(20000).toDF("b").persist(StorageLevel.MEMORY_AND_DISK)
    // registering b finds the context over the (1-byte) cap and must
    // give back this session's oldest pin — a — before taking the slot
    graft.api.Pins.pin(b)
    assert(a.storageLevel === StorageLevel.NONE,
      "oldest pin must be unpersisted once the byte cap is exceeded")
    assert(b.storageLevel !== StorageLevel.NONE,
      "the newly pinned frame keeps its storage level")
    graft.Graft.clear(s)
  }

  test("default cap leaves small pins alone") {
    val s = spark.newSession()
    val a = s.range(1000).toDF("a").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(a)
    a.count()
    val b = s.range(2000).toDF("b").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(b)
    assert(a.storageLevel !== StorageLevel.NONE,
      "tiny frames must never trip the default (4x heap) cap")
    graft.Graft.clear(s)
  }

  test("a big non-pin cache leaves the session's pins alone") {
    val s = spark.newSession()
    s.conf.set(graft.api.Pins.MaxBytesConf, (1L << 20).toString)
    // ~4 MB of incompressible doubles, cached but never pinned: over the
    // 1 MiB cap on its own, and not something a pin eviction can release
    val big = s.range(500000).selectExpr("rand(7) AS big")
      .persist(StorageLevel.MEMORY_AND_DISK)
    big.count()
    val a = s.range(1000).toDF("a").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(a)
    a.count()
    val b = s.range(2000).toDF("b").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(b)
    assert(a.storageLevel !== StorageLevel.NONE,
      "only the session's pinned bytes count against the cap")
    assert(big.storageLevel !== StorageLevel.NONE)
    big.unpersist(blocking = true)
    graft.Graft.clear(s)
  }

  test("a session's own pins over the cap evict oldest-first; other sessions' pins stay") {
    val other = spark.newSession()
    val x = other.range(3000).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(x)
    x.count()
    val s = spark.newSession()
    s.conf.set(graft.api.Pins.MaxBytesConf, (64L << 10).toString)
    val small = s.range(1000).toDF("small").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(small)
    small.count()
    // ~400 KB: alone over the 64 KiB cap
    val big = s.range(50000).selectExpr("rand(3) AS big")
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(big)
    big.count()
    assert(small.storageLevel !== StorageLevel.NONE,
      "the small pin alone is under the cap: nothing evicted yet")
    val c = s.range(1500).toDF("c").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(c)
    // oldest-first: small goes first, then big (still over the cap);
    // a newest-first eviction would drop big and keep small
    assert(small.storageLevel === StorageLevel.NONE &&
      big.storageLevel === StorageLevel.NONE,
      "the session's pins are given back oldest-first until under the cap")
    assert(c.storageLevel !== StorageLevel.NONE)
    assert(x.storageLevel !== StorageLevel.NONE,
      "another session's pins are neither charged nor evicted")
    graft.Graft.clear(s)
    graft.Graft.clear(other)
  }

  test("eviction stops once the session's remaining pins fit the cap") {
    val s = spark.newSession()
    s.conf.set(graft.api.Pins.MaxBytesConf, (100L << 10).toString)
    // ~64 KB of incompressible doubles each: one fits the 100 KiB cap,
    // two do not
    def doubles(seed: Int) = s.range(8000).selectExpr(s"rand($seed) AS d$seed")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = doubles(5)
    graft.api.Pins.pin(a)
    a.count()
    val b = doubles(6)
    graft.api.Pins.pin(b)
    b.count()
    assert(a.storageLevel !== StorageLevel.NONE, "a alone fits the cap")
    val c = s.range(10).toDF("c").persist(StorageLevel.MEMORY_AND_DISK)
    graft.api.Pins.pin(c)
    // giving back the oldest pin brings the rest under the cap
    assert(a.storageLevel === StorageLevel.NONE)
    assert(b.storageLevel !== StorageLevel.NONE,
      "a pin is evicted only while the session's pins still exceed the cap")
    graft.Graft.clear(s)
  }
}
