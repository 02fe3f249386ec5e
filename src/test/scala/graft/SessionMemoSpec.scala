package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SessionMemo

/** The per-session memo behind Graft.clear: session isolation by
  * Spark's session UUID, one build per key under contention, retry
  * after a failed build, the clear epoch, and exactly-once release.
  */
class SessionMemoSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val ns = "spec.memo"

  private def async[V](body: => V): java.util.concurrent.Future[V] = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new Callable[V] { def call(): V = body })
    finally pool.shutdown()
  }

  test("two sessions never share an entry, and clear(s1) leaves s2's in place") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    assert(SessionMemo(s1, ns, "k")("one") === "one")
    assert(SessionMemo(s2, ns, "k")("two") === "two",
      "a second session must build its own entry")
    // distinct plans, so the CacheManager keeps two cache entries
    val f1 = SessionMemo.persisted(s1, ns, "df")(
      s1.range(100).toDF("x1").persist(StorageLevel.MEMORY_AND_DISK))
    val f2 = SessionMemo.persisted(s2, ns, "df")(
      s2.range(200).toDF("x2").persist(StorageLevel.MEMORY_AND_DISK))
    f1.count(); f2.count()
    SessionMemo.clear(s1)
    assert(f1.storageLevel === StorageLevel.NONE)
    assert(f2.storageLevel !== StorageLevel.NONE,
      "s2's persisted frame survives a clear of s1")
    assert(SessionMemo[String](s2, ns, "k")(fail("s2's entry was dropped")) === "two")
    assert(SessionMemo.persisted(s2, ns, "df")(fail("s2's frame was dropped")) eq f2)
    assert(SessionMemo(s1, ns, "k")("rebuilt") === "rebuilt")
    Graft.clear(s1)
    Graft.clear(s2)
    assert(f2.storageLevel === StorageLevel.NONE)
  }

  test("eight threads racing on one key run one build") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          gate.await()
          SessionMemo(s, ns, "race") {
            builds.incrementAndGet()
            Thread.sleep(200)
            "built"
          }
        }
      }))
      gate.countDown()
      assert(futures.map(_.get(60, TimeUnit.SECONDS)).toSet === Set("built"))
      assert(builds.get === 1)
    } finally pool.shutdown()
    Graft.clear(s)
  }

  test("a build that throws is retried by the next caller") {
    val s = spark.newSession()
    val attempts = new AtomicInteger
    intercept[IllegalStateException] {
      SessionMemo[String](s, ns, "flaky") {
        attempts.incrementAndGet()
        throw new IllegalStateException("transient")
      }
    }
    assert(SessionMemo(s, ns, "flaky") { attempts.incrementAndGet(); "ok" } === "ok")
    assert(attempts.get === 2)
    assert(SessionMemo[String](s, ns, "flaky")(fail("a built entry must be served")) === "ok")
    Graft.clear(s)
  }

  test("a build still running during clear is not served after it") {
    val s = spark.newSession()
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val released = new ConcurrentLinkedQueue[String]()
    val late = async(SessionMemo.withRelease[String](s, ns, "slow", released.add(_)) {
      started.countDown()
      finish.await()
      "before"
    })
    assert(started.await(60, TimeUnit.SECONDS))
    SessionMemo.clear(s)
    finish.countDown()
    assert(late.get(60, TimeUnit.SECONDS) === "before",
      "the running build still answers its own caller")
    assert(SessionMemo(s, ns, "slow")("after") === "after",
      "the cleared memo never serves the pre-clear build")
    assert(released.isEmpty, "clear released a build that had not finished")
    Graft.clear(s)
  }

  test("clear releases each built entry exactly once and builds nothing") {
    val s = spark.newSession()
    val released = new ConcurrentLinkedQueue[String]()
    val builds = new AtomicInteger
    def entry(k: String): String =
      SessionMemo.withRelease[String](s, ns, k, released.add(_)) {
        builds.incrementAndGet(); k
      }
    entry("a"); entry("b"); entry("a")
    // an entry whose build is mid-flight at the clear is not built
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val pending = async(SessionMemo.withRelease[String](s, ns, "pending",
        released.add(_)) {
      builds.incrementAndGet(); started.countDown(); finish.await(); "pending"
    })
    assert(started.await(60, TimeUnit.SECONDS))
    assert(builds.get === 3)
    SessionMemo.clear(s)
    SessionMemo.clear(s)
    finish.countDown()
    pending.get(60, TimeUnit.SECONDS)
    assert(released.asScala.toList.sorted === List("a", "b"))
    assert(builds.get === 3, "clear must not build an entry")
  }
}
