package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed region: `parent` is the enclosing span on the same thread
  * (0 for a root), `run` the id shared by every span of one benchmark
  * run. `attrs` carries counts measured at the same boundary.
  */
final class Span(val id: Long, val parent: Long, val name: String,
                 val run: String, val startNs: Long) {
  var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** Span recorder for the traced run. Spans stay in memory and are
  * written as JSONL when the run ends. While `enabled` is false,
  * [[span]] only runs its body, so untraced runs pay one branch.
  */
final class Tracer(val runId: String) {
  @volatile var enabled: Boolean = false
  private val done = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(ids.getAndIncrement(),
        stack.get.headOption.map(_.id).getOrElse(0L), name, runId,
        System.nanoTime())
      stack.set(s :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        done.synchronized { done += s }
      }
    }

  /** Attach a count to the innermost open span (no-op when untraced). */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.get.headOption.foreach(s =>
      s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  def spans: Seq[Span] = done.synchronized(done.toList)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Engine-wide counters from the benchmark's own SparkListener, read as
  * snapshots so a caller can take the difference around one operation.
  * `queue_wait_s` is the time from a job's submission to its first task
  * launch; `job_wall_s` is the time during which at least one job ran.
  */
final class SparkCounters extends SparkListener {
  private val c = mutable.LinkedHashMap[String, Double](
    "jobs" -> 0, "tasks" -> 0, "executor_cpu_s" -> 0, "gc_s" -> 0,
    "input_bytes" -> 0, "shuffle_read_bytes" -> 0,
    "shuffle_write_bytes" -> 0, "spill_bytes" -> 0, "output_bytes" -> 0,
    "queue_wait_s" -> 0, "job_wall_s" -> 0)
  private val jobOfStage = mutable.Map[Int, Int]()
  private val submitted = mutable.Map[Int, Long]()
  private var running = 0
  private var busySince = 0L

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    submitted(e.jobId) = e.time
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    submitted.remove(e.jobId)
    running -= 1
    if (running == 0) add("job_wall_s", (e.time - busySince) / 1000.0)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    jobOfStage.get(e.stageId).flatMap(j => submitted.remove(j).map(j -> _))
      .foreach { case (_, t0) =>
        add("queue_wait_s", math.max(0L, e.taskInfo.launchTime - t0) / 1000.0)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1000.0)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  def snapshot: Map[String, Double] = synchronized(c.toMap)
}

object SparkCounters {
  def diff(after: Map[String, Double],
           before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) }
}
