package graft.obs

import scala.collection.mutable
import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** One stage's task sums (keys [[SparkCounters.TaskKeys]] plus
  * `max_task_cpu_s`), the job group that submitted it, and its submit and
  * complete times in epoch ms (-1 until known). `name` lists the stage's
  * operator scopes, e.g. `WholeStageCodegen (3)>Exchange`.
  */
final case class StageRow(id: Int, name: String, group: String,
                          submitMs: Long, completeMs: Long,
                          counts: Map[String, Double])

/** Engine counters from one SparkListener, read as snapshots so a caller
  * can take the difference around one operation. The totals keep the key
  * names of the benchmark's trace: `queue_wait_s` is the time from a
  * job's submission to its first task launch, `job_wall_s` the time
  * during which at least one job ran. Task sums are also kept per
  * `spark.jobGroup.id` ([[groups]]) and per stage ([[stages]]).
  *
  * Spark delivers listener events on its own bus thread; every read first
  * waits for the bus to deliver what is pending, so a read taken right
  * after an action sees every task of that action.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private final class Stage {
    var group = ""
    var name = ""
    var submitMs = -1L
    var completeMs = -1L
    var maxTaskCpuS = 0.0
    val sums = new Array[Double](TaskKeys.length)
  }

  @volatile private var attachedTo: Option[SparkContext] = None
  private val totals = new Array[Double](TaskKeys.length)
  private var jobs, queueWaitS, jobWallS = 0.0
  private val groupSums = mutable.HashMap[String, Array[Double]]()
  private val stageRows = mutable.LinkedHashMap[Int, Stage]()
  private val jobOfStage = mutable.HashMap[Int, (Int, String)]()
  private val submitted = mutable.HashMap[Int, Long]()
  private var running = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    submitted(e.jobId) = e.time
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(jobOfStage(_) = (e.jobId, group))
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    submitted.remove(e.jobId)
    running -= 1
    if (running == 0) jobWallS += (e.time - busySince) / 1000.0
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.name = i.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct.mkString(">")
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.completeMs = -1L
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageRows.get(e.stageInfo.stageId)
      .foreach(_.completeMs = e.stageInfo.completionTime.getOrElse(-1L))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    jobOfStage.get(e.stageId).flatMap { case (j, _) => submitted.remove(j) }
      .foreach(t0 => queueWaitS += math.max(0L, e.taskInfo.launchTime - t0) / 1000.0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val v = taskValues(e.taskMetrics)
    val s = stage(e.stageId)
    addTo(totals, v)
    addTo(s.sums, v)
    s.maxTaskCpuS = math.max(s.maxTaskCpuS, v(1))
    if (s.group.nonEmpty) addTo(groupSums.getOrElseUpdate(s.group,
      new Array[Double](TaskKeys.length)), v)
  }

  /** The row of a stage, in the group of the last job that listed it. */
  private def stage(id: Int): Stage = {
    val s = stageRows.getOrElseUpdate(id, new Stage)
    s.group = jobOfStage.get(id).fold("")(_._2)
    s
  }

  /** Detaches the listener [[SparkCounters.install]] attached. */
  def close(): Unit = attachedTo.foreach(_.removeSparkListener(this))

  def snapshot: Map[String, Double] = {
    GraftListenerBus.drain()
    synchronized(asMap(totals) ++ Map("jobs" -> jobs,
      "queue_wait_s" -> queueWaitS, "job_wall_s" -> jobWallS))
  }

  /** Task sums per job group whose id starts with `prefix`, the prefix
    * stripped from the returned names. */
  def groups(prefix: String): Seq[(String, Map[String, Double])] = {
    GraftListenerBus.drain()
    synchronized(groupSums.toSeq.collect { case (g, a) if g.startsWith(prefix) =>
      g.drop(prefix.length) -> asMap(a) })
  }

  /** Stage rows in first-seen order. */
  def stages: Seq[StageRow] = {
    GraftListenerBus.drain()
    synchronized(stageRows.toSeq.map { case (id, s) =>
      StageRow(id, s.name, s.group, s.submitMs, s.completeMs,
        asMap(s.sums) + ("max_task_cpu_s" -> s.maxTaskCpuS)) })
  }
}

object SparkCounters {
  /** What every finished task adds, to the totals, its group and its stage. */
  val TaskKeys: IndexedSeq[String] = Vector("tasks", "executor_cpu_s", "run_s",
    "deserialize_s", "gc_s", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes")

  private def taskValues(m: TaskMetrics): Array[Double] =
    if (m == null) Array(1.0) ++ Array.fill(TaskKeys.length - 1)(0.0)
    else Array(1.0, m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
      m.executorDeserializeTime / 1e3, m.jvmGCTime / 1e3,
      m.inputMetrics.bytesRead.toDouble, m.inputMetrics.recordsRead.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      m.outputMetrics.bytesWritten.toDouble)

  private def addTo(acc: Array[Double], v: Array[Double]): Unit =
    v.indices.foreach(i => acc(i) += v(i))

  private def asMap(a: Array[Double]): Map[String, Double] = TaskKeys.zip(a).toMap

  /** A listener attached to `sc` that sees no event from before the call. */
  def install(sc: SparkContext): SparkCounters = {
    GraftListenerBus.drain()
    val c = new SparkCounters
    sc.addSparkListener(c)
    c.attachedTo = Some(sc)
    c
  }

  /** Runs `body` and returns the counters it moved. */
  def during(sc: SparkContext)(body: => Unit): Map[String, Double] = {
    val c = install(sc)
    try { body; c.snapshot } finally c.close()
  }

  def diff(after: Map[String, Double],
           before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
