package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One timed operation: its wall time; the CPU the product spent on it
  * (the calling thread plus the executor tasks it ran, leaving out JIT
  * and GC threads); the bytes the process read and wrote meanwhile; and
  * the cycle it belongs to (-1 outside the measured loop).
  */
final case class Op(kind: String, ms: Double, cpuMs: Double, readBytes: Long,
                    writeBytes: Long, ok: Boolean, error: String, phase: String,
                    cycle: Int)

/** What one run records: every timed operation (ok or failed), every
  * correctness check, named samples and values for the workload's own
  * metrics, and set-up times. The Python side turns this into metrics.
  */
final class Recorder(val tracer: Tracer) {

  val ops = mutable.ArrayBuffer[Op]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Double]()
  var counters: SparkCounters = _
  var spark: SparkSession = _
  /** "measure" inside the timed window, "finish" for end-of-run work. */
  var phase: String = "setup"
  var cycle: Int = -1

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  /** Time one client operation. A throw is a failed op, never a crash of
    * the run. In a traced cycle the op is a span carrying the engine
    * counters that moved while it ran.
    */
  def op[T](kind: String)(body: => T): Option[T] = tracer.span(kind) {
    val before = engineSnapshot()
    val (r0, w0) = Main.processIo()
    val c0 = Main.threadCpuNs()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val threadMs = (Main.threadCpuNs() - c0) / 1e6
    val (r1, w1) = Main.processIo()
    val engine = SparkCounters.diff(engineSnapshot(), before)
    engine.foreach { case (k, v) => tracer.attr(s"spark.$k", v) }
    val error = out.left.toOption.map(e =>
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    ops += Op(kind, ms, threadMs + engine("executor_cpu_s") * 1000, r1 - r0, w1 - w0,
      error.isEmpty, error.getOrElse(""), phase, cycle)
    out.toOption
  }

  /** Listener counters once the bus has delivered every pending event. */
  def engineSnapshot(): Map[String, Double] = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    counters.snapshot
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: `setUp` builds fresh inputs and loads them (run several
  * times; the last one is measured), `warmUp` is untimed, `cycle` is one
  * closed-loop iteration, `finish` runs the end-of-run checks. `probe`
  * runs just before and just after each traced cycle, outside its timing
  * and its spans, for layer numbers that cost work of their own.
  */
trait Workload {
  def setUp(rec: Recorder, dir: Path): Unit
  def warmUp(rec: Recorder): Unit
  def cycle(rec: Recorder, i: Int): Unit
  def probe(rec: Recorder, i: Int, before: Boolean): Unit = ()
  def finish(rec: Recorder): Unit
}

object Main {
  val SetUpRepeats = 3
  /** The first cycle plus the three steady cycles the end-to-end
    * metrics are taken from (report.STEADY_CYCLES).
    */
  val MinCycles = 4
  /** Cycles traced in a traced run besides the first (report.TRACED_CYCLES):
    * the same ones in every run, each between two untraced cycles, whose
    * mean wall is the untraced reference for the tracing overhead.
    */
  val TracedCycles = Seq(2, 4, 6)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(out)

    val tracer = new Tracer(s"$workload-$seed-${if (traced) "traced" else "plain"}")
    val rec = new Recorder(tracer)
    val w: Workload = workload match {
      case "shelf_incremental" => new ShelfWorkload(seed)
      case "tx_write_cycles" => new TxWorkload(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    for (rep <- 0 until SetUpRepeats) {
      val (_, s) = rec.timed {
        if (rec.spark != null) rec.spark.stop()
        rec.spark = session(out, cpus)
        w.setUp(rec, out.resolve(s"rep$rep"))
      }
      rec.sample("setup_s", s)
    }
    rec.counters = new SparkCounters
    rec.spark.sparkContext.addSparkListener(rec.counters)
    w.warmUp(rec)

    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    rec.phase = "measure"
    var i = 0
    val minCycles = if (traced) TracedCycles.max + 2 else MinCycles
    // closed loop: the next cycle starts when the previous one is done.
    // A traced run traces the first cycle (the one-off work, reported on
    // its own) and the fixed TracedCycles; the rest run untraced.
    while (i < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && (i == 0 || TracedCycles.contains(i))
      rec.cycle = i
      if (on) w.probe(rec, i, before = true)
      tracer.enabled = on
      val (_, s) = rec.timed(tracer.span("cycle") {
        tracer.attr("cycle", i)
        val before = if (on) rec.engineSnapshot() else Map.empty[String, Double]
        w.cycle(rec, i)
        // the listener's view of the whole cycle, against which the
        // per-op counters are checked (trace coverage)
        if (on) SparkCounters.diff(rec.engineSnapshot(), before)
          .foreach { case (k, v) => tracer.attr(s"spark.$k", v) }
      })
      tracer.enabled = false
      if (on) w.probe(rec, i, before = false)
      rec.sample("cycle_wall_s", s)
      i += 1
    }
    rec.cycle = -1
    tracer.enabled = false
    rec.values("measure_s") = (System.nanoTime() - t0) / 1e9
    rec.values("cpu_s") = (processCpuNs() - cpu0) / 1e9
    rec.values("cycles") = i
    rec.phase = "finish"
    w.finish(rec)
    rec.engineSnapshot().foreach { case (k, v) => rec.values(s"spark_total.$k") = v }
    rec.spark.stop()

    if (traced) tracer.writeJsonl(out.resolve("spans.jsonl"))
    val doc = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> cpus,
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms,
        "cpu_ms" -> o.cpuMs, "read_bytes" -> o.readBytes,
        "write_bytes" -> o.writeBytes, "ok" -> o.ok, "error" -> o.error, "phase" -> o.phase,
        "cycle" -> o.cycle)),
      "checks" -> rec.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "samples" -> rec.samples.map { case (k, v) => k -> v.toList },
      "values" -> rec.values))
    Files.writeString(out.resolve("raw.json"), doc)
  }

  def session(out: Path, cpus: Int): SparkSession = {
    val s = graft.SparkConfig.builder("perfbench", cpus)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally all.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val all = Files.walk(p)
      try all.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally all.close()
    }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def processCpuNs(): Long = os.getProcessCpuTime

  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime

  /** Bytes this process has read and written so far: `rchar` and `wchar`
    * of /proc/self/io, which count every read and write call, page cache
    * hits included.
    */
  def processIo(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try {
      val kv = src.getLines().map(_.split(":\\s*"))
        .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      (kv("rchar"), kv("wchar"))
    } finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
