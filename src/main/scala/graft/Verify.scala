package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing args: restrict to named queries (local iteration).
    val only: Set[String] = args.drop(2).toSet
    val spark = SparkConfig.builder("graft-verify", SparkConfig.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // pin the per-SF scratch tag BEFORE the oracle dump so read_csv/
    // read_json paths in the SQL point at this run's files
    ops.Sources.oracleSfDir = sfDir

    // oracle_sql.json is written FIRST: a single hung/crashed query must
    // not take the whole round's oracle map down with it.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Concurrent submission (4 threads): queries are independent and
    // each writes its own directory; Spark's scheduler interleaves the
    // jobs. Cuts the sf0.01 wall roughly 3x vs sequential.
    import java.util.concurrent.Executors
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    // Bounded wait: one pathological query must not stall the gate for
    // every other (already-written) result. 30 min >> the ~40 s the full
    // sf0.01 dump takes; on timeout, exit cleanly with what completed.
    try Await.result(Future.sequence(fs), 30.minutes)
    catch { case _: TimeoutException =>
      System.err.println("[verify] timed out; emitting completed results")
      spark.stop(); System.exit(0)
    }
    pool.shutdown()
    val (served, built) = api.BuildCache.evidence
    System.err.println(s"[verify] build cache: ${served.size} served, " +
      s"${built.size} built" + (if (built.isEmpty) "" else built.mkString(": ", " ", "")))
    // release every session-keyed cache; nothing may stay pinned after a
    // run (the library must be embeddable in a long-lived server). The
    // result frames' localCheckpoint RDDs are reaped asynchronously by
    // the ContextCleaner once unreferenced — give it one GC cycle so the
    // leak check counts only entries something actually still holds.
    Graft.clear(spark)
    System.gc()
    Thread.sleep(2000)
    val pinned = spark.sparkContext.getPersistentRDDs
    if (pinned.nonEmpty)
      System.err.println(s"[verify] WARNING: ${pinned.size} persisted RDDs still pinned after Graft.clear: " +
        pinned.values.map(_.toString).mkString("; "))
    spark.stop()
  }
}
