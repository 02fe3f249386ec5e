package graft.tools

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.obs.{PlanPhases, SparkCounters, StageRow}

/** Per-query engine trace. Each named query (default: every registered
  * query the bench does not memoize) runs a cold then a warm round, and
  * each round prints one JSON line:
  *  - `construct_s`: DataFrame construction wall, including any eager
  *    work an operator does and the analysis of the returned frame;
  *  - `analysis_s`, `optimization_s`, `planning_s`: the phases Spark's
  *    own tracker timed for the counting action;
  *  - `exec_s` and `rows`: the counting action's wall and result;
  *  - `counters`: the engine counters the round moved (jobs, tasks,
  *    executor CPU, GC, bytes read and shuffled, spill, queue wait);
  *  - `stages`: every stage of the round with its task sums, its wall and
  *    the driver gap before it;
  *  - `operators`: the executed plan's operator names.
  *
  * With a trailing concurrency > 1 it instead replays the bench's loaded
  * shape: the build-phase tables first, then that many submitter threads
  * over the queries, two passes, one JSON line per pass with the
  * makespan and every query's wall.
  *
  * Usage: Trace <sfDir> [query...] [concurrency]
  */
object Trace {

  final case class Record(query: String, round: String, rows: Long,
                          constructS: Double, phases: Map[String, Double],
                          execS: Double, counters: Map[String, Double],
                          startMs: Long, stages: Seq[StageRow],
                          operators: Seq[String]) {
    def json: String = {
      var prevDone = startMs
      val stageObjs = stages.sortBy(_.submitMs).map { s =>
        val gap = math.max(0L, s.submitMs - prevDone)
        prevDone = math.max(prevDone, s.completeMs)
        ListMap("id" -> s.id, "name" -> s.name.take(150),
          "start_s" -> (s.submitMs - startMs) / 1e3, "gap_s" -> gap / 1e3,
          "wall_s" -> (s.completeMs - s.submitMs) / 1e3) ++ ListMap.from(s.counts.toSeq.sortBy(_._1))
      }
      Mapper.writeValueAsString(ListMap("query" -> query, "round" -> round,
        "rows" -> rows, "construct_s" -> constructS) ++
        PlanPhases.Names.map(n => s"${n}_s" -> phases(n)) ++
        ListMap("exec_s" -> execS,
          "counters" -> ListMap.from(counters.toSeq.sortBy(_._1)),
          "stages" -> stageObjs, "operators" -> operators))
    }
  }

  private val Mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Cold then warm round of each query, serially, on `spark` as it is.
    * A round's stages are those submitted after it started, so stream
    * batches, which run under their own job group, are included. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[String]): Seq[Record] = {
    val counters = SparkCounters.install(spark.sparkContext)
    val actions = PlanPhases.install(spark)
    try queries.flatMap { name =>
      val fn = graft.SparkEntry.queries(name)
      Seq("cold", "warm").map { round =>
        val before = counters.snapshot
        val startMs = System.currentTimeMillis()
        val (df, constructS) = timed(fn(spark, sfDir))
        actions.take()
        val (rows, execS) = timed(df.count())
        val qes = actions.take()
        Record(name, round, rows, constructS, PlanPhases.seconds(qes), execS,
          SparkCounters.diff(counters.snapshot, before), startMs,
          counters.stages.filter(_.submitMs >= startMs),
          qes.lastOption.fold(Seq.empty[String])(PlanPhases.operators))
      }
    } finally {
      spark.listenerManager.unregister(actions)
      counters.close()
    }
  }

  /** The bench's loaded shape: build-phase tables first, then
    * `concurrency` submitter threads over `queries`, two passes. Returns
    * one JSON line per pass. */
  def replay(spark: SparkSession, sfDir: String, queries: Seq[String],
             concurrency: Int): Seq[String] = {
    import graft.ops.Pipeline
    import java.util.concurrent.Executors
    import scala.concurrent._
    import scala.concurrent.duration.Duration
    graft.ops.Sources.prewriteAll(spark, sfDir)
    Pipeline.shingled(spark, sfDir).count()
    Pipeline.corpusBands(spark, sfDir).rows.count()
    Pipeline.nearPairs(spark, sfDir).count()
    Pipeline.corpusClusters(spark, sfDir).count()
    Pipeline.corpusSegIndex(spark, sfDir).count()
    Pipeline.spanCut(spark, sfDir).count()
    val pool = Executors.newFixedThreadPool(concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 2).map { pass =>
      val (walls, makespan) = timed(Await.result(Future.sequence(queries.map { name =>
        Future {
          val (ok, wall) = timed(try { graft.SparkEntry.queries(name)(spark, sfDir).count(); true }
            catch { case t: Throwable =>
              System.err.println(s"$name FAILED: ${t.getMessage}"); false })
          (name, wall, ok)
        }
      }), Duration(20, "min")))
      Mapper.writeValueAsString(ListMap("pass" -> pass, "concurrency" -> concurrency,
        "makespan_s" -> makespan, "sum_wall_s" -> walls.map(_._2).sum,
        "failed" -> walls.filterNot(_._3).map(_._1),
        "walls" -> ListMap.from(walls.sortBy(-_._2).map(w => w._1 -> w._2))))
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rest = args.drop(1).toSeq
    val (names, concurrency) = rest.lastOption.flatMap(_.toIntOption)
      .fold((rest, 1))(n => (rest.init, n))
    val queries = if (names.nonEmpty) names
      else graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(graft.Bench.memoizedQueries)
    val spark = graft.SparkConfig.builder("graft-trace",
      graft.SparkConfig.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (JVM, parquet reader, shuffle, codegen) untimed
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().count()
    if (concurrency > 1) replay(spark, sfDir, queries, concurrency).foreach(println)
    else queries.foreach(q => run(spark, sfDir, Seq(q)).foreach(r => println(r.json)))
    spark.stop()
  }
}
