package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.{PlanPhases, SparkCounters}

/** The engine counters in graft.obs: reads drain the listener bus, job
  * groups and stages each get their own sums, and Spark's planning
  * tracker reports every phase of an action.
  */
class ObsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def withCounters[T](body: SparkCounters => T): T = {
    val c = SparkCounters.install(spark.sparkContext)
    try body(c) finally c.close()
  }

  test("a read right after an action sees every task of it, with no sleep") {
    // A slow action listener holds the shared listener queue after each
    // SQL action, so the task events of the job that follows are still
    // queued when that job returns: only a read that drains sees them.
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = Thread.sleep(300)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try withCounters { c =>
      val sc = spark.sparkContext
      (1 to 5).foreach { i =>
        spark.range(10).count()
        sc.setJobGroup(s"obs-drain:$i", "drain", false)
        try sc.parallelize(1 to 100, 7).map(_ * 2).count()
        finally sc.clearJobGroup()
        assert(c.groups("obs-drain:").toMap.get(i.toString).map(_("tasks")) === Some(7.0))
      }
      assert(c.snapshot("tasks") >= 35.0)
    } finally spark.listenerManager.unregister(slow)
  }

  test("two concurrent job groups are counted apart") {
    withCounters { c =>
      val sc = spark.sparkContext
      val pool = Executors.newFixedThreadPool(2)
      def submit(group: String, parts: Int) = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          sc.setJobGroup(group, group, false)
          (1 to 4).foreach(_ => sc.parallelize(1 to 1000, parts).map(_ + 1).count())
        }
      })
      try Seq(submit("obs-conc:a", 3), submit("obs-conc:b", 5)).foreach(_.get(2, TimeUnit.MINUTES))
      finally pool.shutdown()
      val g = c.groups("obs-conc:").toMap
      assert(g.keySet === Set("a", "b"))
      assert(g("a")("tasks") === 12.0)
      assert(g("b")("tasks") === 20.0)
      assert(g("a")("executor_cpu_s") >= 0.0 && g("b")("run_s") >= 0.0)
    }
  }

  test("stage rows sum to the totals") {
    withCounters { c =>
      import org.apache.spark.sql.functions._
      spark.range(0, 5000, 1, 6).groupBy((col("id") % 13).as("k"))
        .agg(sum("id")).collect()
      spark.range(0, 100, 1, 3).count()
      val total = c.snapshot
      val rows = c.stages
      assert(rows.nonEmpty)
      assert(rows.exists(_.counts("shuffle_write_bytes") > 0))
      SparkCounters.TaskKeys.foreach { k =>
        assert(math.abs(rows.map(_.counts(k)).sum - total(k)) <= 1e-6 * (1 + total(k)), k)
      }
      rows.foreach { r =>
        assert(r.counts("max_task_cpu_s") <= r.counts("executor_cpu_s") + 1e-9)
        assert(r.submitMs > 0 && r.completeMs >= r.submitMs, r)
      }
    }
  }

  test("a SQL query reports all three tracker phases") {
    val phases = PlanPhases.install(spark)
    try {
      phases.take()
      spark.sql("SELECT id % 7 AS k, count(*) AS n FROM range(1000) GROUP BY id % 7")
        .collect()
      val qes = phases.take()
      assert(qes.size === 1)
      assert(PlanPhases.Names.forall(qes.head.tracker.phases.contains))
      assert(PlanPhases.seconds(qes).values.forall(_ >= 0.0))
      assert(PlanPhases.operators(qes.head).exists(_.contains("HashAggregate")))
    } finally spark.listenerManager.unregister(phases)
  }
}
