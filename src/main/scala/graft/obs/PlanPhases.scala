package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the QueryExecution of every action a session completes. Its
  * `tracker` holds the analysis, optimization and planning times Spark
  * measured while running the action, so reading them forces no lazy
  * plan. Actions are reported through the listener bus; [[take]] drains
  * it first.
  */
final class PlanPhases extends QueryExecutionListener {
  private val done = new ConcurrentLinkedQueue[QueryExecution]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    done.add(qe); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The actions that succeeded since the last call, in completion order. */
  def take(): Seq[QueryExecution] = {
    GraftListenerBus.drain()
    Iterator.continually(done.poll()).takeWhile(_ != null).toList
  }
}

object PlanPhases {
  val Names: Seq[String] = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  def install(spark: SparkSession): PlanPhases = {
    GraftListenerBus.drain()
    val p = new PlanPhases
    spark.listenerManager.register(p)
    p
  }

  /** Seconds per phase in [[Names]], summed over `qes`. */
  def seconds(qes: Seq[QueryExecution]): Map[String, Double] =
    Names.map(n => n -> qes.flatMap(_.tracker.phases.get(n)).map(_.durationMs / 1e3).sum).toMap

  /** Operator names of the executed plan in pre-order, through adaptive
    * query stages and subqueries. */
  def operators(qe: QueryExecution): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s.nodeName +: walk(s.plan)
      case _ => p.nodeName +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(qe.executedPlan)
  }
}
