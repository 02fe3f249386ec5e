package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.obs.PlanPhases
import graft.tools.Trace

/** Smoke test of the tools' trace against a running session: one
  * registered query traced cold then warm. */
class TraceSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  test("Trace.run returns cold and warm records with jobs and phases") {
    val recs = Trace.run(spark, sfDir, Seq("q_agg_group"))
    assert(recs.map(r => (r.query, r.round)) ===
      Seq("q_agg_group" -> "cold", "q_agg_group" -> "warm"))
    recs.foreach { r =>
      assert(r.counters("jobs") >= 1.0, r)
      assert(r.phases.keySet === PlanPhases.Names.toSet)
      assert(r.phases.values.forall(_ >= 0.0), r.phases)
      assert(r.constructS >= 0.0 && r.execS >= 0.0)
      assert(r.stages.nonEmpty && r.stages.map(_.counts("tasks")).sum <= r.counters("tasks"))
      assert(r.operators.nonEmpty)
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.json)
      assert(json.get("stages").size === r.stages.size)
      assert(json.get("planning_s").asDouble >= 0.0)
    }
    assert(recs.head.rows === recs.last.rows)
  }
}
