"""Tests for the traced-run figures: python3 -m unittest discover perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from report import coverage_checks, layer_figures, trace_coverage, trace_overhead  # noqa: E402

S = 1_000_000_000


def cycle(i, n, start, end, job_wall):
    return {"id": i, "parent": 0, "name": "cycle", "start_ns": start, "end_ns": end,
            "attrs": {"cycle": n, "spark.job_wall_s": job_wall}}


def op(i, parent, start, end, job_wall, jobs=1):
    return {"id": i, "parent": parent, "name": "op", "start_ns": start, "end_ns": end,
            "attrs": {"spark.job_wall_s": job_wall, "spark.jobs": jobs}}


class TraceCoverage(unittest.TestCase):
    def test_full_when_every_job_runs_inside_an_op(self):
        spans = [cycle(1, 2, 0, 10 * S, 3.0), op(2, 1, 0, 4 * S, 1.0), op(3, 1, 5 * S, 9 * S, 2.0)]
        self.assertAlmostEqual(trace_coverage(spans, {2}), 1.0)

    def test_spark_work_outside_ops_shows_and_fails_the_check(self):
        # the listener saw 4 s of jobs over the cycle, the ops only 3 s
        spans = [cycle(1, 2, 0, 10 * S, 4.0), op(2, 1, 0, 4 * S, 1.0), op(3, 1, 5 * S, 9 * S, 2.0),
                 cycle(4, 0, 0, S, 1.0), op(5, 4, 0, S, 1.0)]
        self.assertAlmostEqual(trace_coverage(spans, {2}), 0.75)
        checks = coverage_checks(spans)
        self.assertEqual([c["ok"] for c in checks], [False, True])


class LayerFigures(unittest.TestCase):
    def test_only_the_requested_cycles_count(self):
        spans = [cycle(1, 0, 0, 10 * S, 5.0), op(2, 1, 0, 10 * S, 5.0, jobs=50),
                 cycle(3, 2, 0, 4 * S, 1.0), op(4, 3, 0, 2 * S, 1.0, jobs=2),
                 cycle(5, 4, 0, 4 * S, 1.0), op(6, 5, 0, 2 * S, 1.0, jobs=4)]
        ops, fig = layer_figures(spans, {2, 4})
        self.assertEqual([sp["id"] for sp in ops], [4, 6])
        self.assertAlmostEqual(fig["spark_jobs_per_op"], 3.0)
        self.assertAlmostEqual(fig["driver_ms_per_op"], 1000.0)
        self.assertAlmostEqual(fig["client_ms_per_cycle"], 2000.0)


class TraceOverhead(unittest.TestCase):
    def test_neighbours_mean_cancels_a_linear_drift(self):
        walls = [9.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
        self.assertAlmostEqual(trace_overhead(walls), 0.0)

    def test_a_slower_traced_cycle_shows(self):
        walls = [9.0, 1.0, 1.1, 1.0, 1.1, 1.0, 1.1, 1.0]
        self.assertAlmostEqual(trace_overhead(walls), 0.1)


if __name__ == "__main__":
    unittest.main()
