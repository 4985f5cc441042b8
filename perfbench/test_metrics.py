"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_returns_sample_count(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))

    def test_interpolates_between_closest_ranks(self):
        xs = [1.0, 2.0, 3.0, 4.0]
        self.assertAlmostEqual(metrics.percentile(xs, 50)[0], 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90)[0], 3.7)
        self.assertEqual(metrics.percentile(xs, 0)[0], 1.0)
        self.assertEqual(metrics.percentile(xs, 100)[0], 4.0)

    def test_p90_of_a_hundred(self):
        value, n = metrics.percentile(list(range(1, 101)), 90)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(n, 100)

    def test_single_and_empty(self):
        self.assertEqual(metrics.percentile([7.0], 90), (7.0, 1))
        self.assertEqual(metrics.percentile([], 50), (None, 0))


class UnionTest(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 4)]), 3)

    def test_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 5), (1, 2), (4, 7), (10, 11)]), 8)

    def test_unsorted_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(3, 4), (0, 3)]), 4)
        self.assertEqual(metrics.union_length([(2, 2), (5, 1)]), 0)
        self.assertEqual(metrics.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)


def _raw():
    """Two passes over two queries, the second traced; q2 fires one job
    during build and one during execute, overlapping by 10 ms."""
    def query(pass_, name, start, traced):
        return {"pass": pass_, "name": name, "tag": f"{pass_}/{name}", "traced": traced,
                **dict(
                    start_ms=start, build_end_ms=start + 100, plan_end_ms=start + 150,
                    end_ms=start + 400, wall_s=0.4, build_s=0.1, plan_s=0.05, exec_s=0.25,
                    count=1, plan_nodes=5, exchanges=1, codegen_compile_ms=2.0,
                    codegen_classes=1, catalyst_ms={"analysis_ms": 1, "optimization_ms": 2,
                                                    "planning_ms": 3},
                    persisted_rdds=0)}
    qs = [query(0, "q1", 0, False), query(0, "q2", 400, False),
          query(1, "q1", 1000, True), query(1, "q2", 1400, True)]
    jobs = [dict(job=0, tag="1/q2", phase="build", start_ms=1420, end_ms=1500, stages=[0]),
            dict(job=1, tag="1/q2", phase="execute", start_ms=1490, end_ms=1700, stages=[1])]
    stage = dict(tasks=4, failed_tasks=0, run_ms=400, cpu_ns=3e8, gc_ms=10, input_bytes=0,
                 input_rows=100, shuffle_read_bytes=0, shuffle_write_bytes=0,
                 spill_bytes=0, output_bytes=0)
    stages = [dict(stage, stage=0, attempt=0, job=0, start_ms=1425, end_ms=1495),
              dict(stage, stage=1, attempt=0, job=1, start_ms=1500, end_ms=1690)]
    return dict(queries=qs, jobs=jobs, stages=stages, stream_progress=[], actions=[],
                setup=dict(setup_s=2.5, pin_s=0.7),
                cpus=4, vm_hwm_kb=2048)


class ReductionTest(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(_raw())
        self.assertAlmostEqual(m["total_s"][0], 0.8)
        self.assertEqual(m["total_s"][2], 2)
        self.assertEqual(m["query_p50_s"][2], 4)
        self.assertEqual(m["setup_s"][:2], (2.5, "s"))
        self.assertEqual(m["peak_rss_mb"][0], 2.0)

    def test_driver_gap_is_wall_minus_job_union(self):
        m = metrics.per_layer(_raw())
        # busy = union of [1420,1500] and [1490,1700] = 280 ms
        self.assertAlmostEqual(m["exec.driver_gap_s"][0], 0.8 - 0.28)
        self.assertEqual(m["exec.jobs"][0], 2)
        self.assertEqual(m["ops.build_jobs"][0], 1)
        self.assertAlmostEqual(m["ops.build_job_frac"][0], 0.5)
        self.assertAlmostEqual(m["exec.core_util"][0], 0.8 / (0.28 * 4))
        self.assertEqual(m["catalyst.planning_ms"][0], 6)

    def test_spans_nest_and_phases_sum_to_wall(self):
        span_list = metrics.spans(_raw())
        by_id = {s["id"]: s for s in span_list}
        self.assertEqual(by_id["job:0"]["parent"], "q:1/q2/build")
        self.assertEqual(by_id["job:1"]["parent"], "q:1/q2/execute")
        self.assertEqual(by_id["stage:1.0"]["parent"], "job:1")
        for q in (s for s in span_list if s["layer"] == "query"):
            phases = [s for s in span_list if s["parent"] == q["id"]]
            self.assertEqual(sum(s["end_ms"] - s["start_ms"] for s in phases),
                             q["end_ms"] - q["start_ms"])
        self.assertEqual(metrics.phase_gap(span_list), 0.0)
        self_s = metrics.layer_self_times(span_list)
        self.assertAlmostEqual(self_s["query"], 0.0)
        # build [1400,1500] holds job 0 [1420,1500]: 20 ms self; q1 build 100 ms
        self.assertAlmostEqual(self_s["build"], 0.12)
        self.assertAlmostEqual(self_s["job"], (80 - 70 + 210 - 190) / 1000.0)
        span_list[1]["end_ms"] -= 40  # q1's build phase now misses 40 of its 400 ms
        self.assertAlmostEqual(metrics.phase_gap(span_list), 0.1)

    def test_replay_jobs_nest_under_their_micro_batch(self):
        raw = _raw()
        raw["stream_progress"] = [dict(tag="1/q2", run_id="r", batch=0, start_ms=1410,
                                       triggerExecution=95)]
        by_id = {s["id"]: s for s in metrics.spans(raw)}
        self.assertEqual(by_id["batch:r/0"]["parent"], "q:1/q2/build")
        self.assertEqual(by_id["job:0"]["parent"], "batch:r/0")
        self.assertEqual(by_id["job:1"]["parent"], "q:1/q2/execute")

    def test_per_layer_totals_cover_traced_queries_only(self):
        m = metrics.per_layer(_raw())
        self.assertEqual(m["ops.build_s"][:3:2], (0.2, 2))
        self.assertEqual(m["exec.tasks"][0], 8)

    def test_codegen_totals_come_from_each_query_first_run(self):
        raw = _raw()
        # pass 0 compiles; pass 1 (the traced one) hits the codegen cache
        for q, (ms, classes) in zip(raw["queries"], [(30.0, 4), (50.0, 6), (1.0, 0), (0.0, 0)]):
            q["codegen_compile_ms"], q["codegen_classes"] = ms, classes
        m = metrics.per_layer(raw)
        self.assertEqual(m["codegen.compile_ms"][0], 80.0)
        self.assertEqual(m["codegen.classes"][0], 10)


if __name__ == "__main__":
    unittest.main()
