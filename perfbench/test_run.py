"""Tests of the benchmark's statistics and job attribution.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run


def span(sid, start, end, parent=-1, traced=True, name="unit", attrs=None, ok=True):
    return {"id": sid, "parent": parent, "name": name, "start_ms": start,
            "end_ms": end, "dur_ms": float(end - start), "traced": traced,
            "ok": ok, "attrs": attrs or {}}


def job(jid, start, end, **metrics):
    j = {"id": jid, "start_ms": start, "end_ms": end, "stages": 1,
         "tasks": 4, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0, "input_rows": 0,
         "input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "spill_bytes": 0, "peak_exec_mem": 0}
    j.update(metrics)
    return j


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        xs = list(range(1, 101))            # p90 = 90, ten samples above it
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertIsNone(run.percentile(xs[:99], 90))   # nine above
        self.assertIsNone(run.percentile(xs, 95))

    def test_median_needs_twenty_samples(self):
        self.assertIsNone(run.percentile(list(range(1, 20)), 50))
        self.assertEqual(run.percentile(list(range(1, 21)), 50), 10)

    def test_highest_qualifying_percentile(self):
        self.assertEqual(run.highest_percentile(list(range(1, 201))), (95, 190))
        self.assertEqual(run.highest_percentile(list(range(1, 41))), (75, 30))
        self.assertIsNone(run.highest_percentile(list(range(1, 11))))

    def test_geomean_and_median(self):
        self.assertAlmostEqual(run.geomean([1.0, 100.0]), 10.0)
        self.assertEqual(run.median([3, 1, 2]), 2)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(run.union_ms([(5, 6), (0, 10)]), 10)
        self.assertEqual(run.union_ms([]), 0)


class AttributionTest(unittest.TestCase):
    def test_jobs_go_to_the_innermost_window(self):
        spans = [span(0, 100, 200), span(1, 110, 150, parent=0, name="profile"),
                 span(2, 300, 400)]
        jobs = [job(7, 120, 140), job(8, 150, 190), job(9, 300, 400)]
        self.assertEqual(run.attribute(jobs, spans), {7: 1, 8: 0, 9: 2})

    def test_jobs_outside_every_window_are_unattributed(self):
        spans = [span(0, 100, 200)]
        jobs = [job(1, 90, 120), job(2, 150, 210), job(3, 150, -1)]
        self.assertEqual(run.attribute(jobs, spans), {1: None, 2: None, 3: None})

    def test_per_layer_sums_a_traced_unit_and_flags_strays(self):
        raw = {
            "cycle": 1, "cpus": 4, "empty_job_ms": 10.0, "extras": {}, "vm_hwm_kb": 2048,
            "spans": [span(0, 0, 100, traced=False), span(1, 200, 300),
                      span(2, 210, 250, parent=1, name="profile",
                           attrs={"times_ms": {"aggregate": 30}})],
            "jobs": [job(1, 210, 230, cpu_ms=40.0, shuffle_write_bytes=5),
                     job(2, 240, 280, cpu_ms=40.0), job(3, 500, 510)],
        }
        out = run.per_layer(raw, "profile_stream")
        self.assertEqual(out["spark.jobs"], 2)
        self.assertEqual(out["spark.job_ms"], 60)
        self.assertEqual(out["spark.driver_residual_ms"], 40)
        self.assertEqual(out["spark.sched_floor_ms"], 20)
        self.assertEqual(out["spark.shuffle_write_bytes"], 5)
        self.assertAlmostEqual(out["spark.cpu_util"], 80.0 / (100 * 4))
        self.assertEqual(out["profiler.pass.aggregate_ms"], 30)
        self.assertEqual(out["profiler.pass.rest_ms"], 10)
        self.assertEqual(out["trace.unattributed_jobs"], 1)
        self.assertEqual(out["trace.overhead"], 1.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_runs_report_exactly_the_listed_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        raw = {"cycle": 1, "cpus": 4, "empty_job_ms": 10.0, "extras": {},
               "vm_hwm_kb": 2048, "first_call_ms": 5000,
               "spans": [span(0, 0, 100, traced=False), span(1, 200, 300)],
               "jobs": []}
        plain = run.end_to_end(raw, 0, "profile_stream")
        traced = run.per_layer(raw, "profile_stream")
        self.assertEqual({k: u for k, (_, u) in plain.items()},
                         {m["name"]: m["unit"] for m in bench["end_to_end"]})
        self.assertEqual({k: run.unit_of(k) for k in traced},
                         {m["name"]: m["unit"] for m in bench["per_layer"]})


if __name__ == "__main__":
    unittest.main()
