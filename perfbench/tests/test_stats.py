"""Tests for the benchmark's own logic: percentile picking, span self
time, failure accounting, and the metric names it prints.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import stats  # noqa: E402


class PercentilePicker(unittest.TestCase):
    def test_exact_p90_when_ten_samples_lie_beyond(self):
        p, v = stats.pick_percentile(list(range(1, 101)), 0.90)
        self.assertEqual((p, v), (0.90, 90))

    def test_falls_back_to_a_lower_percentile_with_few_samples(self):
        p, v = stats.pick_percentile(list(range(1, 51)), 0.90)
        self.assertEqual((p, v), (0.80, 40))

    def test_never_reports_below_the_median(self):
        self.assertEqual(stats.pick_percentile(list(range(1, 17)), 0.90), (0.5, 8))

    def test_p99_needs_a_thousand_samples(self):
        self.assertEqual(stats.pick_percentile(list(range(1, 1001)), 0.99), (0.99, 990))
        p, _ = stats.pick_percentile(list(range(1, 501)), 0.99)
        self.assertEqual(p, 0.98)

    def test_always_leaves_ten_samples_beyond(self):
        for n in range(20, 300, 7):
            xs = [float(i) for i in range(n, 0, -1)]
            p, v = stats.pick_percentile(xs, 0.99)
            self.assertLessEqual(p, 0.99)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(stats.pick_percentile([5.0, 1.0, 3.0], 0.9), (0.5, 3.0))
        self.assertEqual(stats.pick_percentile([], 0.9), (0.0, 0.0))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 50.0},
                {"start": 90.0, "end": 120.0}, {"start": -5.0, "end": 5.0}]
        # covered: [0,5] + [10,50] + [90,100] = 55
        self.assertAlmostEqual(stats.self_time(span, kids), 45.0)

    def test_nested_and_disjoint_children(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 9.0}, {"start": 2.0, "end": 3.0},
                {"start": 11.0, "end": 12.0}]
        self.assertAlmostEqual(stats.self_time(span, kids), 2.0)
        self.assertAlmostEqual(stats.self_time(span, []), 10.0)


class FailureAccounting(unittest.TestCase):
    def test_tally(self):
        self.assertEqual(stats.tally([True, False, True, True]), (4, 1, 0.25))
        self.assertEqual(stats.tally([]), (0, 0, 0.0))


def query_record(names):
    """A small synthetic raw record of a traced query-workload run."""
    def window(traced, scale):
        spans, samples, jobs, stages, t = [], [], [], [], 0.0
        spans.append({"id": 1, "name": "run", "parent": 0, "start": 0.0, "end": 0.0})
        sid = 1
        for p in range(2):
            sid += 1
            pass_id, p0 = sid, t
            for n in names:
                q, b, a = sid + 1, sid + 2, sid + 3
                sid += 3
                spans += [{"id": q, "name": f"query:{n}", "parent": pass_id, "start": t, "end": t + 10 * scale},
                          {"id": b, "name": "build", "parent": q, "start": t, "end": t + 2 * scale},
                          {"id": a, "name": "action", "parent": q, "start": t + 2 * scale, "end": t + 10 * scale}]
                jobs.append({"id": len(jobs), "start": t + 3, "end": t + 8, "span": a, "role": "", "stages": [len(jobs)]})
                stages.append({"id": len(stages), "job": len(stages), "span": a, "role": "", "start": t + 3,
                               "end": t + 8, "tasks": 4, "run_ms": [1.0, 1.0, 2.0, 4.0], "wait_ms": 1.0,
                               "cpu_ms": 3.0, "gc_ms": 0.5, "shuffle_read_b": 1024.0, "shuffle_write_b": 2048.0,
                               "spill_b": 0.0, "peak_mem_b": 4096})
                samples.append({"pass": p, "name": n, "ms": 10 * scale, "build_ms": 2 * scale, "ok": True})
                t += 10 * scale
            spans.append({"id": pass_id, "name": "pass", "parent": 1, "start": p0, "end": t})
        w = {"traced": traced, "start": 0.0, "end": t, "pass_ms": [t / 2, t / 2], "samples": samples,
             "cache": [{"pass": 0, "name": names[0], "entries": 2, "bytes": 3 * 1024 * 1024}] if traced else [],
             "spans": spans if traced else []}
        if traced:
            w.update({"spark_jobs": jobs, "spark_stages": stages,
                      "plans": [{"func": "save", "ok": True, "duration_ms": 5.0, "end": 9.0, "write": None,
                                 "phases": {"analysis": {"start": 2.0, "end": 3.0},
                                            "optimization": {"start": 3.0, "end": 5.0},
                                            "planning": {"start": 5.0, "end": 6.0}}}]})
        return w
    return {"meta": {"nproc": 4, "spark_version": "x", "driver_heap_mb": 1, "seed": 1},
            "launch_ms": -1200.0, "rss_peak_mb": 900.0,
            "gate": [{"name": n, "ms": 100.0, "error": None} for n in names],
            "windows": [window(False, 1.0), window(True, 1.1), window(False, 1.0)]}


def api_record():
    def window(traced, start):
        reqs = [{"op": op, "start": start + i, "ms": 10.0 + i, "code": 200, "ok": True}
                for i, op in enumerate(stats.API_OPS * 5)]
        jobs = [{"start": start, "ms": 900.0, "run_ms": 600.0, "upsert_ms": 200.0, "lookup_ms": 100.0,
                 "rows": 5000, "ok": True, "target": "/w/etl/out_1"}]
        w = {"traced": traced, "start": start, "end": start + 8000.0, "requests": reqs, "jobs": jobs,
             "spans": []}
        if traced:
            w["spans"] = [{"id": 2, "name": "run", "parent": 1, "start": start, "end": start + 600.0,
                           "target": "/w/etl/out_1"},
                          {"id": 3, "name": "request:metrics", "parent": 0, "start": start, "end": start + 20.0}]
            w.update({"spark_jobs": [{"id": 0, "start": start + 5, "end": start + 15, "span": 0, "role": "",
                                      "stages": [0]}],
                      "spark_stages": [],
                      "plans": [{"func": "save", "ok": True, "duration_ms": 400.0, "end": start + 550,
                                 "phases": {"planning": {"start": start + 10, "end": start + 12}},
                                 "write": {"job_commit_ms": 7, "task_commit_ms": 2, "files": 1,
                                           "bytes": 2 ** 20, "rows": 5000, "path": "file:/w/etl/out_1"}}]})
        return w
    return {"meta": {"nproc": 4}, "launch_ms": -5000.0, "rss_peak_mb": 800.0,
            "warm": {"start": -9000.0, "end": -1000.0, "requests": [], "jobs": []},
            "windows": [window(False, 0.0), window(True, 10000.0), window(False, 20000.0)]}


class MetricNames(unittest.TestCase):
    """Every metric BENCHMARK.json declares is computed, and nothing else."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_end_to_end_names(self):
        want = {m["name"] for m in self.spec["end_to_end"]}
        self.assertEqual(set(stats.end_to_end("query", query_record(["a", "b"]))), want)
        self.assertEqual(set(stats.end_to_end("api", api_record())), want)

    def test_per_layer_names(self):
        want = {m["name"] for m in self.spec["per_layer"]}
        sys.path.insert(0, BENCH)
        import run
        q = stats.per_layer_query(query_record(run.QUERY_MIX), run.QUERY_MIX)
        a = stats.per_layer_api(api_record())
        proc = stats.process_metrics("query", query_record(run.QUERY_MIX))
        self.assertEqual(set(proc), set(stats.process_metrics("api", api_record())))
        q.update(proc)
        a.update(proc)
        self.assertEqual(set(q) | set(a), want)
        self.assertTrue(set(q) <= want and set(a) <= want)

    def test_query_layer_values(self):
        m = stats.per_layer_query(query_record(["a", "b"]), ["a", "b"])
        self.assertAlmostEqual(m["queries.build_ms"], 2 * 2.2)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertAlmostEqual(m["exec.skew_max"], 4.0 / 1.5)
        self.assertAlmostEqual(m["cache.pinned_mb"], 3.0)
        self.assertAlmostEqual(m["trace.query_coverage"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)
        # action 8.8 ms long, its one job covers 5 ms of it
        self.assertAlmostEqual(m["driver.gap_ms"], 2 * 3.8)

    def test_api_layer_values(self):
        m = stats.per_layer_api(api_record())
        self.assertAlmostEqual(m["etl.wait_ms"], 200.0)
        self.assertEqual(m["commit.job_ms"], 7)
        self.assertAlmostEqual(m["write.mb"], 1.0)
        self.assertAlmostEqual(m["driver.gap_ms"], 10.0)
        self.assertAlmostEqual(m["etl.load_rows_per_s"], 5000 / 0.9)
        self.assertAlmostEqual(m["setup.warm_s"], 8.0)


class EndToEnd(unittest.TestCase):
    def test_values(self):
        m = stats.end_to_end("query", query_record(["a", "b"]))
        self.assertAlmostEqual(m["setup_s"][0], 1.2)
        self.assertAlmostEqual(stats.end_to_end("api", api_record())["setup_s"][0], 5.0)
        self.assertAlmostEqual(m["pass_s"][0], 0.02)
        self.assertAlmostEqual(m["op_latency_ms"][0], 10.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 4 / 0.04)

    def test_kind_geomean(self):
        ops = [("a", 1.0), ("a", 100.0), ("a", 4.0), ("b", 16.0)]
        self.assertAlmostEqual(stats.kind_geomean(ops), 8.0)
        self.assertEqual(stats.kind_geomean([]), 0.0)


if __name__ == "__main__":
    unittest.main()
