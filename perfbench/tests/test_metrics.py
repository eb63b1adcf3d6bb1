"""Unit tests of the benchmark's metric definitions, on hand-made records.

  python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import hashlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import run  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def key_span(p, k, start, wall):
    return {"pass": p, "key": k, "phase": "key", "start_ms": start,
            "end_ms": start + wall, "wall_ms": wall}


def result(fail_key=None):
    """Three passes over keys a, b, c; `fail_key` threw in every pass."""
    passes, spans, steps = [], [], []
    t = 0
    for p in range(3):
        start = t
        for k, wall in (("a", 100.0), ("b", 200.0), ("c", 300.0 + 10 * p)):
            spans.append(key_span(p, k, t, wall))
            step = {"pass": p, "key": k, "phase": "build", "start_ms": t,
                    "end_ms": t + wall, "wall_ms": wall}
            if k == fail_key:
                step["error"] = "java.lang.IllegalStateException: injected"
            steps.append(step)
            t += wall
        passes.append({"pass": p, "key": "pass", "phase": "pass", "start_ms": start,
                       "end_ms": t, "wall_ms": float(t - start)})
    return {"passes": passes, "key_spans": spans, "steps": steps,
            "peak_rss_kb": 2048 * 1024, "live_heap_bytes": 300 * 2**20,
            "nonheap_bytes": 200 * 2**20, "result_errors": []}


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_the_code(self):
        with open(BENCHMARK) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([m["name"] for m in b["end_to_end"]], list(metrics.END_TO_END))
        for m in b["end_to_end"]:
            self.assertEqual(m["unit"], metrics.END_TO_END[m["name"]][0])
            self.assertEqual(m["better"], "lower")
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.EXPORTED_PER_LAYER)
        for m in b["per_layer"]:
            self.assertEqual(m["unit"], metrics.PER_LAYER[m["name"]][0])
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_end_to_end_schema(self):
        m = metrics.end_to_end(result(), [9.0, 11.0, 10.0], {})
        self.assertEqual(list(m), list(metrics.END_TO_END))
        for v in m.values():
            self.assertEqual(set(v) - {"percentile"}, {"value", "unit", "n"})
        self.assertEqual(m["setup_s"]["value"], 10.0)
        self.assertEqual(m["cold_pass_s"]["value"], 0.6)
        self.assertEqual(m["key_p50_s"]["n"], 6)
        self.assertEqual(m["key_tail_s"]["percentile"], metrics.TAIL_PERCENTILE)
        self.assertEqual(m["peak_rss_mb"]["value"], 2048.0)
        self.assertEqual(m["live_heap_mb"]["value"], 500.0)

    def test_key_tail_is_nearest_rank(self):
        self.assertEqual(metrics.key_tail(list(range(1, 21))), (18, 90))
        self.assertEqual(metrics.key_tail([3.0, 1.0, 2.0]), (3.0, 90))


class Inputs(unittest.TestCase):
    def test_committed_tables_match_their_digests(self):
        self.assertRegex(run.check_data(), "^[0-9a-f]{64}$")

    def test_a_changed_table_is_refused(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "t.parquet"), "wb") as f:
                f.write(b"changed")
            with open(os.path.join(d, "SHA256SUMS"), "w") as f:
                f.write(hashlib.sha256(b"original").hexdigest() + "  t.parquet\n")
            with mock.patch.object(run, "DATA_DIR", d), \
                    contextlib.redirect_stderr(io.StringIO()):
                self.assertRaises(SystemExit, run.check_data)


class FailedKeys(unittest.TestCase):
    def test_failed_key_is_excluded_and_counted(self):
        r = result(fail_key="b")
        failed = metrics.failed_keys(r, {})
        self.assertEqual(list(failed), ["b"])
        m = metrics.end_to_end(r, [10.0], failed)
        # pass 0 is a (100) + c (300); b's 200 ms is taken out
        self.assertAlmostEqual(m["cold_pass_s"]["value"], 0.4)
        self.assertEqual(m["key_p50_s"]["n"], 4)
        for v in m.values():
            self.assertGreater(v["value"], 0)

    def test_oracle_mismatch_counts_as_failure(self):
        failed = metrics.failed_keys(result(), {"c": "rowcount 1 != 2"})
        self.assertEqual(failed, {"c": "oracle: rowcount 1 != 2"})
        m = metrics.end_to_end(result(), [10.0], failed)
        self.assertAlmostEqual(m["warm_pass_s"]["value"], 0.3)

    def test_failed_key_counts_in_no_layer_metric(self):
        t = Spans.trace(None)
        t["passes"][0].update(end_ms=105, wall_ms=105.0)
        t["keys"].append({"pass": 0, "key": "x", "start_ms": 95, "end_ms": 100,
                          "wall_ms": 5.0})
        t["steps"].append({"pass": 0, "key": "x", "phase": "build", "start_ms": 95,
                           "end_ms": 100, "wall_ms": 5.0, "error": "injected"})
        t["layers"].append({"pass": 0, "key": "x", "phase": "build", "jobs": 7,
                            "tasks": 70, "stages": 7, "exec_run_ms": 40})
        r = {"setup": {"session_ms": 1.0, "warmup_ms": 1.0}, "cpus": 1}
        clean = metrics.per_layer(Spans.trace(None), r)
        with_x = metrics.per_layer(t, r, {"x": "injected"})
        self.assertEqual(list(metrics.per_key(t, {"x": "injected"})), ["0:a"])
        for name in ("build.wall_ms", "build.jobs", "build.tasks", "exec.run_ms",
                     "build.share"):
            self.assertEqual(with_x[name]["value"], clean[name]["value"], name)
        # the failed key's 5 ms leave the wall that busy_frac divides by
        self.assertAlmostEqual(with_x["exec.busy_frac"]["value"], 0.3)
        self.assertAlmostEqual(clean["exec.busy_frac"]["value"], 0.3)


class Spans(unittest.TestCase):
    def trace(self):
        return {
            "passes": [{"pass": 0, "start_ms": 0, "end_ms": 100, "wall_ms": 100.0}],
            "keys": [{"pass": 0, "key": "a", "start_ms": 5, "end_ms": 95, "wall_ms": 90.0}],
            "steps": [
                {"pass": 0, "key": "a", "phase": "build", "start_ms": 5, "end_ms": 60,
                 "wall_ms": 55.0},
                {"pass": 0, "key": "a", "phase": "drain", "start_ms": 62, "end_ms": 95,
                 "wall_ms": 33.0}],
            "jobs": [
                {"id": 0, "pass": 0, "key": "a", "phase": "build", "start_ms": 10,
                 "end_ms": 30},
                {"id": 1, "pass": 0, "key": "a", "phase": "build", "start_ms": 20,
                 "end_ms": 40},
                {"id": 2, "pass": 0, "key": "a", "phase": "drain", "start_ms": 70,
                 "end_ms": 90}],
            "stages": [{"id": 0, "attempt": 0, "job": 0, "pass": 0, "key": "a",
                        "phase": "build", "start_ms": 11, "end_ms": 29, "tasks": 4}],
            "layers": [{"pass": 0, "key": "a", "phase": "build", "jobs": 2, "tasks": 4,
                        "stages": 1, "exec_run_ms": 30}],
            "resolves": [],
        }

    def test_self_time_and_nesting(self):
        sp = metrics.spans(self.trace())
        by_id = {s["id"]: s for s in sp}
        for s in sp:
            self.assertGreaterEqual(s["self_ms"], 0)
            if s["parent"] is not None:
                p = by_id[s["parent"]]
                self.assertGreaterEqual(s["start_ms"], p["start_ms"])
                self.assertLessEqual(s["end_ms"], p["end_ms"])
        build = next(s for s in sp if s["name"] == "a.build")
        # 55 ms of build, jobs cover [10, 40]: overlapping jobs count once
        self.assertEqual(build["self_ms"], 25)

    def test_driver_time_is_wall_without_jobs(self):
        k = metrics.per_key(self.trace())["0:a"]
        self.assertEqual(k["build"]["driver_ms"], 25.0)
        self.assertEqual(k["drain"]["driver_ms"], 13.0)
        self.assertEqual(k["build"]["jobs"], 2)


if __name__ == "__main__":
    unittest.main()
