"""Integration tests: real benchmark runs (each takes about a minute).

  PERFBENCH_INTEGRATION=1 python3 -m unittest discover -s perfbench/tests

They build the harness on first use and need sbt, java and SPARK_HOME,
like the benchmark itself.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402


def bench(tag, *args):
    """Run the benchmark; returns (last stdout line as JSON, report)."""
    report = os.path.join(run.work_dir(), "tests", f"{tag}.json")
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--seconds", "1",
                        "--report", report, *args], cwd=ROOT, capture_output=True,
                       text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    with open(report) as f:
        return json.loads(p.stdout.strip().splitlines()[-1]), json.load(f)


@unittest.skipUnless(os.environ.get("PERFBENCH_INTEGRATION") == "1",
                     "set PERFBENCH_INTEGRATION=1 to run benchmark runs")
class Runs(unittest.TestCase):
    def test_forced_failure_is_counted_and_excluded(self):
        line, rep = bench("fail", "--workload", "etl_olap", "--seed", "5",
                          "--fail-key", "q1_agg")
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertFalse(line["correct"])
        n_keys = len(run.WORKLOADS["etl_olap"]["keys"])
        self.assertEqual((line["attempted"], line["failed"]), (n_keys, 1))
        self.assertEqual(list(line["metrics"]), list(metrics.END_TO_END))
        self.assertIn("q1_agg", rep["failed_keys"])
        self.assertAlmostEqual(rep["fail_frac"], 1 / n_keys)
        # the failing build sleeps 1.5 s before it throws: none of it may
        # reach a pass time or a per-key sample
        for p in rep["passes"]:
            lost = sum(k["wall_ms"] for k in rep["key_spans"]
                       if k["pass"] == p["pass"] and k["key"] == "q1_agg")
            self.assertGreater(lost, 1500)
        e2e = rep["end_to_end"]
        self.assertLess(e2e["cold_pass_s"]["value"], rep["passes"][0]["wall_ms"] / 1000 - 1.5)
        self.assertEqual(e2e["key_p50_s"]["n"], (n_keys - 1) * rep["warm_passes"])

    def test_traced_iterative_is_repeatable_and_nested(self):
        runs = [bench(f"iterative{i}", "--workload", "iterative", "--seed", "7",
                      "--trace", "1") for i in range(2)]
        for line, rep in runs:
            self.assertTrue(line["correct"])
            self.assertEqual(list(line["metrics"]), metrics.EXPORTED_PER_LAYER)
            by_id = {s["id"]: s for s in rep["spans"]}
            for s in rep["spans"]:
                self.assertGreaterEqual(s["self_ms"], 0, s)
                if s["parent"] is not None:
                    p = by_id[s["parent"]]
                    self.assertGreaterEqual(s["start_ms"], p["start_ms"], s)
                    self.assertLessEqual(s["end_ms"], p["end_ms"], s)

        def jobs(rep):
            return {(k, ph): rep["per_key"][k][ph]["jobs"]
                    for k in rep["per_key"] for ph in ("build", "drain")}
        self.assertEqual(jobs(runs[0][1]), jobs(runs[1][1]))
        self.assertGreater(runs[0][0]["metrics"]["build.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
