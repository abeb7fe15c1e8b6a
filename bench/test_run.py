"""Self-test of the benchmark: one run of every workload on the sf0.001
inputs, untraced and traced.

Run from the repository root (builds graft first; a few minutes):

    python3 -m unittest bench/test_run.py

Each untraced run must print every end-to-end metric of BENCHMARK.json
with its unit and match the sf0.001 reference answers; each traced run
must print every per-layer metric with its unit and write its spans.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    with open(path) as f:
        return json.load(f)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "20", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return out.stdout.splitlines()


class BenchmarkRuns(unittest.TestCase):
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))

    def check(self, lines, metrics):
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], lines)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in metrics))
        for m in metrics:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(run(w["name"], 0), self.spec["end_to_end"])
                lines = run(w["name"], 1)
                self.check(lines, self.spec["per_layer"])
                self.assertTrue(any("top self-time layer" in l for l in lines), lines)
                spans = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                     "traces", f"{w['name']}-seed7.spans.json")
                kinds = {s["kind"] for s in load(spans)}
                self.assertEqual(kinds, {"pass", "query", "phase"})


if __name__ == "__main__":
    unittest.main()
