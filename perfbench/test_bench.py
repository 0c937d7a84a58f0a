#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the repository root (about 8 minutes):

    python3 perfbench/test_bench.py

- every workload: outputs correct, no failed step, and the settle check
  (first vs last third of the timed passes) within the pass_s bound;
- every workload, traced twice with different seeds: build + plan + exec
  spans account for each step's wall time, no job lacks a step, and every
  count metric repeats exactly;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero and prints no result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
BOUND = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}


def run(workload, seed, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                        "--trace", str(trace)], cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    info = {ln.split(": ", 1)[0]: ln.split(": ", 1)[1] for ln in lines[:-1] if ": " in ln}
    return p.returncode, info, (json.loads(lines[-1]) if p.returncode == 0 else None)


class Benchmark(unittest.TestCase):
    def test_untraced_runs_are_correct_and_settled(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, info, result = run(w, 101, 0)
                self.assertEqual(code, 0)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertEqual(set(result["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
                settle = json.loads(info["settle"])
                self.assertLessEqual(settle["gap_frac"], BOUND["pass_s"], settle)

    def test_traced_runs_account_and_repeat(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                values = []
                for seed in (201, 202):
                    code, _, result = run(w, seed, 1)
                    self.assertEqual(code, 0)
                    self.assertTrue(result["correct"])
                    v = {k: m["value"] for k, m in result["metrics"].items()}
                    self.assertEqual(set(v), {m["name"] for m in SPEC["per_layer"]})
                    self.assertLessEqual(v["trace.unaccounted_frac"], metrics.ACCOUNT_TOLERANCE)
                    self.assertEqual(v["trace.unattributed_jobs"], 0)
                    values.append(v)
                for c in metrics.COUNTS:
                    self.assertEqual(values[0][c], values[1][c], c)

    def test_fails_without_the_program(self):
        work = os.path.join(ROOT, ".bench_build")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            code, _, result = run(WORKLOADS[0], 1, 0, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main(verbosity=2)
