"""Tests for the benchmark itself.

    python3 -m unittest discover -s lakebench/tests              # fast checks
    LAKEBENCH_SLOW=1 python3 -m unittest discover -s lakebench/tests

The slow tests build the engine and run every workload briefly; run them
from the repository root.
"""

import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SLOW = os.environ.get("LAKEBENCH_SLOW") == "1"


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, files in os.walk(root) for f in files)


class SeedDeterminism(unittest.TestCase):
    def generate(self, workload, seed, out):
        gen.generate(workload, seed, out, run.plan_for(workload, run.NOMINAL_SECONDS))
        return tree(out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in run.PLANS:
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                files = self.generate(workload, 7, a)
                self.assertTrue(files)
                self.assertEqual(files, self.generate(workload, 7, b))
                self.assertEqual(files, self.generate(workload, 8, c))
                for f in files:
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False), f)
                self.assertTrue(any(
                    not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                    for f in files))


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match_the_spec(self):
        fake = {"session_s": 1.0, "fixture_s": 1.0, "wall_s": 1.0, "failed": 0,
                "attempted": 1, "build_s": 1.0, "batch_ms": [1.0], "finish_s": 1.0,
                "scan_ms": [1.0], "mart_ms": [1.0], "meta_ms": [1.0], "table_bytes": 2}
        got = run.metrics_of(fake, 0, 1, trace=0)
        self.assertEqual(sorted(got), sorted(m["name"] for m in SPEC["end_to_end"]))
        self.assertEqual(got["ok_ratio"], 1.0)
        # a mismatch or plan violation counted in `failed` lowers ok_ratio
        self.assertEqual(run.metrics_of(fake, 1, 1, trace=0)["ok_ratio"], 0.0)

    def test_workloads_match_the_spec(self):
        self.assertEqual(sorted(run.PLANS), sorted(w["name"] for w in SPEC["workloads"]))

    @unittest.skipUnless(SLOW, "set LAKEBENCH_SLOW=1")
    def test_printed_names_match_the_spec(self):
        for workload in run.PLANS:
            for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
                with self.subTest(workload=workload, trace=trace):
                    line = bench(workload, "--seconds", "5", "--trace", str(trace))
                    self.assertTrue(line["correct"], line)
                    self.assertEqual(list(line["metrics"]), [m["name"] for m in SPEC[key]])
                    for m in SPEC[key]:
                        self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])


@unittest.skipUnless(SLOW, "set LAKEBENCH_SLOW=1")
class TimedPlans(unittest.TestCase):
    def test_timed_reads_keep_every_operator_of_the_result_plan(self):
        for workload in run.PLANS:
            with self.subTest(workload=workload):
                out = bench(workload, "--seconds", "5", "--check-plans", raw=True)
                info = [l for l in out.splitlines() if "plan_checked=" in l][-1]
                fields = dict(kv.split("=") for kv in info.split() if "=" in kv)
                self.assertGreater(int(fields["plan_checked"]), 0)
                self.assertTrue(json.loads(out.splitlines()[-1])["correct"])
                if workload == "medallion":
                    # the control: count() on the marts drops operators
                    self.assertGreater(int(fields["plan_count_would_lose"]), 0)


def bench(workload, *args, raw=False):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", *args], cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"run.py failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    return proc.stdout if raw else json.loads(proc.stdout.splitlines()[-1])


if __name__ == "__main__":
    unittest.main()
