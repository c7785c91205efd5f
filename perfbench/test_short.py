#!/usr/bin/env python3
"""Short-mode test of the benchmark: every workload at reduced size,
untraced and traced. Checks that each metric BENCHMARK.json names is
emitted with its unit, and that the run's correctness checks pass.

    python3 perfbench/test_short.py      (from the root of a checkout)
"""
import json
import os
import subprocess
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace):
    out = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "2",
                            "--trace", str(trace), "--short"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n"
                             f"{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class ShortMode(unittest.TestCase):
    def check(self, workload, trace, declared):
        res = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], f"{workload}: {res['failed']} checks failed")
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        got = res["metrics"]
        self.assertEqual(set(got), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])
        if trace == 0:
            for m in declared:
                self.assertGreater(got[m["name"]]["value"], 0, f"{workload}: {m['name']}")


def make(workload, trace):
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    return lambda self: self.check(workload, trace, declared)


for w in BENCH["workloads"]:
    for t in (0, 1):
        setattr(ShortMode, f"test_{w['name']}_trace{t}", make(w["name"], t))


if __name__ == "__main__":
    unittest.main(verbosity=2)
