#!/usr/bin/env python3
"""The benchmark's own test: every workload end to end at the smoke size,
with every output check on.

    python3 perfbench/test_smoke.py

Each workload runs one short untraced and one traced run. The test fails
if a run does not finish, a check fails, or a metric named in
BENCHMARK.json is missing.
"""
import json
import os
import re
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
from checks import NULL_PAIRS  # noqa: E402
WORKLOADS = ("text_dedup", "lakehouse_churn")
# nearDupLsh pairs every two NULL-text documents (the signature of a NULL
# shingle set is xxhash64(NULL) for every one), so text_dedup's
# minhash_lsh operation fails its NULL check. It may fail for that reason
# only, and no other operation may fail; a run with no failure (once the
# engine is fixed) passes too.
MAY_FAIL = {"minhash_lsh": NULL_PAIRS}


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"], cwd=REPO, capture_output=True, text=True,
        timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    # run.py gives each failure's reason, then names the failed operations
    names, reasons = None, []
    for line in p.stderr.splitlines():
        if line.startswith("failed operations: "):
            names = json.loads(line[len("failed operations: "):])
        m = re.match(r"failed (\w+) \(round \d+\): (.*)", line)
        if m:
            reasons.append(m.groups())
    return json.loads(p.stdout.strip().splitlines()[-1]), names, reasons


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))

    def check(self, workload, trace, names):
        r, failed, reasons = run(workload, trace)
        self.assertTrue(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertLessEqual(set(failed), set(MAY_FAIL))
        self.assertEqual(r["failed"], len(reasons))
        for name, why in reasons:
            self.assertTrue(why.startswith(MAY_FAIL[name]) and
                            "; " not in why, f"{name}: {why}")
        self.assertEqual(sorted(r["metrics"]), sorted(names))

    def test_workloads(self):
        e2e = [m["name"] for m in self.spec["end_to_end"]]
        layer = [m["name"] for m in self.spec["per_layer"]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(w, 0, e2e)
                self.check(w, 1, layer)


if __name__ == "__main__":
    unittest.main()
