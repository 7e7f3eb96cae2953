#!/usr/bin/env python3
"""Run one workload K times and summarise each end-to-end metric.

    python3 perfbench/repeat.py --workload lakehouse_churn --runs 10 \
        [--first-seed 1] [--with-trace]

Every run measures BENCHMARK.json's run_seconds at the full size, the
set-up the bounds apply to. Seeds are first-seed, first-seed+1, ...
Prints, per metric, the median,
the quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) as a
share of the median, next to the metric's bound from BENCHMARK.json;
then the read and write latency tails pooled over all runs, and
operations attempted and failed. With --with-trace it also makes one
traced run per seed and reports the tracing overhead: the traced
throughput_ops_s against the untraced one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       timeout=1000)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run with seed {seed} failed ({p.returncode})")
    if p.stderr.strip():
        sys.stderr.write(p.stderr)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--with-trace", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results, traced = [], []
    for i in range(a.runs):
        seed = a.first_seed + i
        results.append(run(a.workload, seed, seconds, 0))
        if a.with_trace:
            traced.append(run(a.workload, seed, seconds, 1))
        m = results[-1]["metrics"]
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)

    print(f"\n{a.workload}: {a.runs} runs of {seconds:g} s")
    print(f"{'metric':<18} {'unit':<6} {'median':>10} {'q1':>10} {'q3':>10}"
          f" {'spread':>7} {'bound':>6}")
    for name in results[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
        spread = (q3 - q1) / q2 if q2 else float("nan")
        print(f"{name:<18} {results[0]['metrics'][name]['unit']:<6} "
              f"{q2:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>7.3f} "
              f"{bounds.get(name, float('nan')):>6}")
    pooled = {"read": [], "write": []}
    for i in range(a.runs):
        path = os.path.join(REPO, ".bench_out",
                            f"ops-{a.workload}-s{a.first_seed + i}.json")
        with open(path) as f:
            for _, kind, ms in json.load(f):
                pooled[kind].append(ms)
    for kind, xs in pooled.items():
        xs.sort()
        if len(xs) >= 40:
            # the highest percentile with at least ten samples beyond it
            k = len(xs) - 11
            print(f"pooled {kind} tail: {xs[k]:.4g} ms = p{100 * (k + 1) / len(xs):.1f}"
                  f" of {len(xs)} samples (median {statistics.median(xs):.4g} ms)")
        else:
            print(f"pooled {kind}: {len(xs)} samples, too few for a tail")
    att = [r["attempted"] for r in results]
    fail = [r["failed"] for r in results]
    print(f"attempted per run: {att}\nfailed per run:    {fail}")
    print(f"correct in every run: {all(r['correct'] for r in results)}")
    if traced:
        plain = statistics.median(r["metrics"]["throughput_ops_s"]["value"]
                                  for r in results)
        tr = statistics.median(r["metrics"]["trace.throughput_ops_s"]["value"]
                               for r in traced)
        print(f"tracing overhead: throughput {plain:.4g} -> {tr:.4g} ops/s "
              f"({(plain - tr) / plain:+.1%})")


if __name__ == "__main__":
    main()
