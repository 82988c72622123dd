#!/usr/bin/env python3
"""Steadiness check of the graft benchmark.

Runs one workload k times, each with its own seed, untraced, and prints
for each end-to-end metric the median, the quartiles, the quartile spread
as a share of the median (what BENCHMARK.json's bounds are held against)
and the max/min spread. With --sets 2 it makes two such sets on distinct
seeds and prints how far the second median lies from the first, as a
share of the first, against the metric's bound.

    python3 graftbench/steady.py --workload geo --runs 10
    python3 graftbench/steady.py --workload retrieval --runs 5 --sets 2
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_set(workload, seeds, seconds):
    rows = []
    for seed in seeds:
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"steady: {workload} seed {seed} exited with {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        if not r["correct"]:
            sys.exit(f"steady: {workload} seed {seed} reported incorrect results")
        rows.append(r)
        vals = ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"  seed {seed}: {time.monotonic() - t0:.0f} s, attempted={r['attempted']} "
              f"failed={r['failed']} {vals}", flush=True)
    return rows


def summarize(rows, spec):
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = med
        print(f"  {m['name']:<16} median={med:<12.5g} q1={q1:<12.5g} q3={q3:<12.5g} "
              f"iqr/median={(q3 - q1) / med:.3f} (bound {m['bound']}) "
              f"max/min={max(vals) / min(vals):.3f}")
    shares = {r["failed"] / r["attempted"] for r in rows}
    print(f"  failed share per run: {sorted(shares)}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    meds = []
    for s in range(a.sets):
        seeds = range(a.first_seed + s * a.runs, a.first_seed + (s + 1) * a.runs)
        print(f"{a.workload} set {s + 1}, seeds {seeds.start}..{seeds.stop - 1}:", flush=True)
        meds.append(summarize(run_set(a.workload, seeds, spec["run_seconds"]), spec))
    if a.sets == 2:
        print(f"{a.workload} second set against the first:")
        for m in spec["end_to_end"]:
            a0, a1 = meds[0][m["name"]], meds[1][m["name"]]
            worse = (a1 - a0) / a0 if m["better"] == "lower" else (a0 - a1) / a0
            print(f"  {m['name']:<16} {worse:+.3f} worse (bound {m['bound']})")


if __name__ == "__main__":
    main()
