#!/usr/bin/env python3
"""Steadiness check: runs one workload as two separate sets of runs and
prints, per set and metric, the median, the quartiles and their spread
(quartile distance over the median), plus how far the second median moved
from the first.

    python3 perfbench/steadiness.py --workload engine-drain [--runs 10]
        [--seconds 10] [--first-seed 1]

Set A uses seeds first-seed .. first-seed+runs-1, set B the next `runs`
seeds. The bounds in BENCHMARK.json are set from this output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=os.path.dirname(HERE))
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(results):
    names = results[0]["metrics"].keys()
    rows = {}
    for n in names:
        v = [r["metrics"][n]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        rows[n] = {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else 0.0}
    return rows


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    sets = []
    for k in range(2):
        seeds = range(a.first_seed + k * a.runs, a.first_seed + (k + 1) * a.runs)
        res = []
        for s in seeds:
            res.append(one_run(a.workload, s, a.seconds))
            vals = " ".join(f"{n}={v['value']:.4g}" for n, v in res[-1]["metrics"].items())
            print(f"  seed {s}: {vals}", flush=True)
        bad = [r for r in res if not r["correct"]]
        share = sum(r["failed"] for r in res) / sum(r["attempted"] for r in res)
        print(f"set {'AB'[k]} seeds {seeds.start}-{seeds.stop - 1}: "
              f"incorrect runs {len(bad)}, failed share {share:.6f}", flush=True)
        sets.append(summary(res))
    print(f"{'metric':24} {'set':3} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7}")
    for n in sets[0]:
        for k, s in enumerate(sets):
            r = s[n]
            print(f"{n:24} {'AB'[k]:3} {r['median']:14.4f} {r['q1']:14.4f} {r['q3']:14.4f} "
                  f"{r['spread']:7.3f}")
        move = sets[1][n]["median"] / sets[0][n]["median"] - 1 if sets[0][n]["median"] else 0.0
        print(f"{'':24} B vs A median {move:+.3f}")


if __name__ == "__main__":
    main()
