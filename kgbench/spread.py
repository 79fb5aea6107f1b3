#!/usr/bin/env python3
"""Runs the benchmark once per seed and summarises each metric's spread.

    python3 kgbench/spread.py --workload small_batch --seeds 1-10 [--trace 0]

Prints one JSON object per run, then one summary line per metric: median,
quartiles (statistics.quantiles, n=4) and the interquartile range as a
share of the median; then the run wall times and the one-time generation
and oracle cost of each seed's inputs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build as kbuild  # noqa: E402
import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    results, walls = [], []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
        walls.append(time.monotonic() - t0)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1), **r}), flush=True)
        results.append(r)
    print(f"runs={len(results)} correct={all(r['correct'] for r in results)} "
          f"wall_s median={statistics.median(walls):.1f} max={max(walls):.1f}")
    classes = kbuild.build()
    for key in ("gen_s", "oracle_s"):
        v = []
        for seed in seeds(a.seeds):
            with open(os.path.join(run.seed_dir(classes, a.workload, seed), "prep.json")) as f:
                v += [json.load(f).get(key)]
        v = [x for x in v if x is not None]
        if v:
            print(f"{key} median={statistics.median(v):.3f} max={max(v):.3f}")
    for name in results[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:40s} median={statistics.median(v):.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={spread:.4f}")


if __name__ == "__main__":
    main()
