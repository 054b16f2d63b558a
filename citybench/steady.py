#!/usr/bin/env python3
"""Run every workload on several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, next to the
metric's bound from BENCHMARK.json.

    python3 citybench/steady.py [--runs 10] [--first-seed 1] [--workload NAME] [--out FILE]

Each run's result line is appended to --out (JSON lines) as it finishes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=run.ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, text=True)
            os.makedirs(run.OUT, exist_ok=True)
            with open(os.path.join(run.OUT, f"steady-{w}-{seed}.log"), "w") as fh:
                fh.write(p.stderr)
            wall = time.time() - t0
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, "exit": p.returncode,
                                         "wall_s": round(wall, 1), **res}) + "\n")
            print(f"{w} seed {seed}: exit {p.returncode} wall {wall:.0f} s correct {res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            q1, _, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q3 - q1) / med
            print(f"{w:12s} {k:14s} median {med:10.4g}  spread {spread:6.3f}  "
                  f"bound {bounds[k]}  {'ok' if spread < bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
