#!/usr/bin/env python3
"""The city benchmark's own test, on tiny inputs.

    python3 citybench/selftest.py

1. Every output checker passes on the engine's real output and fires on a
   deliberately corrupted copy (one reach row dropped, one stored row
   altered, one lookup row altered, a wrong snap, a stage that grew, a kept
   duplicate, a dropped containment pair).
2. Every workload, untraced and traced, exits 0 and prints as its last line
   a result with exactly the metrics BENCHMARK.json names, each with its
   unit.
Exits nonzero on any failure.
"""
import json
import os
import subprocess
import sys

import run

SEED = 11


def result_line(workload, trace):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=run.ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       text=True, timeout=run.RUN_TIMEOUT_S + 30)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = run.build()
    failures = []
    if run.run_java(cp, ["--selftest"]) != 0:
        failures.append("checker self-test failed")
    # lookup is not in the driver's set (see NOTES.md) but shares the metrics
    for w in [x["name"] for x in spec["workloads"]] + ["lookup"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = result_line(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            tag = f"{w} --trace {trace}"
            if code != 0 or res is None:
                failures.append(f"{tag}: exit {code}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                failures.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}")
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if got != want:
                failures.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            print(f"selftest {'ok  ' if not failures or not failures[-1].startswith(tag) else 'FAIL'} {tag}",
                  file=sys.stderr)
    for f in failures:
        print(f"selftest FAIL {f}", file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
