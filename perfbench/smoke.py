#!/usr/bin/env python3
"""Tiny-size smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--scale tiny`` once plain and
once traced, and checks that each run passes its golden checks and prints
exactly the metric names BENCHMARK.json declares. Exits non-zero on the
first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {wl} trace={trace}: exit {proc.returncode}")
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if not result["correct"] or result["failed"]:
                problems.append(f"{result['failed']} of {result['attempted']} ops failed")
            if got != want[trace]:
                problems.append(f"metric names/units differ: {sorted(set(got) ^ set(want[trace]))}")
            if problems:
                print(f"FAIL {wl} trace={trace}: " + "; ".join(problems))
                return 1
            print(f"ok   {wl} trace={trace}: {result['attempted']} ops, {len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
