#!/usr/bin/env python3
"""Compare two sets of run records by workload and metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as ``run.py`` writes them to
``.perfbench/records/``. For every workload and metric present on both
sides the script prints the two medians, the change as a share of the base
median, and each side's quartile spread. Records taken on hosts with
different core counts are not compared: the script refuses with exit code 2.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cores = {r["host"]["nproc"] for r in base + new}
    if len(cores) > 1:
        print(f"refusing to compare runs made on {sorted(cores)} cores", file=sys.stderr)
        return 2

    def key(r: dict) -> tuple:
        return r["workload"], r["scale"], r["trace"]

    for k in sorted({key(r) for r in base} & {key(r) for r in new}):
        b = [r for r in base if key(r) == k]
        n = [r for r in new if key(r) == k]
        print(f"{k[0]} (scale={k[1]}, trace={k[2]}; {len(b)} vs {len(n)} runs)")
        for name in b[0]["metrics"]:
            bv = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
            nv = [r["metrics"][name]["value"] for r in n if name in r["metrics"]]
            if not bv or not nv:
                continue
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else 0.0
            print(f"  {name:40s} {bm:12.4g} -> {nm:12.4g}  {change:+7.1%}"
                  f"  spread {spread(bv):.1%} / {spread(nv):.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
