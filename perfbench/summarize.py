#!/usr/bin/env python3
"""Summarise repeated benchmark runs to show whether the benchmark is steady.

    python3 perfbench/summarize.py OUT_DIR

OUT_DIR holds one file per run, named `<workload>-<anything>.out`, each
the captured stdout of `perfbench/run.py` (its last line is the result). For
every workload and metric it prints the number of runs, the median, the
first and third quartiles (`statistics.quantiles(values, n=4)`), the
quartile spread and the largest deviation, both as a share of the
median, and the metric's bound from BENCHMARK.json. A spread at or above
a third of the bound is marked `!`. Runs that were not correct are
counted and left out.
"""
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb.stats import median, quartiles  # noqa: E402


def load(out_dir):
    runs, bad = defaultdict(list), defaultdict(int)
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not name.endswith(".out") or not os.path.isfile(path):
            continue
        with open(path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        workload = name.split("-")[0]
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            bad[workload] += 1
            continue
        if not result.get("correct") or result.get("failed"):
            bad[workload] += 1
            continue
        runs[workload].append(result["metrics"])
    return runs, bad


def bounds():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    try:
        with open(path) as f:
            return {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return {}


def main():
    runs, bad = load(sys.argv[1])
    limit = bounds()
    print(f"{'workload':10} {'metric':34} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'maxdev':>8} {'bound':>6}")
    for workload in sorted(set(runs) | set(bad)):
        metrics = sorted({k for r in runs[workload] for k in r})
        for k in metrics:
            xs = [r[k]["value"] for r in runs[workload] if k in r]
            med = median(xs)
            q1, _, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else 0.0
            maxdev = max(abs(x - med) for x in xs) / med if med else 0.0
            b = limit.get(k)
            flag = "!" if b and spread >= b / 3 else " "
            print(f"{workload:10} {k:34} {len(xs):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{100 * spread:7.1f}% {100 * maxdev:7.1f}% "
                  f"{'' if b is None else f'{b:.2f}':>6}{flag}")
        if bad[workload]:
            print(f"{workload:10} {bad[workload]} run(s) incorrect or unreadable, left out")


if __name__ == "__main__":
    main()
