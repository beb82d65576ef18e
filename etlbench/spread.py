#!/usr/bin/env python3
"""Spread of a benchmark metric over runs.

Usage: python3 etlbench/spread.py RESULTS.jsonl [RESULTS.jsonl ...]

Each file holds one result line (the last stdout line of run.py) per run.
For every metric, prints the median, the quartiles and the quartile spread
as a share of the median (statistics.quantiles(values, n=4)).
"""
import json
import statistics
import sys


def main(paths):
    for path in paths:
        runs = [json.loads(l) for l in open(path) if l.startswith("{")]
        print(f"{path}: {len(runs)} runs, correct={all(r['correct'] for r in runs)}, "
              f"failed={sum(r['failed'] for r in runs)}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med if med else float("nan")
            print(f"  {name:22s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {share:7.3%}")


if __name__ == "__main__":
    main(sys.argv[1:])
