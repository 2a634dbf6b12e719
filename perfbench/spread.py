#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py OUT [OUT ...]

Each OUT is the saved standard output of one run.py run. For every
metric in the runs' last lines, prints the median of its values and
the distance between their first and third quartiles (as
statistics.quantiles(values, n=4) gives them) as a share of the
median, beside the metric's bound from BENCHMARK.json.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values = {}
    for path in sys.argv[1:]:
        with open(path) as f:
            last = [ln for ln in f.read().splitlines() if ln.strip()][-1]
        for name, m in json.loads(last)["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) < 2 or med == 0:
            print(f"{name:40s} n={len(vs):2d} median {med:.4f}")
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        b = bounds.get(name)
        print(f"{name:40s} n={len(vs):2d} median {med:10.4f} iqr/median {(q3 - q1) / med:6.3f}"
              + (f"  bound {b}" if b is not None else ""))


if __name__ == "__main__":
    main()
