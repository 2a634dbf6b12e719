#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, and their verdict.

    python3 tools/bench_pairs.py --parent DIR --change DIR \\
        --workload maintenance_writes --seeds 801-810 --pairs 10 \\
        [--out DIR] [--report-only]

Runs `perfbench/run.py` untraced, for BENCHMARK.json's `run_seconds`,
in each checkout (its own working directory), pair by pair: pair i
runs both sides on the same seed (the range is cycled when there are
more pairs than seeds), the parent first on even pairs and the change
first on odd ones. Each run's standard output is
saved as OUT/<side>-pair<NN>-seed<S>.txt; `--report-only` re-reads
those files instead of running.

Then, per metric in the runs' last lines: each side's median and first
and third quartiles (statistics.quantiles(values, n=4), as
perfbench/spread.py computes them), the pairs the change won (in the
metric's `better` direction from BENCHMARK.json, lower when it names
none), and the median gap against the parent's IQR. A metric is marked
"unresolved" when either side's IQR/median exceeds its bound in
BENCHMARK.json (read only). The core count comes from SPARK_GRAFT_CPUS
in the environment, as for run.py itself.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    lo = int(lo)
    hi = int(hi) if hi else lo
    return list(range(lo, hi + 1))


def last_json(text):
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def run_one(checkout, workload, seconds, seed, path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    with open(path, "w") as f:
        f.write(proc.stdout)
    return proc.returncode


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0]
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    decl = {m["name"]: m for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    seeds = seeds_of(args.seeds)
    out = args.out or os.path.join(os.getcwd(), f"pairs-{args.workload}")
    os.makedirs(out, exist_ok=True)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    runs = {"parent": [], "change": []}  # per pair: parsed last line or None
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            path = os.path.join(out, f"{side}-pair{i:02d}-seed{seed}.txt")
            if not args.report_only:
                rc = run_one(sides[side], args.workload, bench["run_seconds"], seed, path)
                print(f"pair {i:2d} seed {seed} {side:6s} exit {rc}", file=sys.stderr, flush=True)
            with open(path) as f:
                got[side] = last_json(f.read())
        for side in runs:
            runs[side].append(got[side])

    for side, rs in runs.items():
        bad = [i for i, r in enumerate(rs) if r is None or not r.get("correct", False)]
        print(f"{side}: {len(rs) - len(bad)}/{len(rs)} correct runs"
              + (f" (not correct: pairs {bad})" if bad else ""))

    def value(r, name):
        if r is None or not r.get("correct", False):
            return None
        m = r.get("metrics", {}).get(name)
        return None if m is None else m.get("value")

    names = []
    for r in runs["parent"] + runs["change"]:
        for n in (r or {}).get("metrics", {}):
            if n not in names:
                names.append(n)

    print(f"{'metric':36s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
          f" {'won':>6s} {'gap':>9s} {'p.iqr':>8s}  note")
    for name in names:
        pv = [value(r, name) for r in runs["parent"]]
        cv = [value(r, name) for r in runs["change"]]
        pp = [v for v in pv if v is not None]
        cc = [v for v in cv if v is not None]
        if not pp or not cc:
            continue
        lower = decl.get(name, {}).get("better", "lower") == "lower"
        pmed, cmed = statistics.median(pp), statistics.median(cc)
        (p1, p3), (c1, c3) = quartiles(pp), quartiles(cc)
        both = [(p, c) for p, c in zip(pv, cv) if p is not None and c is not None]
        won = sum(1 for p, c in both if (c < p if lower else c > p))
        gap = (pmed - cmed) if lower else (cmed - pmed)
        notes = []
        bound = decl.get(name, {}).get("bound")
        if bound is not None:
            spreads = [(q3 - q1) / med for (q1, q3), med in (((p1, p3), pmed), ((c1, c3), cmed))
                       if med]
            if any(s > bound for s in spreads):
                notes.append("unresolved")
        if gap > p3 - p1 and both and won * 10 >= 9 * len(both):
            notes.append("gain")
        print(f"{name:36s} {pmed:10.4f} [{p1:8.4f}, {p3:8.4f}] {cmed:10.4f} [{c1:8.4f}, {c3:8.4f}]"
              f" {won:2d}/{len(both):<3d} {gap:9.4f} {p3 - p1:8.4f}  {' '.join(notes)}")


if __name__ == "__main__":
    main()
