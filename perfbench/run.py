#!/usr/bin/env python3
"""graft cold-start benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
library and the harness from source with sbt (see build.sbt here);
later runs reuse the build. Each run then:

  1. writes a seeded row permutation of every fixture table into its
     own run directory (the library sees only that directory, so the
     corpus fingerprint and every artifact tree are fresh);
  2. starts one JVM (the harness, graft.perfbench.Main) on
     local[<cores>], with its artifact root and java.io.tmpdir inside
     the run directory;
  3. checks every row's output against the DuckDB answer to its oracle
     SQL, and that the run left nothing in the system temp directory;
  4. prints a readable summary, then one JSON line with the metrics
     BENCHMARK.json declares (end-to-end with --trace 0, per-layer with
     --trace 1), and removes the run directory.

See README.md beside this file for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

SCALE = "0.001"         # the fixture scale factor the benchmark reads
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
XMX = "3g"
RUN_LIMIT_S = 175       # a run must end within 180 s
BUILD_LIMIT_S = 840     # the first run in a checkout also builds

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def fixture_dir(sf):
    """The fixture tables' directory for scale factor `sf`, as the
    project's TESTDATA.md table lists it; SPARK_GRAFT_SF_DIR overrides."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == sf:
                    return cells[2]
    except OSError:
        pass
    return None


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def source_key():
    """Identity of the code under test: the library's and the
    harness's sources and build definitions."""
    return tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                      os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])


def build(deadline):
    """Compile the library and the harness; return the runtime classpath."""
    key = source_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, False
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state and scratch stay inside the checkout; dependencies
    # resolve from the offline cache
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -Dsbt.offline=true"
                       f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}").strip()
    log("perfbench: building library and harness with sbt")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=max(30, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        log(p.stderr[-4000:])
        fail("build failed")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1], True


def make_inputs(seed, run_dir, source):
    """Seeded row permutation of every table, in the run's own directory."""
    import numpy as np
    import pyarrow.parquet as pq

    data = os.path.join(run_dir, "data")
    os.makedirs(data)
    for i, t in enumerate(TABLES):
        table = pq.read_table(os.path.join(source, f"{t}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(data, f"{t}.parquet"))
    return data


def data_key(source):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(source, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_jvm(cp, args, run_dir, deadline):
    env = dict(os.environ,
               SPARK_GRAFT_ARTIFACT_ROOT=os.path.join(run_dir, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for d in ("artifacts", "spark-local", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, f"-Xmx{XMX}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            p = subprocess.run(cmd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(BUILD, "timed-out-jvm.log"))
            return None, "harness timed out"
    res = os.path.join(run_dir, "out", "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        return None, f"harness exited {p.returncode}:\n{tail}"
    with open(res) as f:
        return json.load(f), None


def check_rows(res, out_dir, oracle):
    """Compare every row's round-1 output with the DuckDB answer to its
    oracle SQL, by the gate's rules; return {row: problem}."""
    from oracle_check import compare, load_spark_result
    bad = {}
    for row in res["rows"]:
        if res["status"].get(row) != "ok":
            bad[row] = "threw in round 1"
            continue
        try:
            got = load_spark_result(os.path.join(out_dir, "rows", row))
            sql = res["oracle_sql"].get(row)
            problems = (["no oracle SQL to check against"] if sql is None
                        else compare(row, got, oracle.answer(sql)))
        except Exception as e:  # noqa: BLE001 - any failure to compare is a failed row
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            bad[row] = "; ".join(problems)[:300]
    return bad


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        fail("no graft sources here: run from the root of a graft checkout")
    sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
    import oracle as orc
    source = fixture_dir(SCALE)
    if source is None:
        fail(f"no sf{SCALE} fixture directory in TESTDATA.md or SPARK_GRAFT_SF_DIR")
    for t in TABLES:
        if not os.path.isfile(os.path.join(source, f"{t}.parquet")):
            fail(f"fixture table {t} missing under {source}")

    os.makedirs(BUILD, exist_ok=True)
    cp, built = build(t_start + BUILD_LIMIT_S)
    deadline = (time.time() if built else t_start) + RUN_LIMIT_S

    tmp_root = tempfile.gettempdir()
    tmp_before = set(os.listdir(tmp_root))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    oracle = None
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", make_inputs(a.seed, run_dir, source),
                "--out", os.path.join(run_dir, "out")]
        res, info = run_jvm(cp, args, run_dir, deadline)
        if res is None:
            fail(info)
        oracle = orc.Oracle(source, os.path.join(BUILD, "oracle", data_key(source)))
        mismatches = check_rows(res, os.path.join(run_dir, "out"), oracle)
        trace_src = os.path.join(run_dir, "out", "trace.json")
        if os.path.exists(trace_src):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace_src, os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        if oracle is not None:
            oracle.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    tmp_new = sorted(set(os.listdir(tmp_root)) - tmp_before)

    exec_failed = res["failures"]
    failed = len(exec_failed) + len([r for r in mismatches if res["status"].get(r) == "ok"])
    attempted = res["attempted"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    values = res["per_layer"] if a.trace else res
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}

    # ---- readable summary (stdout, before the result line) -----------
    prov = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "nproc": len(os.sched_getaffinity(0)), "spark_graft_cpus": res["cores"],
            "sf": os.path.basename(os.path.normpath(source)), "xmx": XMX,
            "git_commit": git_commit(), "source_key": source_key(),
            "run_seconds": a.seconds, "rounds": res["rounds"]}
    print("provenance " + json.dumps(prov))
    print(f"rows {len(res['rows'])}  rounds {res['rounds']} (the first cold)  pass_rounds_s "
          + " ".join(f"{x:.3f}" for x in res["pass_rounds_s"]) + "  setup_rounds_s "
          + " ".join(f"{x:.3f}" for x in res["setup_rounds_s"]))
    for n in ("setup_s", "wall_s", "row_p50_s", "row_p80_s", "artifact_mb", "heap_live_peak_mb"):
        extra = f"  (n={res['row_samples']} rows, each its median over the warm rounds)" \
            if n.startswith("row_") else ""
        print(f"{n} {res[n]:.4f} {units.get(n, '')}{extra}")
    print(f"failed_ratio {failed / attempted:.4f}  ({failed} failed / {attempted} attempted)")
    for f in exec_failed:
        print(f"FAILED {f}")
    for r, p in sorted(mismatches.items()):
        print(f"MISMATCH {r}: {p}")
    print(f"tmp_new_entries {len(tmp_new)}")
    for t in tmp_new:
        print(f"TMP_LEAK {os.path.join(tmp_root, t)}")
    if a.trace:
        pl = res["per_layer"]
        for n in names:
            print(f"{n} {pl[n]:.4f} {units[n]}")
        for b in res["builds_during_serve"]:
            print(f"BUILT_DURING_SERVE {b}")
        last = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(last):
            with open(last) as f:
                plain_wall = json.load(f)["wall_s"]
            print(f"tracing_overhead_s {pl['trace.wall_s'] - plain_wall:.4f} "
                  f"(traced wall_s {pl['trace.wall_s']:.4f} - untraced {plain_wall:.4f})")
        print(f"trace spans: {os.path.relpath(os.path.join(BUILD, 'traces'), ROOT)}"
              f"/{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"provenance": prov, "mismatches": mismatches,
                   **{k: v for k, v in res.items() if k != "oracle_sql"}}, f)

    print(json.dumps({"correct": failed == 0 and not mismatches and not tmp_new,
                      "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
