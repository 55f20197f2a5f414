#!/usr/bin/env python3
"""graft benchmark: runs one workload end to end and prints its metrics.

    python3 perfbench/run.py --workload web --seed 1 --seconds 45 --trace 0

Builds the engine from the checkout's sources when needed (perfbench/build.py),
runs the pipeline in one fresh JVM (perfbench/src/perfbench/Worker.scala),
compares the mining tier's outputs of a traced run with their DuckDB
oracles, checks that nothing was written outside the run's own scratch
directory, and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The full record of the run goes to
.bench_out/<run id>/result.json. Exits non-zero if any operation failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUNS = os.path.join(ROOT, ".bench_runs")
OUT = os.path.join(ROOT, ".bench_out")
OWN = {".bench_build", ".bench_runs", ".bench_out"}
# the worker's share of a run's 180 s, build excluded
WORKER_TIMEOUT_S = 160
# pinned heap: -Xms = -Xmx
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def tree_state():
    """Size and mtime of every file in the checkout outside the
    benchmark's own directories, plus the entries of the temp and home
    directories, where a stray write would most likely land."""
    state = {}
    for d, dirs, names in os.walk(ROOT):
        if d == ROOT:
            dirs[:] = [x for x in dirs if x not in OWN]
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.lstat(p)
                state[p] = (st.st_size, st.st_mtime_ns)
            except FileNotFoundError:
                pass
    for d in (tempfile.gettempdir(), os.path.expanduser("~")):
        for n in os.listdir(d):
            state[os.path.join(d, n)] = None
    return state


def cpu_ticks():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def oracle_compare(run_dir, in_dir, ops):
    """Compare each tier query's parquet output with its DuckDB oracle;
    fail the query's operation on any difference. Returns the seconds each
    comparison took."""
    import duckdb
    import pyarrow.parquet as pq

    tier = os.path.join(run_dir, "tier")
    with open(os.path.join(tier, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp')}'")
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                f"'{os.path.join(in_dir, 'lineitem.parquet')}/*.parquet')")
    by_name = {o["name"]: o for o in ops}
    secs = {}
    for q, sql in sqls.items():
        op = by_name[f"query.{q}"]
        ts = time.monotonic()
        try:
            got = pq.read_table(os.path.join(tier, q))
            want = con.execute(sql).arrow()
            cols = sorted(got.column_names)
            if cols != sorted(want.column_names):
                why = f"columns {cols} vs oracle {sorted(want.column_names)}"
            else:
                rows = lambda t: sorted(zip(*(t.column(c).to_pylist() for c in cols)))
                g, w = rows(got), rows(want)
                why = None if g == w else f"{len(g)} rows differ from the oracle's {len(w)}"
        except Exception as e:  # a failed comparison fails the query
            why = f"oracle comparison failed: {e!r}"[:300]
        if why and not op["failure"]:
            op["failure"] = f"oracle: {why}"
        secs[q] = time.monotonic() - ts
    return secs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, run_id)
    out_dir = os.path.join(OUT, run_id)
    before = tree_state()
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    load0, ticks0 = os.getloadavg()[0], cpu_ticks()
    t0 = time.monotonic()

    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Worker", a.workload, str(a.seed), str(a.seconds),
        str(a.trace), run_dir, out_dir]
    failures = []
    with open(os.path.join(out_dir, "worker.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            p.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            failures.append("worker timed out")
    if p.returncode != 0 and not failures:
        failures.append(f"worker exited with {p.returncode}")

    try:
        with open(os.path.join(out_dir, "worker.json")) as fh:
            res = json.load(fh)
    except (OSError, ValueError) as e:
        res = {"ops": [], "metrics": {}, "layers": {}, "info": {},
               "run_failures": [f"no worker result: {e!r}"]}
    failures += res["run_failures"]
    ops = res["ops"]
    in_dir = res["info"].get("input_dir")
    if in_dir and any(o["name"].startswith("query.") for o in ops):
        ts = time.monotonic()
        try:
            res["info"]["oracle_s"] = oracle_compare(run_dir, in_dir, ops)
        except Exception as e:
            failures.append(f"oracle comparison failed: {e!r}"[:300])
        res["layers"]["reference.oracle_s"] = time.monotonic() - ts

    shutil.rmtree(run_dir, ignore_errors=True)
    if not os.listdir(RUNS):
        os.rmdir(RUNS)
    after = tree_state()
    stray = sorted(set(after) - set(before)) + sorted(
        k for k in before if k in after and before[k] != after[k])
    if stray:
        failures.append("wrote outside its run directory: " + ", ".join(stray[:10]))

    ticks1 = cpu_ticks()
    values = res["layers"] if a.trace else res["metrics"]
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failures += [f"missing metric {m}" for m in missing]
    # every timed call is an attempted operation; a run-level failure or a
    # missing metric counts as one more, failed
    failed_ops = [o for o in ops if o["failure"]]
    attempted = len(ops) + len(failures)
    failed = len(failed_ops) + len(failures)
    correct = failed == 0
    total = ticks1[0] - ticks0[0]
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "nproc": os.cpu_count(),
        "load1_before": load0, "load1_after": os.getloadavg()[0],
        "cpu_steal_share": (ticks1[1] - ticks0[1]) / total if total else 0.0,
        "wall_s": time.monotonic() - t0, "correct": correct,
        "failures": failures + [f"{o['name']}: {o['failure']}" for o in failed_ops],
        **{k: res.get(k) for k in ("metrics", "layers", "ops", "info")}}
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in record["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
