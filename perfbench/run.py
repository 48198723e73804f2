#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload etl|dedup|ingest --seed N \
        --seconds S --trace 0|1

Builds the benchmark (graft's sources plus perfbench/src) with sbt once
per source state, runs the workload in one JVM, checks its outputs
against DuckDB outside the timed region, prints every metric by name
with its unit and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are its per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import pandas as pd

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BENCH, "data")
TABLES = ["customer", "orders", "events", "documents", "embeddings"]
DEADLINE_S = 170
# a13b's declared relative standard deviation for approx_count_distinct
A13B_RSD = 0.01
JAVA_OPTS = [
    "-Xms2g",
    "-Xmx2g",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt unless this source state was built already;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graft's sources (src/main/scala/graft) are not in this directory; "
                 "run from the root of a graft checkout")
    cp_file = os.path.join(BUILD, f"classpath-{fingerprint()}.txt")
    if not os.path.exists(cp_file):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_CLASSPATH=cp_file)
        with open(os.path.join(BUILD, "build.log"), "w") as logf:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "-Dsbt.server.forcestart=false",
                 f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "writeClasspath"],
                cwd=BENCH, env=env, stdout=logf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(cp_file):
            sys.exit(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, args, data, work, deadline):
    """Runs perfbench.Main in its own process group; kills the group and
    exits when the deadline passes."""
    result = os.path.join(work, "result.json")
    cmd = ["java", "-cp", cp, f"-Djava.io.tmpdir={work}/tmp"] + JAVA_OPTS + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--result", result]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "killed at the deadline"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            log("".join(f.readlines()[-40:]))
        sys.exit(f"the workload JVM failed ({rc})")
    with open(result) as f:
        return json.load(f)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_frame(a, b):
    """tools/check.py's comparison: column names, row count, then exact
    values column by column (floats by value, the rest as strings).
    Returns None when equal, else the first difference."""
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            eq = (x.astype("float64") == y.astype("float64")) | (x.isna() & y.isna())
            if not eq.all():
                return f"col {c}: float mismatch"
        else:
            xs, ys = x.astype(str), y.astype(str)
            if not (xs == ys).all():
                i = (xs != ys).idxmax()
                return f"col {c}: row {i}: spark={x[i]!r} duck={y[i]!r}"
    return None


def check_a13b(con, spark_df):
    """Totals exact; approximate distinct counts within 3 x rsd of the
    exact count(DISTINCT)."""
    exact = con.execute(
        "SELECT (SELECT count(*) FROM events), (SELECT count(DISTINCT user_id) FROM events), "
        "(SELECT count(*) FROM documents), (SELECT count(DISTINCT md5(text)) FROM documents)"
    ).fetchone()
    r = spark_df.iloc[0]
    if len(spark_df) != 1:
        return f"rows {len(spark_df)}"
    if int(r["total_messages"]) != exact[0] or int(r["total_content"]) != exact[2]:
        return "totals differ"
    for col, want in (("unique_messages_approx", exact[1]), ("unique_content_approx", exact[3])):
        if abs(int(r[col]) - want) > 3 * A13B_RSD * want:
            return f"{col} {int(r[col])} vs exact {want}"
    return None


def check_queries(data, work, queries):
    """Compares each query's output with DuckDB; returns the names that
    failed, with why."""
    check = os.path.join(work, "check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle_path = os.path.join(check, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    bad = {}
    for name in queries:
        out = os.path.join(check, name)
        if not os.path.isdir(out):
            bad[name] = "no output written"
            continue
        try:
            spark_df = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
            if name == "a13b_stats_approx":
                why = check_a13b(con, spark_df)
            elif name in oracle:
                why = same_frame(canon(spark_df), canon(con.execute(oracle[name]).df()))
            else:
                why = "no oracle SQL"
        except Exception as e:  # noqa: BLE001
            why = f"error {e}"
        if why:
            bad[name] = why
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl", "dedup", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=os.path.join(DATA, "sf0.1"))
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    # the deadline covers the run, not a first build in a fresh checkout
    deadline = time.monotonic() + DEADLINE_S
    data = os.path.abspath(args.data)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        r = run_jvm(cp, args, data, work, deadline)
        log(f"[run.py] workload JVM {time.monotonic() - t0:.1f} s")
        attempted, failed = r["attempted"], r["failed"]
        errors = list(r["errors"])
        if args.workload != "ingest":
            # a query whose output is wrong counts as failed on every
            # timed execution, plus its check
            queries = sorted(r["executions"])
            t0 = time.monotonic()
            bad = check_queries(data, work, queries)
            log(f"[run.py] output check {time.monotonic() - t0:.1f} s")
            attempted += len(queries)
            for name, why in bad.items():
                n, threw = r["executions"][name]
                failed += n - threw + 1
                errors.append(f"{name}: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        log(f"FAILED {e}")
    layer = dict(r["layer"])
    layer["fail_rate"] = {"value": failed / attempted, "unit": "fraction"}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = layer if args.trace else r["e2e"]
    metrics = {n: source[n] for n in names if n in source}
    missing = [n for n in names if n not in metrics]
    if missing:
        sys.exit(f"metrics not measured: {missing}")

    print("host " + " ".join(f"{k}={v}" for k, v in r["host"].items()))
    print("run " + " ".join(f"{k}={v}" for k, v in r["info"].items()))
    shown = metrics if args.trace else dict(metrics, fail_rate=layer["fail_rate"])
    for n, m in shown.items():
        value = "nan" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{n} {value} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
