#!/usr/bin/env python3
"""Benchmark of the graft engine, driven through its public entry points.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_sf0.1 --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (once per source state),
runs the workload in one JVM on the tables under `perfbench/data/` (the
seed sets only the order of the queries), checks the outputs, and prints
one JSON object as the last line of standard output: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). The line before it carries the
detail: the named figures, sample counts, the external load and any failed
checks. Everything it writes stays under `.perfbench/` in the checkout.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")

WORKLOADS = ["batch_sf0.1", "batch_sf0.1_cold"]
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles engine + harness with sbt unless this source state is built;
    returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.log.noformat=true",
           "compile", "export perfbench/Runtime/fullClasspath"]
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=max(60, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("build timed out", 1)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    os.sync()  # flush the build's writes before anything is timed
    return cps[-1]


def run_jvm(classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dderby.system.home={tmp}", "-cp", classpath, "perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("workload timed out", 1)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload JVM exited with {code}", 1)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_check(sf_dir, check_dir):
    """Compares every dumped headline result with its DuckDB oracle the way
    scripts/check.py does: columns sorted by name, rows sorted, exact values.
    Returns the names that differ, with the reason, and the number checked.
    An oracle's result depends only on its SQL and the fixed tables, so it
    is computed once per checkout and kept under .perfbench/oracle/."""
    import duckdb
    con = duckdb.connect()
    tables = hashlib.sha256()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        with open(f"{sf_dir}/{t}.parquet", "rb") as f:
            tables.update(f.read())
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v
        if getattr(v, "tzinfo", None) is not None:
            # Spark writes TIMESTAMP as an instant, which DuckDB reads as
            # TIMESTAMPTZ; the oracle SQL yields naive UTC timestamps.
            # scripts/check.py reports every such row as different
            # (ev_window_tumbling), so compare the instants
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if v.__class__.__name__ == "Decimal":
            return float(v)
        return v

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        key = lambda t: tuple((x is None, str(type(x)), x if not isinstance(x, tuple) else str(x))
                              for x in t)
        return ([cols[i] for i in order],
                sorted((tuple(norm(r[i]) for i in order) for r in rows), key=key))

    def expected(sql):
        key = tables.copy()
        key.update(sql.encode())
        path = os.path.join(WORK, "oracle", key.hexdigest() + ".pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        exp = con.sql(sql)
        e = canon(exp.columns, exp.fetchall())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(e, f)
        os.replace(path + ".tmp", path)
        return e

    bad = []
    for name, sql in sorted(oracle.items()):
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            bad.append(f"{name}: no result")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out}/*.parquet'")
            g = canon(got.columns, got.fetchall())
            e = expected(sql)
        except Exception as ex:
            bad.append(f"{name}: {str(ex)[:200]}")
            continue
        if g[0] != e[0]:
            bad.append(f"{name}: columns {g[0]} != {e[0]}")
        elif g[1] != e[1]:
            bad.append(f"{name}: {len(g[1])} rows, oracle {len(e[1])}; "
                       f"{sum(a != b for a, b in zip(g[1], e[1]))} differ")
    return bad, len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    for rel in ["build.sbt", "src/main/scala/graft/Engine.scala"]:
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"{rel} is missing: run from the root of a full checkout")
    if not os.path.exists(os.path.join(WORK, "build", "stamp")):
        deadline = start + 880  # the first run in a checkout also builds
    else:
        deadline = start + 175
    classpath = build(deadline)

    run_dir = os.path.join(WORK, "run", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t_build_end = time.time()
    r = run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                            DATA, run_dir], run_dir, deadline)
    t_jvm = time.time()
    problems = list(r["problems"])
    attempted, failed = r["attempted"], r["failed"]
    bad, checked = oracle_check(os.path.join(DATA, "sf0.1"), os.path.join(run_dir, "check"))
    attempted += checked
    failed += len(bad)
    problems += bad
    named = {"batch_pass_s": (r["batch_pass_s"], "s", r["passes"]),
             "query_ms_p50": (r["query_ms_p50"], "ms", r["query_samples"]),
             "query_ms_p90": (r["query_ms_p90"], "ms", r["query_samples"])}
    if a.trace and a.workload == "batch_sf0.1":
        named.update(apps_per_s=(r["apps_per_s"], "1/s", r["app_samples"]),
                     app_ms_p50=(r["app_ms_p50"], "ms", r["app_samples"]),
                     app_ms_p90=(r["app_ms_p90"], "ms", r["app_samples"]))
    if a.trace and a.workload == "batch_sf0.1_cold":
        named.update(event_ms_mean=(r["event_ms_mean"], "ms", r["event_samples"]),
                     event_ms_p50=(r["event_ms_p50"], "ms", r["event_samples"]),
                     event_ms_p90=(r["event_ms_p90"], "ms", r["event_samples"]),
                     stream_rows_per_s=(r["stream_rows_per_s"], "1/s", r["saturated_batches"]))
    e2e = {"setup_s": r["setup_s"], "query_cpu_ms": r["query_cpu_ms"],
           "live_heap_mb": r["live_heap_mb"]}
    named.update(setup_s=(r["setup_s"], "s", 1),
                 latency_ms=(r["query_ms_mean"], "ms", r["query_samples"]),
                 throughput_per_s=(r["queries_per_s"], "1/s", r["query_samples"]),
                 query_cpu_ms=(r["query_cpu_ms"], "ms", r["query_samples"]),
                 failed_frac=(failed / max(1, attempted), "ratio", attempted),
                 live_heap_mb=(r["live_heap_mb"], "MB", 1))
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "named": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in named.items()},
              "external_load": r["external_load"], "stolen_s": r["stolen_s"],
              "warmup_s": r.get("warmup_s"),
              "gc_s": r["gc_s"], "query_ms_by_name": r.get("query_ms_by_name"),
              "app_ms_by_name": r.get("app_ms_by_name"),
              "saturated_batch_ms": r.get("saturated_batch_ms"),
              "windows_checked": r.get("windows_checked"),
              "phases_s": {"build": t_build_end - start, "jvm": t_jvm - t_build_end,
                           "check": time.time() - t_jvm},
              "problems": problems, "wall_s": time.time() - start}
    print(json.dumps({"detail": detail}))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        metrics = {m["name"]: {"value": r[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
