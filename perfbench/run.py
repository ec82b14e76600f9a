#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The run starts one JVM at local[4], measures the
workload for --seconds seconds, checks the outputs (crawls against
OracleCrawler inside the JVM, queries against their oracle SQL in DuckDB
here), and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

as the last line of standard output. Spark logs go to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wide", "skew", "polite", "analytics")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: program, benchmark, build files."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the JVM launch args."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.digest")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(launch) as f:
                    return f.read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
    with open(os.path.join(HERE, "out", "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(launch):
        fail("build failed, see perfbench/out/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(launch) as f:
        return f.read().splitlines()


def decimals(x):
    """Decimal places of a float as DuckDB returns it (15 at most)."""
    r = repr(x)
    return min(15, len(r.split(".")[1])) if "." in r and "e" not in r else 15


def same(a, b, tol):
    """Cell equality. Floats may differ by `tol`: a rounded float aggregate
    depends on summation order, which Spark and DuckDB do not share, so a
    value on a rounding boundary can land one unit of its last place apart."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= tol + 1e-9 * max(abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y, tol) for x, y in zip(a, b))
    return a == b


def rows_of(con, sql):
    rel = con.sql(sql)
    return rel.columns, sorted(rel.fetchall(), key=repr)


def equal(got, want):
    """Row sets equal, floats to one unit of each column's last decimal place."""
    if len(got) != len(want):
        return False
    tols = [1.01 * 10.0 ** -max([decimals(r[c]) for r in want if isinstance(r[c], float)] or [15])
            for c in range(len(want[0]))] if want else []
    return all(same(g[c], w[c], tols[c]) for g, w in zip(got, want) for c in range(len(w)))


def check_queries(check):
    """Compare every query's Spark output with its oracle SQL in DuckDB.
    Returns the names of the queries that differ."""
    import duckdb
    tables, out = check["tables_dir"], check["verify_dir"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, name)}/*.parquet')")
    bad = []
    for q, sql in sorted(oracle.items()):
        try:
            got_cols, got = rows_of(con, f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')")
            want_cols, want = rows_of(con, sql)
            ok = got_cols == want_cols and equal(got, want)
        except Exception as e:  # a missing output or failing SQL is a mismatch
            print(f"perfbench: check {q}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala) are not in this checkout")

    out = os.path.join(HERE, "out")
    work = os.path.join(HERE, "work")
    os.makedirs(out, exist_ok=True)
    jvm = build()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # no hsperfdata file: the run writes only inside the checkout
    cmd = (["java", "-XX:-UsePerfData"] + jvm + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--work", work, "--out", out])
    log_path = os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                               stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
        lines = r.stdout.splitlines()
        info = [l for l in lines if l.startswith("PERFBENCH_INFO ")]
        res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
        if r.returncode != 0 or not res:
            fail(f"benchmark JVM failed (exit {r.returncode}), see {os.path.relpath(log_path, ROOT)}")
        result = json.loads(res[-1][len("PERFBENCH_RESULT "):])
        check = result.pop("check")
        if check:
            t0 = time.time()
            bad = check_queries(check)
            print(f"perfbench: checked the queries in {time.time() - t0:.1f} s", file=sys.stderr)
            passes = int(check["query_passes"])
            if bad:
                print(f"perfbench: queries differing from their oracle SQL: {bad}", file=sys.stderr)
            result["failed"] += len(bad) * passes
            result["correct"] = result["failed"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for l in info:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
