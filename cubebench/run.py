#!/usr/bin/env python3
"""graft benchmark: cube ingest and lookup, and a query workload.

Usage (from the root of a checkout):

    python3 cubebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from the checkout's sources with sbt
(once per source state, into .bench_build/), runs one workload in one JVM
at local[<cores>], checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics; a traced run also keeps its spans under .bench_trace/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cube", "queries")
RUN_LIMIT_S = 165
QUERY_SF = 0.002
SETUP_REPS = 3
BUILD_LIMIT_S = 800

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"cubebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "resources" in d]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala/graft)")
    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(["sbt", "-J-XX:-UsePerfData", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    if not all(os.path.exists(x) for x in cp.split(os.pathsep)):
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt did not print a usable classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def query_tables(seed, work):
    """Generate the query tables SETUP_REPS times; keep the last copy and
    return its directory and the median generation time."""
    import tables
    times = []
    for r in range(SETUP_REPS):
        sf = os.path.join(work, f"sf{r}")
        t0 = time.monotonic()
        tables.write(sf, seed, QUERY_SF)
        times.append(time.monotonic() - t0)
        if r:
            shutil.rmtree(os.path.join(work, f"sf{r - 1}"))
    return sf, sorted(times)[len(times) // 2]


def run_jvm(cp, args, work, deadline, extra):
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false", "-XX:ReservedCodeCacheSize=512m"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cubebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--out", out] + extra
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep Spark's scratch in the run directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0 or not os.path.isfile(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}")
    with open(out) as fh:
        res = json.load(fh)
    if args.trace:
        keep = os.path.join(ROOT, ".bench_trace")
        os.makedirs(keep, exist_ok=True)
        shutil.copyfile(out + ".spans.json", os.path.join(keep, f"{args.workload}-seed{args.seed}.spans.json"))
    return res


# --- query output check: DuckDB oracle, canonicalised as tools/check.py does

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(norm(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


# DuckDB inlines a CTE at every reference; the graph oracles nest theirs
# (k-core peels e0 → e4, each step referencing the previous one three times),
# which recomputes the minhash pair CTE exponentially often. Materializing
# each CTE once gives the same rows in a few seconds.
CTE = re.compile(r"(^|WITH\s+|,\s*)([A-Za-z_]\w*)\s+AS\s+\((?=\s*(?:SELECT|WITH|VALUES|FROM|\())", re.M | re.I)


def materialized(sql):
    return CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def oracle_check(oracle):
    """Names of the queries whose Spark output differs from DuckDB's."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{oracle['sf']}/{t}.parquet'")
    with open(os.path.join(oracle["out"], "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    wrong = {}
    for name, sql in sqls.items():
        try:
            spark_rel = con.sql(f"SELECT * FROM '{oracle['out']}/{name}/*.parquet'")
            duck_rel = con.sql(materialized(sql))
            s_types = dict(zip(spark_rel.columns, map(str, spark_rel.types)))
            d_types = dict(zip(duck_rel.columns, map(str, duck_rel.types)))
            if s_types != d_types:
                wrong[name] = f"column types {s_types} vs {d_types}"
            elif canon(spark_rel) != canon(duck_rel):
                wrong[name] = "rows differ from the DuckDB oracle"
        except Exception as e:  # an oracle or read error is a failed check, not a crash
            wrong[name] = f"oracle check raised {type(e).__name__}: {e}"[:300]
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp = build()
    declared = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        deadline = time.monotonic() + RUN_LIMIT_S
        extra = []
        if args.workload == "queries":
            sf, tables_s = query_tables(args.seed, work)
            extra = ["--sf", sf, "--tables-s", str(tables_s)]
        res = run_jvm(cp, args, work, deadline, extra)
        problems = list(res["check_failures"])
        failed = res["failed"]
        if "oracle" in res:
            t_oracle = time.monotonic()
            wrong = oracle_check(res["oracle"])
            print(f"oracle check took {time.monotonic() - t_oracle:.1f} s", file=sys.stderr)
            for q, why in sorted(wrong.items()):
                problems.append(f"{q}: {why}")
                failed += res["oracle"]["execs"].get(q, 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"]
    missing = [m["name"] for m in declared if res["metrics"].get(m["name"]) is None]
    if missing or attempted < 1:
        fail(f"run reported no value for {missing}" if missing else "no operation was attempted")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in declared}

    print(f"workload {args.workload} seed {args.seed}: attempted {attempted}, failed {failed}, "
          f"failed_frac {failed / attempted:.4f}")
    for k, (v, unit) in res["report"].items():
        if k != "failed_frac":
            print(f"  {k} = {v if v is None else f'{v:.6g}'} {unit}")
    for m in declared:
        print(f"  {m['name']} = {metrics[m['name']]['value']:.6g} {m['unit']}")
    for p in problems[:20]:
        print(f"  check failed: {p}")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
