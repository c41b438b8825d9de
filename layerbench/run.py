#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the benchmark program from this
checkout, runs one workload in one JVM, checks its outputs and prints the
result as one JSON object on the last line of stdout.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Workloads: bdb_pipeline, query_suite
(see layerbench/README.md). Everything the run builds or writes
stays under .bench_build/ (plus the sbt target/ directories).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "layerbench")
WORKLOADS = ("bdb_pipeline", "query_suite")
QUERY_SF = 0.01
SETUP_ROUNDS = 3  # set-up is repeated and timed as a median
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# a run ends within this many seconds, the build excluded
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, stdout, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, env=env,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None


def classpath():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fp and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export layerbench/Runtime/fullClasspath"],
        HERE, BUILD_LIMIT_S, subprocess.PIPE, env)
    if code != 0:
        sys.stderr.write(out or "")
        sys.exit("build failed" if code is not None else "build timed out")
    cp = out.strip().splitlines()[-1].split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def canon(cursor):
    """Row count and order-insensitive hash of a result: columns sorted by
    name, values rendered exactly (floats by repr), rows sorted."""
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    rows = sorted("\x1f".join(norm(r[i]) for i in order) for r in cursor.fetchall())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest(), sorted(cols)


def oracle_check(run_dir):
    """Compare each query_suite output with DuckDB running the query's oracle
    SQL over the same tables; a query without one must match the row count
    and hash recorded in expected.json."""
    import duckdb
    data = os.path.join(run_dir, "data")
    with open(os.path.join(data, "check", "oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        recorded = json.load(f)["query_suite"]
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    problems = []
    for q, sql in oracle.items():
        try:
            got = canon(con.execute(f"SELECT * FROM read_parquet('{data}/check/{q}/*.parquet')"))
            want = canon(con.execute(sql)) if sql is not None else None
        except duckdb.Error as e:
            problems.append(f"{q}: {e}")
            continue
        if os.environ.get("LAYERBENCH_RECORD") and sql is None:
            log(f'record {q}: {{"rows": {got[0]}, "hash": "{got[1]}"}}')
        if want is None and q in recorded:
            want = (recorded[q]["rows"], recorded[q]["hash"], got[2])
        if want is None:
            problems.append(f"{q}: no oracle SQL and no recorded result")
            continue
        if got != want:
            problems.append(f"{q}: {got[0]} rows hash {got[1][:12]}, expected {want[0]} rows hash {want[1][:12]}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources not found: run from the root of a checkout")
    cp = classpath()

    t0 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    datagen_s = 0.0
    if a.workload == "query_suite":
        # generated here, before the JVM starts; timed like the JVM's own set-up
        import tablegen
        times = []
        for r in range(SETUP_ROUNDS):
            t = time.time()
            tablegen.write(os.path.join(run_dir, "data"), QUERY_SF, a.seed)
            times.append(time.time() - t)
        datagen_s = sorted(times)[len(times) // 2]
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Dlayerbench.expected={os.path.join(HERE, 'expected.json')}"] + ADD_OPENS +
           ["-cp", os.pathsep.join(cp), "layerbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, str(datagen_s), str(SETUP_ROUNDS)])
    # Spark's scratch space stays in the run directory (see Main)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        # leave room for the oracle check after the JVM
        code, out = run_bounded(cmd, ROOT, RUN_LIMIT_S - 15 - (time.time() - t0), subprocess.PIPE, env)
        if code != 0:
            sys.stderr.write(out or "")
            sys.exit(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}")
        lines = [l for l in out.splitlines() if l.startswith("LAYERBENCH_RESULT ")]
        if not lines:
            sys.stderr.write(out)
            sys.exit("benchmark JVM printed no result")
        res = json.loads(lines[-1][len("LAYERBENCH_RESULT "):])
        problems = list(res["problems"])
        if a.workload == "query_suite":
            tc = time.time()
            problems += oracle_check(run_dir)
            log(f"oracle check {time.time() - tc:.1f} s")
        trace_file = os.path.join(run_dir, "trace.jsonl")
        if os.path.exists(trace_file):
            keep = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(trace_file, keep)
            log(f"trace written to {os.path.relpath(keep, ROOT)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        log(f"check failed: {p}")
    log(f"run took {time.time() - t0:.1f} s")
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
