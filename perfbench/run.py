#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness with sbt on first use (into .bench_build/),
then runs the workload in one JVM (local[4]), checks its outputs, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. A line before it carries the run's details
(generator parameters, input hash, loadavg, every sample). Exits non-zero
without a result line when it cannot build or run.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "sbt", "classpath.txt")
STAMP = os.path.join(BUILD, "stamp")
ENGINE_SOURCES = os.path.join(ROOT, "src", "main")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the list the
# repository's build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SOURCES, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
            with open(STAMP) as f:
                if f.read() == stamp:
                    return
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "benchClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed")
        with open(STAMP, "w") as f:
            f.write(stamp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def heap():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 << 20)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(args, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # C1 only: in a run this short the C2 compiler's threads take as much
    # CPU as the program, and when they run decides the wall time (see
    # README, "Short runs are JIT-bound"). C1 alone defaults to a 48 MiB
    # code cache, which Spark's generated classes fill within a few
    # operations, and flushing it recompiles for seconds; 240 MiB is the
    # tiered default
    cmd = (["java", f"-Xmx{heap()}", "-Xms1g", "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--trace", str(args.trace),
              "--work", os.path.join(work, "data"), "--out", out])
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle files
    # outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload timed out")
    if code != 0 or not os.path.exists(out):
        fail(f"workload exited with code {code}")
    with open(out) as f:
        return json.load(f)


def duckdb_check(check):
    """Run the engine's oracle SQL for a key in DuckDB over the same input
    files and compare every collected result with it: same columns, same
    row count, same rows (as sorted multisets). Returns one problem string
    per result that differs."""
    import duckdb
    con = duckdb.connect()
    for table, path in check["tables"].items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}/*.parquet'")
    with open(check["sql"]) as f:
        want = con.execute(f.read()).fetchall()
    want_cols = [d[0] for d in con.description]

    def canon(rows):
        return sorted(tuple("null" if v is None else str(v) for v in r)
                      for r in rows)

    problems = []
    for path in check["results"]:
        with open(path) as f:
            got = json.load(f)
        cols = got["columns"]
        if sorted(cols) != sorted(want_cols):
            problems.append(f"{check['key']}: columns {cols} != {want_cols}")
            continue
        order = [want_cols.index(c) for c in cols]
        expect = canon([r[i] for i in order] for r in want)
        rows = canon(got["rows"])
        if len(rows) != len(expect):
            problems.append(f"{check['key']}: {len(rows)} rows, oracle {len(expect)}")
        elif rows != expect:
            problems.append(f"{check['key']}: rows differ from the oracle")
    return problems


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common benchmark interface; a run times a fixed
    # count of operations (see README, "What one run does")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SOURCES, "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, work, os.path.join(work, "result.json"),
                      time.time() + RUN_TIMEOUT_S)
        failures = list(res["info"].get("failures", []))
        res["info"]["jvm_s"] = round(time.time() - start, 3)
        for check in res.pop("external_checks"):
            t0 = time.time()
            problems = duckdb_check(check)
            res["info"]["check_s"] = round(time.time() - t0, 3)
            res["failed"] += len(problems)
            failures += problems
        res["correct"] = res["failed"] == 0
        res["info"]["failures"] = failures
        res["info"]["wall_s"] = round(time.time() - start, 3)
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "data", "trace.jsonl"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = res.pop("info")
    print(json.dumps({"perfbench": info}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
