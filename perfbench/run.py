#!/usr/bin/env python3
"""Benchmark of the graft CDC engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): enrich_backlog, enrich_live, view_drives,
batch_gates. The first run in a checkout builds the program together with
the harness in perfbench/jvm (sbt, offline); later runs reuse the build
while the sources are unchanged. Each run works under its own directory in
.perfbench_work/ and deletes it afterwards.

The last line of standard output is one JSON object:
    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. Outputs are checked after the timed window: the enrich
workloads against the program's batch twin over the same input, the gate
workloads against their DuckDB oracle SQL.

Which end-to-end metric each layer metric should move:
  sources.scan_s, sources.sink_write_s, cdc.parse_s, cdc.enrich_s,
  sources.out_mb, engine.rows_per_s_1core
      -> throughput_rows_per_s and wall_s on enrich_stream
  sources.list_in_ms, sources.list_out_ms, engine.* phases and batch
  growth -> latency_p50_ms / latency_p90_ms on enrich_stream
  spark.jobs, spark.tasks, driver.gap_s, codegen.*, cdc.store_*
      -> wall_s on gates (stateful drives)
  spark.task_cpu_s, spark.shuffle_write_mb -> wall_s and cpu_s on gates
  jvm.gc_ms -> every workload
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
JVM = os.path.join(HERE, "jvm")
BUILD_DIR = os.path.join(JVM, "target")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
DEADLINE_S = 170  # the measured part of a run (the build excluded) ends within 180 s
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(JVM, "src")]
    files = [os.path.join(JVM, "build.sbt"),
             os.path.join(JVM, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH", 3)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compiles program + harness; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-Dspark.home=" + spark_home()]))
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=JVM, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp[-1])
    return cp[-1]


def stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def run_jvm(cp, args, work, budget_s):
    global _child
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dgraft.fixture.root={os.path.join(work, 'fixtures')}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            work, result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    _child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, stdin=subprocess.DEVNULL,
                              start_new_session=True)
    try:
        code = _child.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"run exceeded {budget_s:.0f} s", 4)
    if code != 0 or not os.path.exists(result):
        fail(f"harness exited with code {code}", 5)
    with open(result) as fh:
        return json.load(fh)


def oracle_misses(gates):
    """Compares each gate result with its DuckDB oracle the way the
    repo's oracle check does: columns by name, rows sorted by every
    column, cells exact (doubles bit-exact, decimals numerically)."""
    import duckdb
    import pandas as pd
    from decimal import Decimal

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), kind="mergesort",
                                na_position="first").reset_index(drop=True)
        return df

    def same(a, b):
        if pd.isna(a) and pd.isna(b):
            return True
        if isinstance(a, Decimal) or isinstance(b, Decimal):
            return Decimal(str(a)) == Decimal(str(b))
        return bool(a == b)

    misses = 0
    for g in gates:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for f in os.listdir(g["tables"]):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{g['tables']}/{f}/*.parquet')")
        files = [os.path.join(g["result"], f) for f in os.listdir(g["result"])
                 if f.endswith(".parquet")]
        why = None
        try:
            got = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
            exp = norm(con.execute(g["sql"]).df())
            if list(got.columns) != list(exp.columns):
                why = f"columns {list(got.columns)} vs {list(exp.columns)}"
            elif len(got) != len(exp):
                why = f"rows {len(got)} vs {len(exp)}"
            else:
                for c in got.columns:
                    bad = [i for i, (a, b) in enumerate(zip(got[c], exp[c]))
                           if not same(a, b)]
                    if bad:
                        why = (f"column {c} row {bad[0]}: "
                               f"{got[c][bad[0]]!r} vs {exp[c][bad[0]]!r}")
                        break
        except Exception as e:  # an oracle that cannot run is a miss too
            why = f"{type(e).__name__}: {e}"
        con.close()
        if why:
            misses += 1
            log(f"oracle mismatch {g['name']}: {why}")
    return misses


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {PROGRAM_SRC}", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: (stop_child(), shutil.rmtree(
        work, ignore_errors=True), sys.exit(143)))
    try:
        r = run_jvm(cp, args, work, DEADLINE_S)
        log(f"harness exited after {time.time() - t_start:.1f} s (build included)")
        attempted, failed = r["attempted"], r["failed"]
        if r["gates"]:
            failed += oracle_misses(r["gates"])
    finally:
        stop_child()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    source = r["layers"] if args.trace else r["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # figures beyond the declared metrics (per-gate seconds, the live
    # feeder's lateness, the untraced side of a traced run) go on stdout
    # ahead of the result line
    for k, v in sorted({**r["metrics"], **r["layers"]}.items()):
        if k not in metrics:
            print(f"{k} = {v}")
    for k, v in metrics.items():
        print(f"{k} = {v['value']} {v['unit']}")
    print(f"failed_share = {failed / max(attempted, 1)} ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
