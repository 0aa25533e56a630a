#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its metrics.

Usage, from the root of a checkout:
  python3 graftbench/run.py --workload ingest_backlog|ingest_live|analytics_mix
      --seed N --seconds S --trace 0|1 [--fault NAME]

The first run in a checkout builds graft and the benchmark from source
(graftbench/build.sbt, offline sbt, against the jars of the Spark
installation named by SPARK_HOME or found through spark-submit on PATH).
Each run then starts one benchmark JVM, which sets up, runs a fixed number of warm units and of
measured units, and checks every output. The last line of standard
output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. The line before it holds the run's host context (steal ticks
per second over the run, and the time of a fixed single-threaded
calibration loop).

--fault injects one fault into what the checks see, to test them:
drop, dup, reorder (ingest_backlog); lost, dupout (ingest_live);
alter (analytics_mix). Each must come back as failed operations.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")

WORKLOADS = ("ingest_backlog", "ingest_live", "analytics_mix")
# Nominal wall seconds of one unit on a quiet host: the number of
# measured units is --seconds divided by this, so the work of a run
# depends on --seconds alone, never on how fast the host runs.
UNIT_SECONDS = {"ingest_backlog": 2.0, "ingest_live": 4.0, "analytics_mix": 2.7}
MIN_UNITS = 3
# Untimed warm units before the measured ones. The first warm pass of
# analytics_mix is the check pass, whose outputs go to the oracles.
WARM_UNITS = {"ingest_backlog": 2, "ingest_live": 3, "analytics_mix": 2}
# Scale factor of the generated tables of analytics_mix.
MIX_SCALE = 0.01
JVM_TIMEOUT_S = 150
FAULTS = {"ingest_backlog": ("drop", "dup", "reorder"),
          "ingest_live": ("lost", "dupout"), "analytics_mix": ("alter",)}

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Xms1536m", "-Xmx1536m",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:TieredStopAtLevel=1",
    "-Dspark.buffer.pageSize=4m",
    "-Dspark.sql.codegen.cache.maxEntries=8192",
    "-Dspark.sql.codegen.useIdInClassName=false",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def build(spark):
    """Compiles graft and the benchmark when any source changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=spark, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx2g"))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def steal_ticks():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def calibrate():
    """Seconds for a fixed single-threaded integer loop."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def jvm(spark, args, run_dir, tag):
    out = os.path.join(run_dir, f"{tag}.json")
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={run_dir}",
           "-cp", f"{CLASSES}:{spark}/jars/*", "graftbench.Main",
           *args, "--work", os.path.join(run_dir, tag), "--out", out,
           "--launch-ns", str(time.time_ns())]
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{tag} JVM timed out, see {run_dir}/{tag}.log", 4)
    if code != 0 or not os.path.exists(out):
        fail(f"{tag} JVM exited {code}, see {run_dir}/{tag}.log", 4)
    with open(out) as f:
        return json.load(f)


def tables_for(seed):
    d = os.path.join(WORK, f"tables-s{seed}-sf{MIX_SCALE}")
    if not os.path.exists(os.path.join(d, "documents.parquet")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), tmp, str(seed),
                        str(MIX_SCALE)], check=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--fault", choices=sorted({f for fs in FAULTS.values() for f in fs}))
    a = ap.parse_args()
    if a.fault and a.fault not in FAULTS[a.workload]:
        fail(f"fault {a.fault} does not apply to {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala/graft: run from a graft checkout")
    spark = spark_home()
    build(spark)
    t_start, steal0 = time.time(), steal_ticks()
    calib = calibrate()
    units = max(MIN_UNITS, round(a.seconds / UNIT_SECONDS[a.workload]))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--units", str(units),
             "--warm", str(WARM_UNITS[a.workload]),
             "--trace", str(a.trace)]
    if a.workload == "analytics_mix":
        tables = tables_for(a.seed)
        jargs += ["--tables", tables]
    if a.fault:
        jargs += ["--fault", a.fault]
    r = jvm(spark, jargs, run_dir, "run")
    attempted, failed = r["attempted"], r["failed"]
    problems = r["warm_failed"] > 0
    if a.workload == "analytics_mix":
        import oracle
        bad = oracle.compare(ROOT, tables, os.path.join(run_dir, "run", "mix", "check"),
                             alter_one_row=a.fault == "alter")
        for entry, reason in sorted(bad.items()):
            print(f"analytics_mix: {entry} differs from its oracle: {reason}", file=sys.stderr)
            # every measured execution of a wrong entry ran the checked plan
            failed += r["measured_passes"] - r["entry_throws"].get(entry, 0)
    elapsed = time.time() - t_start
    context = {"host_steal_ticks_per_s": (steal_ticks() - steal0) / elapsed,
               "calibration_s": calib, "units": units, "warm_units": r["warm_units"],
               "unit_cpu_s": r["unit_cpu_s"], "setup_wall_s": r["setup_wall_s"],
               "lat_p50_ms": r["lat_p50_ms"],
               "nproc": os.cpu_count()}
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in r["per_layer"].items()}
        shutil.copy(os.path.join(run_dir, "run", "trace.jsonl"),
                    os.path.join(WORK, f"trace-{a.workload}-s{a.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "work_cpu_s": {"value": r["work_cpu_s"], "unit": "s"},
            "retained_heap_mb": {"value": r["retained_heap_mb"], "unit": "MB"},
        }
    # A run with failed operations keeps its work directory: run.log holds
    # the check problems the JVM reported, and the mix check's outputs stay.
    if failed or problems:
        print(f"graftbench: failed operations, see {run_dir}/run.log", file=sys.stderr)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


UNITS ={"flushes": "count", "records": "count", "requeued": "count", "dead_letter": "count",
         "put_yield": "ratio", "put_calls": "count", "files": "count", "log_bytes": "bytes",
         "describe_calls": "count", "read_calls": "count", "read_records": "count",
         "batches": "count", "rows": "count", "bytes": "bytes", "jobs": "count",
         "stages": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
         "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "compiles": "count",
         "alloc_mb": "MB", "warm_s": "s", "backlog_max": "count"}


def unit_of(name):
    leaf = name.rsplit(".", 1)[1]
    return UNITS.get(leaf, "ms")


if __name__ == "__main__":
    main()
