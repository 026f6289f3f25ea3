#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the JVM harness
(``perfbench.Main``) and prints, as the last line of standard output, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with the layer tracer on and reports the per-layer metrics.
The full result record (per-pass timings, host load, Spark confs,
failures, per-op layer rows) is written to ``perfbench/out/``.
Workloads: interactive, bdb_pipeline (see NOTES.md).
"""
import argparse
import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

import gen
from report import canon

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")

WORKLOADS = ("interactive", "bdb_pipeline")
# bdb tracking size: games x blocks of six plays
BDB_GAMES, BDB_BLOCKS = 2, 1
GEN_REPEATS = 3
# fixed heap and generation sizes keep the resident high-water mark from
# following the collector's heap resizing
JVM_HEAP = "2g"
# a run must end within 180 s; the first run of a checkout may take 900 s
# because it builds
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700

E2E = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "peak_rss_mb": "MB"}
LAYERS = {
    "tables.load_ms": "ms", "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.task_wait_s": "s", "exec.core_util": "ratio", "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "bdb.prep_s": "s", "bdb.radius_s": "s", "bdb.read_order_s": "s", "bdb.press_s": "s",
    "bdb.matchups_s": "s", "bdb.coverage_s": "s", "bdb.write_s": "s",
    "domain.k2_ns_per_sample": "ns", "domain.k1_us_per_call": "us",
    "serve.frame_ms": "ms", "serve.reach_ms": "ms", "trace.wall_s": "s",
}
# bdb stage table -> registry query whose DuckDB oracle replays it
BDB_ORACLES = {"mirrors": "bdb_mirror_matchups", "features": "bdb_coverage_features"}

# the module opens the engine's build.sbt gives forked JVMs (Spark on JDK 17)
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile the engine (its own build file) and the harness; cache the
    runtime classpath. Returns the classpath string."""
    if os.path.exists(CLASSPATH_FILE):
        return open(CLASSPATH_FILE).read().strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources (src/main/scala) are missing")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt binds its boot socket under $XDG_RUNTIME_DIR, else java.io.tmpdir.
    # A unix socket path holds at most 107 bytes, so the directory is given
    # relative to sbt's working directory: it stays in the checkout however
    # deep the checkout lies.
    tmp = os.path.relpath(os.path.join(BUILD_DIR, "sbt-tmp"), HERE)
    os.makedirs(os.path.join(HERE, tmp), exist_ok=True)
    env["XDG_RUNTIME_DIR"] = tmp
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log("building engine and harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def generate(seed, data):
    """Generate the inputs of both workloads (a traced run probes the other
    workload's layers) GEN_REPEATS times; return (median seconds, info,
    errors). Every repeat must give the same content, and the next seed
    must give different tracking data."""
    times, digests = [], []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        _, tracking_digest, rows = gen.tracking(os.path.join(data, "bdb"), seed,
                                                BDB_GAMES, BDB_BLOCKS)
        digest = tracking_digest + gen.file_digest(gen.relational(os.path.join(data, "relational")))
        times.append(time.perf_counter() - t0)
        digests.append(digest)
    errors = []
    if len(set(digests)) != 1:
        errors.append("input generation is not deterministic for one seed")
    if gen.table_digest(gen.tracking_tables(seed + 1, BDB_GAMES, BDB_BLOCKS)) == tracking_digest:
        errors.append(f"seeds {seed} and {seed + 1} generate identical tracking data")
    info = {"tracking_rows": rows, "input_digest": digests[0]}
    return statistics.median(times), info, errors


def check_bdb(record, data, stages):
    """Every stage table is non-empty and the timed passes rewrote it with
    the content of the warm pass; the relational stages match a DuckDB
    replay of their registry oracle SQL over the generated inputs."""
    errors = []
    con = duckdb.connect()

    def rows(sql):
        cur = con.execute(sql)
        return canon(cur.fetchall(), [d[0] for d in cur.description])

    def stage(pass_dir, table):
        """The rows of a stage table, or None when its op wrote no file."""
        pattern = f"{stages}/{pass_dir}/{table}/*.parquet"
        return rows(f"SELECT * FROM '{pattern}'") if glob.glob(pattern) else None

    for table in record["info"]["stage_tables"]:
        warm, timed = stage("warm", table), stage("timed", table)
        if warm is None or timed is None:
            errors.append(f"stage table {table} was not written")
        elif not warm:
            errors.append(f"stage table {table} is empty")
        elif warm != timed:
            errors.append(f"stage table {table} differs between the warm and timed passes")
    fixture = re.escape(record["info"]["fixture_path"])
    for table, query in BDB_ORACLES.items():
        sql = re.sub(r"'%s/(\w+)/\*\.parquet'" % fixture,
                     lambda m: "'%s/%s.parquet'" % (os.path.join(data, "bdb"), m.group(1)),
                     record["info"]["oracle_sql"][query])
        timed = stage("timed", table)
        if timed is not None and timed != rows(sql):
            errors.append(f"stage table {table} differs from the DuckDB replay of {query}")
    con.close()
    return errors


def run_jvm(classpath, args, workload, data, out, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", data, "--work", WORK, "--out", out,
              "--expected", os.path.join(HERE, "expected.json")])
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        # Spark binds its driver to loopback without a name lookup of the host
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(WORK, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness failed (exit {rc})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    os.makedirs(data)
    os.makedirs(OUT, exist_ok=True)

    gen_s, gen_info, errors = generate(args.seed, data)
    out = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    run_jvm(classpath, args, args.workload, data, out, deadline)
    record = json.load(open(out))

    if args.workload == "bdb_pipeline":
        errors += check_bdb(record, data, os.path.join(WORK, "stages"))
    failures = record["failures"] + [{"op": "input_or_oracle_check", "class": "OutputMismatch",
                                      "message": e} for e in errors]
    attempted = record["attempted"] + len(errors)
    e2e = dict(record["e2e"], setup_s=gen_s + record["setup_jvm_s"])
    layers = record["layers"]
    if args.workload == "bdb_pipeline":
        e2e["rows_per_s"] = gen_info["tracking_rows"] / e2e["wall_s"]
    # confs that name this host or this process say nothing about the run
    record["confs"] = {k: v for k, v in record["confs"].items()
                       if k not in ("spark.driver.host", "spark.driver.port", "spark.app.id",
                                    "spark.app.startTime", "spark.app.submitTime")}
    record.update(gen_s=gen_s, gen=gen_info, failures=failures, attempted=attempted,
                  failed=len(failures), fail_ratio=len(failures) / attempted, e2e=e2e)
    with open(out, "w") as f:
        # paths relative to the checkout, so records compare across machines
        f.write(json.dumps(record, indent=1, sort_keys=True).replace(ROOT + "/", ""))

    wanted = E2E if args.trace == 0 else LAYERS
    source = e2e if args.trace == 0 else layers
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
    for f in failures:
        log(f"FAILED {f['op']}: {f['class']}: {f['message']}")
    log(f"{args.workload} seed {args.seed}: {record['passes_n']} passes, "
        f"{record['ops_timed']} timed ops, {len(failures)}/{attempted} failed; record {out}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
