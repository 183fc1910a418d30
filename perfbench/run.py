#!/usr/bin/env python3
"""Benchmark of the engine's own workloads, end to end and per layer.

    python3 perfbench/run.py --workload transfer --seed 1 --seconds 24 --trace 0

Workloads (see perfbench/README.md): `transfer` (E1 export → E2 import round
trip) and `query_mix` (the registry's delegated SQL entries and the exact
top-k calls). The first run in a checkout builds the engine
and the harness with sbt; later runs reuse the build while the sources are
unchanged.

Each run generates the fixture tables and the seeded inputs under a
temporary directory of the checkout, runs the harness JVM, checks every op's
output against DuckDB, and prints the figures. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with `--trace 0`
the metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Everything the run writes is removed when it exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("transfer", "query_mix")
DATA_SEED = 42      # the fixture tables are fixed; --seed picks each run's inputs
SETUP_REPS = 3      # set-ups per run; setup_s is their median
# A run times whole passes over the workload's ops for --seconds: at least
# this many, then more while the next one is expected to end in time. So a
# run's length does not grow on a slow host, and op_tail_s is read at the
# same percentile in every run (the one this many passes allow).
MIN_PASSES = {"transfer": 5, "query_mix": 3}
# A fixed, pre-touched heap: the JVM's resident set then does not depend on
# when the collector chose to grow the heap, and peak_rss_mb moves with the
# off-heap footprint (classes, generated code, buffers) and the heap setting.
# The heap is backed by transparent huge pages, so fewer TLB misses (each a
# walk of two page tables on a virtual machine) add to the driver's planning
# time; alternating query_mix runs on a 4-core VM were about 6% faster.
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 780

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "export_rows_per_s": "rows/s", "import_rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "Queries.build_s": "s", "driver.head_s": "s", "driver.gap_s": "s", "driver.tail_s": "s",
    "catalyst.query_executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.core_busy_ratio": "ratio", "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.task_gc_s": "s", "spark.task_deser_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "sources.csv_bytes_written": "bytes", "sources.csv_bytes_read": "bytes",
    "sources.csv_read_tasks": "count", "operators.import_catalog_s": "s",
    "operators.import_jdbc_s": "s", "operators.topk_rows_materialized": "rows",
    "operators.topk_useful_ratio": "ratio", "trace.overhead_s": "s",
}

# E1 sources. The lineitem slice adds a column that is NULL on some rows and
# the empty string on others, so the round trip must keep the two apart.
LINEITEM_SQL = """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
  CASE WHEN l_linenumber = 7 THEN NULL WHEN l_linenumber = 6 THEN ''
       ELSE l_returnflag END AS l_flag,
  l_shipdate
FROM lineitem WHERE l_orderkey >= :lo AND l_orderkey < :hi"""
EVENTS_SQL = "SELECT * FROM events WHERE event_id >= :lo AND event_id < :hi"
LINEITEM_SLICE = 15000   # order keys per slice: about 60k rows, 10% of lineitem
EVENTS_SLICE = 20000     # event ids per slice
SLICES = 16

SQL_STRIDE = 8           # query_mix times every 8th q-entry (10 of 75)

K = 10
QUERY_BATCH = 16         # query vectors per topKAll call
BATCHES = 4
SINGLES = 4
SUBSET = 300             # corpus rows per matryoshkaRecall call
SUBSETS = 2
MATRYOSHKA_DIMS = 16

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    project = os.path.join(ROOT, "project")
    if os.path.isdir(project):
        files += [os.path.join(project, f) for f in os.listdir(project)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("the engine's build.sbt and src/main/scala must sit "
                         "next to the perfbench directory")
    stamp = source_stamp()
    state = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.isfile(state):
        with open(state) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp and all(map(os.path.exists, saved["classpath"])):
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(os.path.dirname(state), exist_ok=True)
    with open(state, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def make_plan(args, work, data_dir):
    """Every seeded input of the run. The same seed gives the same plan."""
    rng = np.random.default_rng(args.seed)
    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "setup_reps": SETUP_REPS,
            "min_passes": MIN_PASSES[args.workload],
            "cores": len(os.sched_getaffinity(0)), "data_dir": data_dir, "work_dir": work}
    if args.workload == "transfer":
        li = rng.integers(0, datagen.ROWS["orders"] - LINEITEM_SLICE + 1, SLICES)
        ev = rng.integers(0, datagen.ROWS["events"] - EVENTS_SLICE + 1, SLICES)
        plan["transfer"] = {
            "lineitem_sql": LINEITEM_SQL, "events_sql": EVENTS_SQL,
            "slices": [{"lo": int(a), "hi": int(a) + LINEITEM_SLICE,
                        "events_lo": int(b), "events_hi": int(b) + EVENTS_SLICE}
                       for a, b in zip(li, ev)]}
    else:
        plan["sql"] = {"stride": SQL_STRIDE}
        n = BATCHES * QUERY_BATCH + SINGLES
        v = rng.standard_normal((n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        batch = [i // QUERY_BATCH for i in range(BATCHES * QUERY_BATCH)]
        batch += [-1 - j for j in range(SINGLES)]
        path = os.path.join(work, "queries.parquet")
        pq.write_table(pa.table({
            "query_id": pa.array(np.arange(n), pa.int64()),
            "batch": pa.array(batch, pa.int32()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.astype(np.float32).ravel()), 64).cast(pa.list_(pa.float32()))}),
            path)
        plan["topk"] = {
            "k": K, "matryoshka_dims": MATRYOSHKA_DIMS, "batches": BATCHES,
            "singles": SINGLES, "queries_path": path,
            "subsets": [sorted(int(x) for x in rng.choice(datagen.ROWS["embeddings"],
                                                          SUBSET, replace=False))
                        for _ in range(SUBSETS)]}
    return plan


def run_harness(classpath, plan, work):
    plan_path = os.path.join(work, "plan.json")
    result_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    for d in ("jvm-tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [java, *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseTransparentHugePages",
           f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(classpath), "perfbench.Harness", plan_path, result_path]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log_path) as f:
        log_lines = f.read().splitlines()
    if code != 0 or not os.path.isfile(result_path):
        sys.stderr.write("\n".join(log_lines[-40:]) + "\n")
        raise BenchError(f"harness exited with {code}")
    sys.stderr.writelines(l + "\n" for l in log_lines if l.startswith("perfbench:"))
    with open(result_path) as f:
        return json.load(f)


def op_key(o):
    """What fixes an op's input rows: a query entry reads the same rows every
    time, top-k ops of one kind scan alike whatever their batch or subset."""
    return o["name"] if o["kind"] == "query" else o["kind"]


def warmup_rows_in(result):
    """Rows entering the plans of each op (by `op_key`) in the warm-up."""
    warm = [o for o in result["ops"] if o["phase"] == "warmup"]
    qes = result["warmup_query_executions"]
    rows = {}
    for q, op in zip(qes, stats.attribute(warm, [q["start_ms"] for q in qes])):
        if op is not None:
            rows[op] = rows.get(op, 0) + q["leaf_rows"]
    return {op_key(o): rows.get(o["id"], 0) for o in warm}


def end_to_end(result, workload, entry_rows):
    timed = [o for o in result["ops"] if o["phase"] == "untraced"]
    per_pass = sum(1 for o in result["ops"] if o["phase"] == "warmup")
    summary = stats.op_summary(timed, MIN_PASSES[workload] * per_pass)
    if workload == "transfer":
        out_rate = stats.rate([o for o in timed if o["kind"].startswith("export")],
                              lambda o: o["rows"])
        in_rate = stats.rate([o for o in timed if o["kind"].startswith("import")],
                             lambda o: o["rows"])
    else:
        rows_in = warmup_rows_in(result)
        out_rate = stats.rate(timed, lambda o: entry_rows[o["name"]] if o["kind"] == "query"
                              else o["rows"])
        in_rate = stats.rate(timed, lambda o: rows_in[op_key(o)])
    values = {
        "setup_s": statistics.median(result["setup_s"]),
        "ops_per_s": summary["ops_per_s"],
        "op_p50_s": summary["op_p50_s"],
        "op_tail_s": summary["op_tail_s"],
        "export_rows_per_s": out_rate,
        "import_rows_per_s": in_rate,
        "peak_rss_mb": result["peak_rss_kb"] / 1024,
    }
    return values, summary


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    clock = [("start", time.monotonic())]
    classpath = build()
    clock.append(("build", time.monotonic()))
    work = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        data_dir = os.path.join(work, "data")
        datagen.write(data_dir, DATA_SEED)
        plan = make_plan(args, work, data_dir)
        clock.append(("inputs", time.monotonic()))
        result = run_harness(classpath, plan, work)
        clock.append(("harness", time.monotonic()))

        con = checks.connect(data_dir)
        failed = {o["id"]: o["error"] for o in result["ops"] if "error" in o}
        entry_rows, unchecked = {}, []
        if args.workload == "transfer":
            failed.update(checks.check_transfer(con, result, plan))
        else:
            bad, entry_rows, unchecked = checks.check_queries(con, result)
            failed.update(bad)
            failed.update(checks.check_topk(con, result, plan))
        con.close()
        clock.append(("checks", time.monotonic()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.write("wall: " + " ".join(f"{n}={b - a:.1f}s" for (_, a), (n, b)
                                         in zip(clock, clock[1:])) + "\n")

    attempted = len(result["ops"])
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={result['cores']} fixture_seed={DATA_SEED}")
    for reason in sorted(set(failed.values()))[:10]:
        print(f"FAILED {reason}")
    if unchecked:
        print(f"unchecked (no oracle): {', '.join(unchecked)}")
    print(f"error_rate={len(failed) / attempted:.4f} ({len(failed)} of {attempted} ops)")
    if args.trace:
        metrics = stats.layer_metrics(result)
        units = PER_LAYER
    else:
        metrics, summary = end_to_end(result, args.workload, entry_rows)
        units = END_TO_END
        print(f"timed ops={summary['ops']} tail=p{summary['tail_pct']} "
              f"({summary['tail_beyond']} samples beyond it)")
        timed = [o for o in result["ops"] if o["phase"] == "untraced"]
        for kind in sorted({o["kind"] for o in timed}):
            walls = [(o["end_ms"] - o["start_ms"]) / 1000 for o in timed if o["kind"] == kind]
            print(f"  op {kind:14s} n={len(walls):3d} p50={stats.nearest_rank(walls, 50):.4f}s "
                  f"total={sum(walls):.3f}s")
    for name in units:
        print(f"  {name:34s} {metrics[name]:16.6f} {units[name]}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
