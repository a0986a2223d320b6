#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Builds the engine and the runner (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), computes the expected
results (perfbench/oracle.py), runs the benchmark JVM, checks every operation's
output and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything is written under .bench_build/.
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
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Ten of the engine's 31 oracle-covered relational queries: an aggregate,
# multi-way joins, a window top-k, a rollup, an as-of join, event analytics,
# retention and the three that read staged layouts (z-order, clustered +
# bloom, materialized rollup). A run is one pass over them: all 31 do not
# fit in a run.
SQL_OPS = ("q01_pricing_summary q10_revenue_by_nation q11_top_customers_per_region "
           "q14_rollup q19_asof_join q22_events_hourly q61_retention "
           "q107_zonemap_prune q108_mv_rewrite q131_bloom_lookup").split()
SQL_SF = 0.1
DELIVERIES = 10  # a run delivers them all (Main.Etl.round)
CORES = max(1, min(3, (os.cpu_count() or 1) - 1))
BUILD_DIR = os.path.abspath(".bench_build")

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"),
              ("peak_live_heap_mb", "MB")]
PER_LAYER = [
    ("session.build_s", "s"), ("tuning.shuffle_partitions", "count"),
    ("sources.prepare_s", "s"), ("sources.fetch_s", "s"), ("sources.scan_bytes", "bytes"),
    ("sources.scan_rows", "count"), ("sources.rows_per_result_row", "ratio"),
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.exchanges", "count"), ("plans.codegen_stages", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.driver_gap_s", "s"), ("scheduler.task_wait_s", "s"),
    ("scheduler.task_busy_s", "s"), ("scheduler.task_cpu_s", "s"),
    ("scheduler.task_gc_s", "s"), ("scheduler.core_utilization", "ratio"),
    ("scheduler.failed_tasks", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_bytes", "bytes"),
    ("materialize.blocks", "count"), ("materialize.bytes_peak", "bytes"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.overhead_s", "s"),
    ("warehouse.rows_upserted", "count"), ("warehouse.rows_changed", "count"),
    ("warehouse.bytes_written", "bytes"), ("warehouse.write_amplification", "ratio"),
    ("warehouse.files_rewritten", "count"), ("warehouse.readback_s", "s"),
    ("sinks.jdbc_load_s", "s"), ("sinks.jdbc_failed", "count"),
    ("jvm.gc_s", "s"), ("ops_failed_ratio", "ratio"), ("trace.overhead_ratio", "ratio")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cached_dir(path, make):
    """`make(path)` once; a marker file records completion."""
    marker = os.path.join(path, "_complete")
    if not os.path.exists(marker):
        make(fresh(path))
        open(marker, "w").close()
    return path


def input_dir(inputs, prefix, key):
    """`inputs/<prefix>_<key>_<generator digest>`, dropping the other
    inputs of the same prefix (earlier seeds, older generators)."""
    with open(gen.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:8]
    name = f"{prefix}_{key}_{tag}"
    for d in os.listdir(inputs):
        if d.startswith(prefix + "_") and d != name:
            shutil.rmtree(os.path.join(inputs, d), ignore_errors=True)
    return os.path.join(inputs, name)


# --- workload inputs ---------------------------------------------------------

def prepare_etl(inputs, seed):
    path = input_dir(inputs, "etl", f"s{seed}")

    def make(p):
        with open(os.path.join(p, "expected.json"), "w") as fh:
            json.dump(gen.deliveries(p, seed, DELIVERIES), fh)
    cached_dir(path, make)
    with open(os.path.join(path, "expected.json")) as fh:
        return path, json.load(fh)


def prepare_sql(inputs, oracle_json):
    path = cached_dir(input_dir(inputs, "tables", f"sf{SQL_SF}"),
                      lambda p: gen.tables(p, SQL_SF, 42))
    return path, oracle.expected(path, SQL_OPS, oracle_json, os.path.join(BUILD_DIR, "expected"))


# --- checks --------------------------------------------------------------------

def check_queries(ops, expected):
    """Failed op ids: errors and results whose (rows, digest) differ from
    DuckDB's."""
    return {o["op"] for o in ops
            if o["error"] or (o["rows"], int(o["digest"])) != tuple(expected[o["name"]])}


def check_etl(ops, expected):
    """Failed op ids: the warehouse after delivery i must equal the
    generator's last-write-wins state (row count + digest)."""
    bad = set()
    for o in ops:
        rows, digest = expected[o["pass"]][:2]
        if o["error"] or (o["rows"], int(o["digest"])) != (rows, digest):
            bad.add(o["op"])
    return bad


# --- benchmark JVM ----------------------------------------------------------------

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, work, args, timeout):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # Every scratch path points into `work`: Spark's local dir and the
    # engine's staging (SPARK_GRAFT_*), the JVM and Hadoop temp dirs, the
    # SQL warehouse and Derby's home.
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            f"-Dderby.system.home={work}", f"-Djava.io.tmpdir={work}/tmp"] + opens +
           ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=f"{work}/local", SPARK_GRAFT_TMP=f"{work}/tmp",
               SPARK_GRAFT_CPUS=str(CORES))
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"benchmark JVM timed out after {timeout} s (log: {work}/jvm.log)")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code}")


def overhead_ratio(ops, kind):
    """Traced over untraced operation wall, matched by `kind(op)` (None
    leaves an operation out): the median of each kind's traced and of its
    untraced walls, summed over the kinds that have both."""
    by = {}
    for o in ops:
        k = kind(o)
        if k is not None:
            by.setdefault(k, {}).setdefault(o["traced"], []).append(o["wall_s"])
    pairs = [(statistics.median(v[True]), statistics.median(v[False]))
             for v in by.values() if True in v and False in v]
    return sum(t for t, _ in pairs) / sum(u for _, u in pairs)


def delivery_kind(o):
    """New delivery or redelivery; the first, whose create path is unlike
    the rest, is left out."""
    if o["pass"] == 0:
        return None
    return "replay" if o["pass"] % gen.REPLAY_EVERY == gen.REPLAY_EVERY - 1 else "new"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_upsert", "sql_adhoc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(BUILD_DIR, "tmp")

    cp, oracle_json, compiled = build.build(BUILD_DIR)
    # A run must end within 180 s, the first one in a checkout (which
    # compiles) within 900 s.
    deadline = started + (880 if compiled else 170)
    inputs = os.path.join(BUILD_DIR, "inputs")
    os.makedirs(inputs, exist_ok=True)
    if a.workload == "etl_upsert":
        data, expected = prepare_etl(inputs, a.seed)
        ops_arg = []
    else:
        data, expected = prepare_sql(inputs, oracle_json)
        ops_arg = ["--ops", ",".join(SQL_OPS)]
    log(f"[perfbench] inputs ready after {time.time() - started:.1f} s")

    work = fresh(os.path.join(BUILD_DIR, "work"))
    out = os.path.join(work, "result.json")
    run_jvm(cp, work, ["--workload", a.workload, "--input", data, "--work", work,
                       "--out", out, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--cores", str(CORES)] + ops_arg,
            timeout=max(30, deadline - time.time()))
    with open(out) as fh:
        res = json.load(fh)
    ops = res["ops"]
    bad = check_etl(ops, expected) if a.workload == "etl_upsert" else \
        check_queries(ops, expected)
    for o in ops:
        if o["op"] in bad:
            log(f"[perfbench] FAILED {o['name']} (pass {o['pass']}): "
                f"{o['error'] or 'output differs from the expected result'}")
    good = [o for o in ops if o["op"] not in bad]
    walls = [o["wall_s"] for o in good] or [0.0]

    if a.trace:
        m = dict(res["layers"])
        traced = [o for o in ops if o["traced"]]
        if a.workload == "etl_upsert":
            m["warehouse.rows_changed"] = statistics.mean(expected[o["pass"]][2] for o in traced)
            m["warehouse.rows_upserted"] = statistics.mean(expected[o["pass"]][3] for o in traced)
        else:
            m.setdefault("warehouse.rows_changed", 0.0)
            m.setdefault("warehouse.rows_upserted", 0.0)
        jdbc_failed = sum(o["parts"].get("jdbc_failed", 0) for o in ops)
        jdbc_legs = len(ops) if a.workload == "etl_upsert" else 0
        m["ops_failed_ratio"] = (len(bad) + jdbc_failed) / (len(ops) + jdbc_legs)
        m["trace.overhead_ratio"] = overhead_ratio(
            ops, delivery_kind if a.workload == "etl_upsert" else lambda o: o["name"])
        metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {
            "setup_s": statistics.median(s["total_s"] for s in res["setups"]),
            "op_p50_s": statistics.median(walls),
            "ops_per_s": len(good) / max(1e-9, sum(walls)),
            "peak_live_heap_mb": res["peak_live_heap_mb"]}
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "hardware": dict(res["hardware"], mem_total_kb=mem_total_kb()),
              "proc_stat": res["proc_stat"], "setups": res["setups"],
              "live_heap_mb": [round(x, 1) for x in res["live_heap_mb"]],
              "failed_ops": sorted({o["name"] for o in ops if o["op"] in bad}),
              "jdbc_errors": res.get("jdbc_errors", []),
              "self_time_s": res.get("self_time_s", {})}
    results = os.path.join(BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}_s{a.seed}_t{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(dict(record, ops=ops, metrics=metrics), fh, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "trace.jsonl"), stem + ".trace.jsonl")
    print(json.dumps(record))
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": metrics}))


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            return int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return -1


if __name__ == "__main__":
    main()
