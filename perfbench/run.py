"""Benchmark of neo4j_database_spark: serving, Cypher writes, graph batch
and OLAP, with every output checked.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke       # every workload briefly on sf0.001
    python3 perfbench/run.py --selftest    # a wrong answer fails every checker

Run it from the root of a source checkout.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  Settings and load averages go to the lines before.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import common
import layers
import tracing
from oracle import Oracle

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"
SMOKE_SECONDS = 1

WORKLOADS = ("interactive", "batch")

# Every end-to-end metric is measured on every workload: an operation is
# a request or a Cypher statement (interactive) or one call of the batch
# (batch).  Operation cost is CPU time, not wall time: on a shared host
# the wall time of the same run drifts by a third from one minute to the
# next while its CPU time stays within a few percent (README).
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}


def data_dir(scale: str) -> str:
    """The input tables at ``scale``: under $PERFBENCH_DATA_ROOT when it
    is set, else where the repository's TESTDATA.md says they are."""
    root = os.environ.get("PERFBENCH_DATA_ROOT")
    if root:
        return os.path.join(root, scale)
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]*/%s)/?`" % re.escape(scale), f.read())
    if m is None:
        raise RuntimeError(f"TESTDATA.md names no directory for {scale}")
    return m.group(1)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of the machine's memory, at most 2 GiB: the data at
    sf0.01 is small, and a larger heap only lets the resident size
    wander with the garbage collector."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(2, kb // (4 * 1024 * 1024)))}g"


def configure(run_dir: str, trace: bool) -> None:
    """Everything the program reads from the environment, set before it
    is imported: a per-run graph store, warehouse, index and scratch
    directory, and a session sized to this machine."""
    env = {
        "SPARK_GRAFT_GRAPH_CACHE": os.path.join(run_dir, "graph"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_IVF_INDEX": os.path.join(run_dir, "ivf"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
    }
    conf = [f"spark.sql.warehouse.dir={os.path.join(run_dir, 'sql-warehouse')}"]
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.logBlockUpdates.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    os.environ.update(env)
    for d in ("graph", "warehouse", "ivf", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


def import_program():
    """Import the program from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import neo4j_database_spark

    if not os.path.abspath(neo4j_database_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"neo4j_database_spark imported from outside {ROOT}")
    import __spark_entry__

    return __spark_entry__


def run_workload(args) -> dict:
    sf_dir = data_dir(SMOKE_SCALE if args.smoke_scale else SCALE)
    if not os.path.isdir(sf_dir):
        raise RuntimeError(f"input tables not found at {sf_dir}")
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, sf_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, sf_dir, run_dir) -> dict:
    configure(run_dir, args.trace)
    entry = import_program()
    wl = __import__(args.workload)
    oracle = Oracle(sf_dir, entry.ALL_TABLES, entry.GRAPH_CTES, cpus())
    t_oracle = time.perf_counter()

    from neo4j_database_spark.session import get_spark

    load_pre = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark.sparkContext) if args.trace else tracing.NullTracer()
    ctx = common.Ctx(spark, sf_dir, run_dir, args.seed, args.seconds, tracer, oracle)
    ctx.spark_cores = cpus()
    if args.trace:
        layers.instrument_program(tracer, spark)

    with tracer.span("setup", "setup"):
        t0 = time.perf_counter()
        graph = common.load_private_graph(ctx)
        state = wl.setup(ctx, graph)
        setup_s = session_s + time.perf_counter() - t0
    t_setup = time.perf_counter()
    with tracer.span("run", "bench"):
        ctx.workload_metrics = wl.run(ctx, state)
    t_run = time.perf_counter()
    ops = [dt * 1e3 for dt in ctx.durations]
    metrics = {
        "setup_s": setup_s,
        "cpu_ms_per_op": ctx.cpu_s * 1e3 / len(ops),
        "peak_rss_mb": common.tree_peak_rss_mb(),
    }
    ctx.info["ops_per_s"] = round(len(ops) / (sum(ops) / 1e3), 4)
    ctx.info["op_p50_ms"] = round(statistics.median(ops), 2)
    if args.trace:
        with tracer.span("trace.extra", "trace"):
            extra = layers.after_run(ctx)
    stop_spark(spark)
    load_post = os.getloadavg()[0]
    ctx.info["timeline_s"] = {k: round(v - T0, 2) for k, v in (
        ("oracle_ready", t_oracle), ("setup_done", t_setup), ("run_done", t_run),
        ("stopped", time.perf_counter()))}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "sf_dir": sf_dir,
        "cpus": cpus(), "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "client_threads": 1, "load_avg_1m_pre": load_pre,
        "load_avg_1m_post": load_post, **ctx.info,
        **{k: round(v, 4) for k, v in ctx.workload_metrics.items()},
        "op_s": {k: round(sum(v), 3) for k, v in ctx.by_kind.items()},
    }))
    for f in ctx.failures[:5]:
        print("FAILED:", f, file=sys.stderr)
    for e in ctx.errors[:10]:
        print("WRONG:", e, file=sys.stderr)

    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        out = layers.per_layer(ctx, session_s, extra,
                               os.path.join(run_dir, "events"),
                               os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        units = layers.UNITS
    else:
        out, units = metrics, END_TO_END
    return {
        "correct": not ctx.errors,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }


def smoke() -> int:
    """Each workload briefly on the smallest tables with every check on,
    each in its own process like a real run."""
    bad = 0
    for trace in (0, 1):
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "7", "--seconds", str(SMOKE_SECONDS),
                   "--trace", str(trace), "--sf-smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            last = (p.stdout.strip().splitlines() or ["{}"])[-1]
            res = json.loads(last) if last.startswith("{") else {}
            ok = p.returncode == 0 and res.get("correct") and res.get("failed") == 0
            bad += not ok
            print(f"{w:15s} trace={trace} {'ok' if ok else 'FAIL'} "
                  f"attempted={res.get('attempted')} failed={res.get('failed')}")
            if not ok:
                print(p.stderr[-3000:])
    return 1 if bad else 0


def selftest() -> int:
    entry = import_program()
    from checks import selftest as run_selftest

    o = Oracle(data_dir(SMOKE_SCALE), entry.ALL_TABLES, entry.GRAPH_CTES, cpus())
    seed = o.names_by_id[41]
    bad = run_selftest(o, {"pagerank": entry.oracle_sql()["g_pagerank_prod"],
                           f"ppr:{seed}": entry._ppr_sql(seed)})
    for b in bad:
        print("SELFTEST:", b)
    print("selftest", "FAILED" if bad else "ok")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="quick run of every workload")
    ap.add_argument("--sf-smoke", dest="smoke_scale", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--selftest", action="store_true",
                    help="show that every checker rejects a wrong answer")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    print(json.dumps(run_workload(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
