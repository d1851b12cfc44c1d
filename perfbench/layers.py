"""Per-layer metrics of a traced run.

``instrument_program`` wraps the public functions of each layer's
module in spans (layers are named after the modules); ``per_layer``
turns the spans and the Spark event log into the per-layer metrics.
Every traced run prints every metric; a layer the workload does not
call reads 0.
"""

from __future__ import annotations

import json
import os
import re
import statistics

import tracing
from batch import ALGORITHMS, OLAP_QUERIES

GQ_FUNCS = ("search", "winder", "ego_network", "housemates", "house_histogram",
            "house_subgraph", "directory")
SELF_LAYERS = ("setup", "bench", "engine", "gq", "store", "features", "ml",
               "cypher", "cypher_run", "cypher_parse", "cypher_compile",
               "cypher_write", "cypher_commit", "batch", "alg", "olap",
               "warehouse", "collect")
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def _units() -> dict[str, str]:
    u = {
        "session.start_s": "s",
        "store.build_s": "s", "store.edge_rows": "count",
        "store.files_written": "count", "store.shuffle_write_mb": "MB",
        "gq.plan_ms": "ms", "gq.exec_ms": "ms", "gq.jobs_per_req": "count",
        "gq.tasks_per_req": "count", "gq.scan_mb_per_req": "MB",
        "engine.serialize_ms": "ms", "engine.rows_per_resp": "count",
        "features.matrix_s": "s", "ml.train_s": "s", "ml.predict_ms": "ms",
        "cypher.parse_ms": "ms", "cypher.compile_ms": "ms",
        "cypher.plan_cache_hits": "count", "cypher.plan_cache_lookups": "count",
        "cypher.read_exec_ms": "ms", "cypher.commit_ms": "ms",
        "cypher.commit_rows_per_changed_row": "ratio", "cypher.retained_mb": "MB",
        "alg.loop_tasks_per_stage": "count", "alg.shuffle_mb": "MB",
        "olap.exchanges": "count", "olap.shuffle_mb": "MB", "olap.spill_mb": "MB",
        "warehouse.spine_build_s": "s",
        "spark.core_util": "ratio",
        "serve_rps": "req/s", "serve_p50_ms": "ms", "serve_p90_ms": "ms",
        "winder_p50_ms": "ms", "cypher_stmts_per_s": "stmt/s",
        "cypher_write_p50_ms": "ms", "cypher_read_p50_ms": "ms",
        "graph_batch_s": "s", "olap_batch_s": "s",
    }
    for name, _fn, _kw in ALGORITHMS:
        u[f"alg.{name}_construct_s"] = "s"
        u[f"alg.{name}_exec_s"] = "s"
        u[f"alg.{name}_supersteps"] = "count"
    for q in OLAP_QUERIES:
        u[f"olap.{q}_s"] = "s"
    for k in SPARK:
        u[f"spark.{k}"] = "count" if k in ("jobs", "stages", "tasks") else (
            "MB" if k.endswith("_mb") else "s")
    for layer in SELF_LAYERS:
        u[f"self.{layer}_s"] = "s"
    return u


UNITS = _units()


def instrument_program(tracer, spark) -> None:
    import neo4j_database_spark.cypher as cy
    from neo4j_database_spark.cypher import compiler, parser, writes
    from neo4j_database_spark.graph import algorithms, features, store
    from neo4j_database_spark.graph import queries as gq
    from neo4j_database_spark.ml import house_classifier
    from neo4j_database_spark.sources import warehouse

    inst = tracing.instrument
    inst(tracer, store, "build_store", "store.build_store", "store")
    for f in GQ_FUNCS:
        inst(tracer, gq, f, f"gq.{f}", "gq")
    # house_classifier binds feature_matrix by name at import
    inst(tracer, features, "feature_matrix", "features.feature_matrix", "features")
    inst(tracer, house_classifier, "feature_matrix", "features.feature_matrix", "features")
    inst(tracer, house_classifier, "train", "ml.train", "ml")
    inst(tracer, parser, "parse", "cypher.parse", "cypher_parse")
    inst(tracer, compiler.Compiler, "run", "cypher.compile", "cypher_compile")

    def lookup(span, args, _kw, _out):
        span.attrs["lookup"] = getattr(args[0], "plan_cache_key", None) is not None

    # CypherSession.run resolves these two names in the package namespace
    inst(tracer, cy, "run_cypher", "cypher.run_cypher", "cypher_run", lookup)
    inst(tracer, cy, "apply_cypher_write", "cypher.apply_write", "cypher_write")

    def commit_rows(span, args, _kw, out):
        new, old = out, args[1]
        with tracer.span("trace.count", "trace"):
            span.attrs["rows"] = sum(
                getattr(new, f).count()
                for f in ("persons", "houses", "edges")
                if getattr(new, f) is not getattr(old, f)
            )

    inst(tracer, writes, "_commit", "cypher.commit", "cypher_commit", commit_rows)
    for fn in sorted({fn for _name, fn, _kw in ALGORITHMS}):
        inst(tracer, algorithms, fn, f"alg.{fn}", "alg")
    inst(tracer, warehouse, "ensure_bucketed_spine", "warehouse.ensure_bucketed_spine",
         "warehouse")

    frame = type(spark.range(0))  # the session's concrete DataFrame class
    inst(tracer, frame, "collect", "spark.collect", "collect")

    # one superstep of these vertex programs is a join plus a keyed
    # group-by (Pregelix); counting keyed group-bys built inside an
    # algorithm call counts its supersteps plus its one pre- or post-loop
    # aggregate (global aggregates such as convergence sums have no key)
    group_by = frame.groupBy

    def counted_group_by(self, *cols):
        cur = tracer.current
        if cols and cur is not None and cur.layer == "alg":
            cur.attrs["group_bys"] = cur.attrs.get("group_bys", 0) + 1
        return group_by(self, *cols)

    frame.groupBy = counted_group_by


_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")


def exchanges(df) -> int:
    """Shuffle exchanges in the formatted physical plan (broadcast and
    reused exchanges excluded)."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    tree = plan.split("\n\n", 1)[0]
    return len(_EXCHANGE.findall(tree))


def after_run(ctx) -> dict:
    """Measurements that need extra Spark work; they run under their
    own span, outside every metric."""
    from common import store_files
    from neo4j_database_spark.graph import store

    out_dir = store._store_dir(ctx.sf_dir)
    extra = {
        "store.edge_rows": float(
            ctx.spark.read.parquet(os.path.join(out_dir, "edges")).count()),
        "store.files_written": float(store_files(out_dir)),
    }
    dfs = getattr(ctx, "olap_dfs", {})
    extra["olap.exchanges"] = float(sum(exchanges(df) for df in dfs.values()))
    return extra


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def per_layer(ctx, session_s, extra, log_dir, trace_path) -> dict:
    spans = ctx.tracer.spans  # all closed; span id == list index
    log = tracing.EventLog(log_dir)
    by_name = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def under(roots, layer=None):
        ids = tracing.descendants(spans, roots)
        return [s for s in spans if s.sid in ids and (layer is None or s.layer == layer)]

    def groups(roots):
        # measurement-only work is charged to no layer
        return tracing.groups_of(
            sid for sid in tracing.descendants(spans, roots) if spans[sid].layer != "trace")

    m = {k: 0.0 for k in UNITS}
    m["session.start_s"] = session_s
    m.update(extra)
    m.update({k: float(v) for k, v in ctx.workload_metrics.items() if k in m})

    builds = [s for s in spans if s.layer == "store"]
    m["store.build_s"] = _mean(s.dur for s in builds)
    if builds:
        m["store.shuffle_write_mb"] = log.runtime(groups(builds))["shuffle_write_mb"] / len(builds)

    reqs = [s for s in spans if s.layer == "engine"]
    if reqs:
        plan = [sum(c.dur for c in under([r], "gq")) for r in reqs]
        exe = [sum(c.dur for c in under([r], "collect")) for r in reqs]
        rt = log.runtime(groups(reqs))
        m["gq.plan_ms"] = _mean(plan) * 1e3
        m["gq.exec_ms"] = _mean(exe) * 1e3
        m["gq.jobs_per_req"] = rt["jobs"] / len(reqs)
        m["gq.tasks_per_req"] = rt["tasks"] / len(reqs)
        m["gq.scan_mb_per_req"] = rt["input_mb"] / len(reqs)
        m["engine.serialize_ms"] = _mean(
            r.dur - p - e for r, p, e in zip(reqs, plan, exe)) * 1e3
        m["engine.rows_per_resp"] = float(ctx.info.get("rows_per_resp", 0))
        m["ml.predict_ms"] = _mean(
            r.dur for r in reqs if r.name == "engine.predict_house") * 1e3
    fm_ops = by_name.get("batch.feature_matrix", [])
    inside = tracing.descendants(spans, fm_ops)
    m["features.matrix_s"] = sum(s.dur for s in fm_ops) + sum(
        s.dur for s in spans if s.layer == "features" and s.sid not in inside)
    m["ml.train_s"] = sum(s.dur for s in spans if s.layer == "ml")

    stmts = [s for s in spans if s.layer == "cypher"]
    if stmts:
        reads = [s for s in stmts if s.name == "cypher.read"]
        writes = [s for s in stmts if s.name == "cypher.write"]
        m["cypher.parse_ms"] = sum(s.dur for s in under(stmts, "cypher_parse")) / len(stmts) * 1e3
        m["cypher.compile_ms"] = sum(
            s.dur for s in under(stmts, "cypher_compile")) / len(stmts) * 1e3
        runs = under(stmts, "cypher_run")
        looked = [s for s in runs if s.attrs.get("lookup")]
        m["cypher.plan_cache_lookups"] = float(len(looked))
        m["cypher.plan_cache_hits"] = float(sum(
            1 for s in looked if not under([s], "cypher_compile")))
        m["cypher.read_exec_ms"] = _mean(
            sum(c.dur for c in under([r], "collect")) for r in reads) * 1e3
        commits = under(writes, "cypher_commit")
        m["cypher.commit_ms"] = sum(s.dur for s in commits) / max(len(writes), 1) * 1e3
        changed = sum(getattr(ctx, "changed_rows", []))
        m["cypher.commit_rows_per_changed_row"] = (
            sum(s.attrs.get("rows", 0) for s in commits) / changed if changed else 0.0)
        m["cypher.retained_mb"] = log.retained_mb()

    alg_spans = [s for s in spans if s.layer == "alg"]
    for name, _fn, _kw in ALGORITHMS:
        ops = by_name.get(f"batch.{name}", [])
        if not ops:
            continue
        cons = under(ops, "alg")
        m[f"alg.{name}_construct_s"] = sum(c.dur for c in cons) / len(ops)
        m[f"alg.{name}_exec_s"] = (sum(o.dur for o in ops) - sum(c.dur for c in cons)) / len(ops)
        m[f"alg.{name}_supersteps"] = _mean(c.attrs.get("group_bys", 1) - 1 for c in cons)
    if alg_spans:
        g = groups(alg_spans)
        m["alg.loop_tasks_per_stage"] = log.loop_width(g)
        rt = log.runtime(g)
        m["alg.shuffle_mb"] = rt["shuffle_read_mb"] + rt["shuffle_write_mb"]

    olap = [s for s in spans if s.layer == "olap"]
    if olap:
        rounds = max(ctx.info.get("rounds", 1), 1)
        for q in OLAP_QUERIES:
            m[f"olap.{q}_s"] = sum(s.dur for s in by_name.get(f"olap.{q}", [])) / rounds
        rt = log.runtime(groups(olap))
        m["olap.shuffle_mb"] = (rt["shuffle_read_mb"] + rt["shuffle_write_mb"]) / rounds
        m["olap.spill_mb"] = rt["spill_mb"] / rounds
        m["olap.exchanges"] /= rounds
    m["warehouse.spine_build_s"] = sum(s.dur for s in spans if s.layer == "warehouse")

    measured = [s for s in spans if s.name in ("setup", "run")]
    rt = log.runtime(groups(measured))
    for k in SPARK:
        m[f"spark.{k}"] = rt[k]
    wall = sum(s.dur for s in measured)
    m["spark.core_util"] = rt["executor_run_s"] / (wall * ctx.spark_cores) if wall else 0.0

    # trace-only work stays in the span tree so that no layer is charged
    # for it, but it is not reported as a layer
    selft = tracing.self_times(spans)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = selft.get(layer, 0.0)

    with open(trace_path, "w") as f:
        json.dump({
            "spans": [s.as_dict() for s in spans],
            "job_groups": {
                grp: log.runtime({grp})
                for grp in sorted({j["group"] for j in log.jobs.values() if j["group"]})
            },
        }, f)
    return m

