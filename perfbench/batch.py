"""batch: the graph_batch phase, then the olap_batch phase, in one
process.

Set-up builds the private graph store (the ETL, ``store.build_store``
from the source parquet) and the bucketed order spine.  Graph phase:
``pagerank(tol=1e-3, max_iter=30)`` and ``connected_components`` once on
each side of their small/large gate (the default, and
``broadcast_node_limit=0``, which takes the co-partitioned path that
otherwise serves graphs above 10 M nodes), ``personalized_pagerank``
from a seeded person and ``feature_matrix``.  OLAP phase: non-graph
registry queries from ``bench.py``'s headline list, in a seeded order,
each collected.  Every answer is compared with the registry's own DuckDB
oracle SQL over the source parquet.
"""

from __future__ import annotations

import os
import statistics
import time

from checks import check_table

OLAP_QUERIES = (
    "pricing_summary_prod",
    "top_unshipped_orders",
    "top_unshipped_orders_bucketed",
    "returned_item_losses",
    "big_volume_customers",
    "nation_revenue_prod",
    "order_fill_profile",
    "order_fill_profile_bucketed",
    "events_sessionized",
    "asof_order_events",
    "doc_minhash_lsh",
    # doc_minhash_lsh_prod is left out: its xxhash64 signatures have no
    # oracle outside Spark
    "customer_fuzzy_matches",
    # customer_fuzzy_matches_d2 is left out: collecting its 204,096 pairs
    # and computing its oracle cost ~9 s of every run
    "emb_knn_bruteforce",
)

# (op name, algorithm, keyword arguments); the oracle of each is named
# in check_graph
ALGORITHMS = (
    ("pagerank", "pagerank", {"tol": 1e-3, "max_iter": 30}),
    ("pagerank_copart", "pagerank", {"tol": 1e-3, "max_iter": 30, "broadcast_node_limit": 0}),
    ("cc", "connected_components", {}),
    ("cc_copart", "connected_components", {"broadcast_node_limit": 0}),
    ("ppr", "personalized_pagerank", {}),
)


def setup(ctx, graph):
    from neo4j_database_spark.sources import warehouse

    warehouse.ensure_bucketed_spine(ctx.spark, ctx.sf_dir)
    return graph


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def graph_round(ctx, g, out: dict) -> float:
    """One pass of the graph job; returns its seconds."""
    from neo4j_database_spark.graph import algorithms as galg
    from neo4j_database_spark.graph.features import feature_matrix

    total = 0.0
    seed_name = ctx.person()
    out["ppr_seed"] = seed_name
    for name, fn, kw in ALGORITHMS:
        args = (g, seed_name) if name == "ppr" else (g,)
        res, dt = ctx.op(f"batch.{name}",
                         lambda: _collect(getattr(galg, fn)(*args, **kw)))
        total += dt or 0.0
        out[name] = res
    res, dt = ctx.op("batch.feature_matrix", lambda: _collect(feature_matrix(g)))
    out["feature_matrix"] = res
    return total + (dt or 0.0)


def olap_round(ctx, out: dict) -> float:
    import __spark_entry__ as entry

    reg = entry.queries()
    order = list(OLAP_QUERIES)
    ctx.rng.shuffle(order)
    total = 0.0
    dfs = ctx.olap_dfs = {}  # plans kept for the traced run's exchange count

    def query(name):
        dfs[name] = reg[name](ctx.spark, ctx.sf_dir)
        return _collect(dfs[name])

    for name in order:
        res, dt = ctx.op(f"olap.{name}", query, name)
        total += dt or 0.0
        out[name] = res
    return total


def check_store(ctx) -> list[str]:
    """The ETL's edge table against the oracle's rule-derived edges."""
    from neo4j_database_spark.graph import store

    edges = ctx.spark.read.parquet(os.path.join(store._store_dir(ctx.sf_dir), "edges"))
    got = sorted(tuple(r) for r in edges.groupBy("type").count().collect())
    want = ctx.oracle.rows("SELECT type, count(*) FROM e GROUP BY type")
    return check_table("store edges by type", ["type", "n"], got, ["type", "n"], want)


def check_graph(ctx, out: dict, oracle_sql) -> list[str]:
    import __spark_entry__ as entry

    o = ctx.oracle
    want = entry.oracle_sql()
    expected = {
        "pagerank": lambda: (["name", "rank"], o.pagerank(tol=1e-3, max_iter=30)),
        "pagerank_copart": lambda: (["name", "rank"], o.pagerank(tol=1e-3, max_iter=30)),
        "cc": lambda: oracle_sql(want["g_connected_components"]),
        "cc_copart": lambda: oracle_sql(want["g_connected_components"]),
        "ppr": lambda: (["name", "rank"], o.ppr(out["ppr_seed"])),
        "feature_matrix": lambda: oracle_sql(want["g_feature_matrix"]),
    }
    errs = []
    for name, oracle in expected.items():
        if out.get(name) is not None:
            cols, rows = out[name]
            errs += check_table(name, cols, rows, *oracle())
    return errs


def check_olap(out: dict, oracle_sql) -> list[str]:
    import __spark_entry__ as entry

    want = entry.oracle_sql()
    errs = []
    for name in OLAP_QUERIES:
        if out.get(name) is not None:
            cols, rows = out[name]
            errs += check_table(name, cols, rows, *oracle_sql(want[name]))
    return errs


def run(ctx, g) -> dict:
    ctx.errors += check_store(ctx)
    memo = {}  # oracle answers do not change between rounds

    def oracle_sql(sql):
        if sql not in memo:
            memo[sql] = ctx.oracle.sql(sql)
        return memo[sql]

    graph, olap = [], []
    t_start = time.perf_counter()
    k = 0
    while True:
        out: dict = {}
        graph.append(graph_round(ctx, g, out))
        olap.append(olap_round(ctx, out))
        ctx.errors += check_graph(ctx, out, oracle_sql) + check_olap(out, oracle_sql)
        k += 1
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    ctx.info["rounds"] = k
    return {"graph_batch_s": statistics.median(graph),
            "olap_batch_s": statistics.median(olap)}
