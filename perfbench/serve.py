"""The serve_mix phase: WinderEngine requests from a seeded mix, one
closed-loop client.

A round is a deck of 20 requests with the mix's exact shares, shuffled
by the seed, so every run attempts whole rounds of the same operations
and the share of each request kind does not depend on the seed.  Names
are drawn Zipf-skewed over all persons, so some requests repeat.
"""

from __future__ import annotations

import statistics
import time

from checks import SERVE_CHECKS
from common import check_store_graph, quantile

# 40 % search, 15 % winder, 10 % ego_graph, 10 % housemates,
# 10 % house_histogram, 5 % house_graph, 5 % predict_house, 5 % characters
DECK = (
    ["search"] * 8 + ["winder"] * 3 + ["ego_graph"] * 2 + ["housemates"] * 2
    + ["house_histogram"] * 2 + ["house_graph"] + ["predict_house"]
    + ["characters"]
)


def make_request(ctx, kind: str, k: int) -> dict:
    if kind == "search":
        name = ctx.person()
        return {"q": name[-ctx.rng.randint(3, 6):].lower(), "limit": 10}
    if kind == "winder":
        return {"friends": ctx.persons(1, 3), "k": 3}
    if kind in ("ego_graph", "housemates"):
        return {"name": ctx.person(), "limit": 500 if kind == "ego_graph" else 100}
    if kind == "house_histogram":
        return {"names": ctx.persons(5, 20)}
    if kind == "house_graph":
        return {"houses": ctx.rng.sample(ctx.oracle.houses, 2), "limit": 5000}
    if kind == "predict_house":
        return {
            "name": f"bench user {ctx.seed}-{k}",
            "friends": ctx.persons(1, 3),
            "enemies": ctx.persons(0, 2),
            "family": ctx.persons(0, 2),
            "romance": ctx.persons(0, 1),
        }
    return {}


def call(engine, kind: str, a: dict):
    if kind == "search":
        return engine.search(a["q"], a["limit"])
    if kind == "winder":
        return engine.winder(a["friends"], a["k"])
    if kind == "ego_graph":
        return engine.ego_graph(a["name"], a["limit"])
    if kind == "housemates":
        return engine.housemates(a["name"], a["limit"])
    if kind == "house_histogram":
        return engine.house_histogram(a["names"])
    if kind == "house_graph":
        return engine.house_graph(a["houses"], a["limit"])
    if kind == "predict_house":
        return engine.predict_house(
            a["name"], friends=a["friends"], enemies=a["enemies"],
            family=a["family"], romance=a["romance"], write_back=False,
        )
    return engine.characters()


def rows_in(resp) -> int:
    if isinstance(resp, dict) and "elements" in resp:
        return len(resp["elements"]["nodes"]) + len(resp["elements"]["edges"])
    if isinstance(resp, dict) and "features" in resp:
        return 1
    return len(resp)


def setup(ctx, graph):
    from neo4j_database_spark.engine import WinderEngine

    # the engine loads the graph through store.load_graph, which builds
    # the private store on first use
    engine = WinderEngine(ctx.spark, ctx.sf_dir)
    check_store_graph(ctx, engine.graph)
    # the first predict_house trains the classifier (engine.py), which
    # belongs to set-up, not to the first request
    engine.predict_house("bench warm-up", friends=[ctx.names[0]])
    return engine


def run(ctx, engine, seconds: float) -> dict:
    done = []  # (kind, args, response, seconds)
    t_start = time.perf_counter()
    k = 0
    while True:
        deck = list(DECK)
        ctx.rng.shuffle(deck)
        for kind in deck:
            args = make_request(ctx, kind, k)
            k += 1
            resp, dt = ctx.op(f"engine.{kind}", call, engine, kind, args)
            if dt is not None:
                done.append((kind, args, resp, dt))
        if time.perf_counter() - t_start >= seconds:
            break
    wall = time.perf_counter() - t_start

    for kind, args, resp, _dt in done:
        ctx.errors += SERVE_CHECKS[kind](args, resp, ctx.oracle)

    lat = [dt * 1e3 for *_x, dt in done]
    winder = [dt * 1e3 for kind, _a, _r, dt in done if kind == "winder"]
    seen, repeats = set(), 0
    for kind, args, _r, _dt in done:
        key = (kind, repr(sorted(args.items())))
        repeats += key in seen
        seen.add(key)
    ctx.info["requests"] = len(done)
    ctx.info["repeated_request_share"] = round(repeats / max(len(done), 1), 4)
    ctx.info["rows_per_resp"] = statistics.mean(rows_in(r) for *_x, r, _d in done) if done else 0
    return {
        "serve_rps": len(done) / wall,
        "serve_p50_ms": statistics.median(lat),
        "serve_p90_ms": quantile(lat, 0.9),
        "winder_p50_ms": statistics.median(winder),
    }
