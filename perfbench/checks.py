"""Output checkers: each compares one program answer with the DuckDB
oracle and with properties the method must have, and returns a list of
error strings (empty when the answer is right).

``selftest`` builds a right answer from the oracle for every checker,
confirms it passes, then perturbs it and confirms the checker fails.
"""

from __future__ import annotations

import copy
import math
import zlib
from decimal import Decimal

# Answers with more rows than this are compared by row count plus
# order-insensitive column sums instead of row by row.
EXACT_ROWS_MAX = 20_000


def _cyto(resp) -> dict:
    els = resp["elements"]
    return {
        "nodes": {
            (d["data"]["id"], d["data"]["label"], d["data"]["group"], d["data"]["house"])
            for d in els["nodes"]
        },
        "edges": {
            (d["data"]["source"], d["data"]["target"], d["data"]["label"])
            for d in els["edges"]
        },
        "n_nodes": len(els["nodes"]),
        "n_edges": len(els["edges"]),
    }


def _diff(kind, got, want) -> list[str]:
    return [] if got == want else [f"{kind}: got {got!r:.300} want {want!r:.300}"]


# -- serving ---------------------------------------------------------------


def check_search(args, resp, o) -> list[str]:
    q, limit = args["q"], args["limit"]
    errs = []
    if len(resp) > limit:
        errs.append(f"search: {len(resp)} hits > limit {limit}")
    errs += [f"search: hit {r['name']!r} lacks {q!r}"
             for r in resp if q.lower() not in r["name"].lower()]
    names = [r["name"] for r in resp]
    if names != sorted(names):
        errs.append("search: hits not sorted by name")
    return errs + _diff("search", resp, o.search(q, limit))


def check_winder(args, resp, o) -> list[str]:
    friends, k = args["friends"], args["k"]
    errs = []
    if len(resp) > k:
        errs.append(f"winder: {len(resp)} rows > k {k}")
    for r in resp:
        if r["score"] != len(r["shared_with"]):
            errs.append(f"winder: {r['name']} score {r['score']} != |shared_with|")
        if r["name"] in friends:
            errs.append(f"winder: seed {r['name']} recommended")
    keys = [(-r["score"], r["name"]) for r in resp]
    if keys != sorted(keys):
        errs.append("winder: not sorted by score desc, name asc")
    return errs + _diff("winder", resp, o.winder(friends, k))


def check_ego_graph(args, resp, o) -> list[str]:
    got = _cyto(resp)
    want = o.ego_graph(args["name"], args["limit"])
    errs = []
    if got["n_nodes"] != len(got["nodes"]) or got["n_edges"] != len(got["edges"]):
        errs.append("ego_graph: duplicate nodes or edges")
    ego_ids = {n[0] for n in got["nodes"] if n[1] == args["name"]}
    errs += [f"ego_graph: edge {e} does not start at the ego"
             for e in got["edges"] if e[0] not in ego_ids]
    return (errs + _diff("ego_graph nodes", got["nodes"], want["nodes"])
            + _diff("ego_graph edges", got["edges"], want["edges"]))


def check_housemates(args, resp, o) -> list[str]:
    errs = []
    if args["name"] in resp:
        errs.append("housemates: the person is its own housemate")
    if len(set(resp)) != len(resp):
        errs.append("housemates: duplicates")
    return errs + _diff("housemates", resp,
                        o.housemates(args["name"], args["limit"]))


def check_house_histogram(args, resp, o) -> list[str]:
    errs = []
    if sum(resp.values()) > len(set(args["names"])):
        errs.append("house_histogram: more persons than names")
    return errs + _diff("house_histogram", resp, o.house_histogram(args["names"]))


def check_house_graph(args, resp, o) -> list[str]:
    got = _cyto(resp)
    want = o.house_graph(args["houses"], args["limit"])
    errs = [f"house_graph: node {n} outside {args['houses']}"
            for n in got["nodes"] if n[2] == "person" and n[3] not in args["houses"]]
    return (errs + _diff("house_graph nodes", got["nodes"], want["nodes"])
            + _diff("house_graph edges", got["edges"], want["edges"]))


def check_characters(args, resp, o) -> list[str]:
    names = [r["name"] for r in resp]
    errs = [] if names == sorted(names) else ["characters: not sorted by name"]
    return errs + _diff("characters", resp, o.characters())


def check_predict_house(args, resp, o) -> list[str]:
    errs = []
    if resp["predicted_house"] not in set(o.houses) | {"Unknown"}:
        errs.append(f"predict_house: unknown label {resp['predicted_house']!r}")
    if resp["name"] != args["name"]:
        errs.append("predict_house: wrong name")
    want = o.predict_features({
        "FRIEND_OF": args["friends"], "ENEMY_OF": args["enemies"],
        "SAME_FAMILY": args["family"], "ROMANTIC_WITH": args["romance"],
    })
    return errs + _diff("predict_house features", resp["features"], want)


SERVE_CHECKS = {
    "search": check_search,
    "winder": check_winder,
    "ego_graph": check_ego_graph,
    "housemates": check_housemates,
    "house_histogram": check_house_histogram,
    "house_graph": check_house_graph,
    "characters": check_characters,
    "predict_house": check_predict_house,
}


# -- Cypher reads ----------------------------------------------------------


def check_cypher_winder(args, rows, o) -> list[str]:
    """Verbatim reference Winder with LIMIT 3: under tied scores LIMIT
    picks an engine-dependent subset, so each returned row is checked
    against the oracle's full candidate table and the returned scores
    must be the oracle's top scores."""
    cand = o.cypher_winder(args["friends"])
    errs = []
    for r in rows:
        if r["common_friends"] != len(r["shared_with"]):
            errs.append(f"cypher winder: {r['name']} score != |shared_with|")
        want = cand.get(r["name"])
        got = (r["common_friends"], sorted(r["shared_with"]))
        if want != got:
            errs.append(f"cypher winder: {r['name']} got {got} want {want}")
    scores = [r["common_friends"] for r in rows]
    if scores != sorted(scores, reverse=True):
        errs.append("cypher winder: not sorted by common_friends desc")
    top = sorted((v[0] for v in cand.values()), reverse=True)[: args["limit"]]
    if scores != top:
        errs.append(f"cypher winder: scores {scores} != top scores {top}")
    return errs


def _scalar(kind, fn):
    def check(args, rows, o):
        got = rows[0]["c"] if len(rows) == 1 else rows
        return _diff(kind, got, fn(o, args))

    return check


def check_cypher_topk(args, rows, o) -> list[str]:
    got = [(r["house"], r["member"]) for r in rows]
    return _diff("cypher top-k", got, o.top_members(3))


CYPHER_CHECKS = {
    "winder": check_cypher_winder,
    "friend_count": _scalar("friend count", lambda o, a: o.friend_count(a["n"])),
    "friends_2hop": _scalar("2-hop count", lambda o, a: o.friends_within_2(a["n"])),
    "enemy_count": _scalar("enemy count", lambda o, a: o.enemy_out_count(a["n"])),
    "flagged_count": _scalar("flagged count", lambda o, a: o.flagged_count(a["v"])),
    "top_members": check_cypher_topk,
}


# -- tables (batch and OLAP answers) ----------------------------------------


def _cell(v):
    if isinstance(v, Decimal):
        raise TypeError("DECIMAL output column")
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _column_sums(cols, rows) -> dict:
    """Order-insensitive per-column sums: numbers add up, everything
    else adds up the crc32 of its text form."""
    sums = {}
    for i, c in enumerate(cols):
        tot, nulls = 0, 0
        for r in rows:
            v = r[i]
            if v is None:
                nulls += 1
            elif isinstance(v, (int, float)) and not isinstance(v, bool):
                tot += v
            else:
                tot += zlib.crc32(_cell(v).encode())
        sums[c] = (tot, nulls)
    return sums


def check_table(kind, cols, rows, want_cols, want_rows) -> list[str]:
    """Same columns, same rows as a multiset (exact cell text, floats by
    repr); above EXACT_ROWS_MAX rows, same count and column sums."""
    if sorted(cols) != sorted(want_cols):
        return [f"{kind}: columns {sorted(cols)} != {sorted(want_cols)}"]
    if len(rows) != len(want_rows):
        return [f"{kind}: {len(rows)} rows, oracle {len(want_rows)}"]
    order = [cols.index(c) for c in sorted(cols)]
    worder = [want_cols.index(c) for c in sorted(cols)]
    if len(rows) > EXACT_ROWS_MAX:
        a = _column_sums(sorted(cols), [[r[i] for i in order] for r in rows])
        b = _column_sums(sorted(cols), [[r[i] for i in worder] for r in want_rows])
        bad = [c for c in a if not _close(a[c], b[c])]
        return [f"{kind}: column sums differ on {bad}"] if bad else []
    got = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    want = sorted("\x1f".join(_cell(r[i]) for i in worder) for r in want_rows)
    if got != want:
        extra = sorted(set(got) - set(want))[:2]
        missing = sorted(set(want) - set(got))[:2]
        return [f"{kind}: rows differ; program-only {extra} oracle-only {missing}"]
    return []


def _close(a, b) -> bool:
    (ta, na), (tb, nb) = a, b
    if na != nb:
        return False
    if isinstance(ta, float) or isinstance(tb, float):
        return math.isclose(ta, tb, rel_tol=1e-9, abs_tol=1e-6)
    return ta == tb


# -- self-test ---------------------------------------------------------------


def _cyto_of(want) -> dict:
    return {"elements": {
        "nodes": [{"data": dict(zip(("id", "label", "group", "house"), n))}
                  for n in sorted(want["nodes"], key=str)],
        "edges": [{"data": dict(zip(("source", "target", "label"), e))}
                  for e in sorted(want["edges"])],
    }}


def selftest(o, sql_oracles) -> list[str]:
    """Return the checkers that accepted a wrong answer or rejected a
    right one, and any NumPy oracle that disagrees with the repository's
    unrolled SQL oracle (empty list: all good).  ``sql_oracles`` maps
    "pagerank" and "ppr:<seed>" to SQL."""
    names = o.names_by_id
    seed = [names[1], names[2], names[3]]
    sql_bad = []
    for key, sql in sql_oracles.items():
        mine = o.pagerank() if key == "pagerank" else o.ppr(key.split(":", 1)[1])
        sql_bad += check_table(key, ["name", "rank"], mine, *o.sql(sql))
    cases = []  # (label, checker, args, right answer, [perturbations])

    a = {"q": names[4][-3:], "limit": 10}
    cases.append(("search", check_search, a, o.search(a["q"], 10), [
        lambda r: r[:-1],
        lambda r: r + [{"name": "zz", "house": None}],
        lambda r: list(reversed(r)),
    ]))
    a = {"friends": seed, "k": 3}
    cases.append(("winder", check_winder, a, o.winder(seed, 3), [
        lambda r: [{**r[0], "score": r[0]["score"] + 1}] + r[1:],
        lambda r: [{**r[0], "shared_with": r[0]["shared_with"][:-1]}] + r[1:],
        lambda r: list(reversed(r)),
    ]))
    a = {"name": names[5], "limit": 500}
    cases.append(("ego_graph", check_ego_graph, a,
                  _cyto_of(o.ego_graph(names[5], 500)), [
        lambda r: {"elements": {**r["elements"],
                                "nodes": r["elements"]["nodes"][1:]}},
        lambda r: {"elements": {**r["elements"],
                                "edges": r["elements"]["edges"][1:]}},
    ]))
    a = {"name": names[6], "limit": 100}
    cases.append(("housemates", check_housemates, a,
                  o.housemates(names[6], 100), [
        lambda r: r[1:], lambda r: r + [names[6]],
    ]))
    a = {"names": names[:20]}
    cases.append(("house_histogram", check_house_histogram, a,
                  o.house_histogram(names[:20]), [
        lambda r: {k: v + 1 for k, v in r.items()},
    ]))
    hs = o.houses[:2]
    a = {"houses": hs, "limit": 5000}
    cases.append(("house_graph", check_house_graph, a,
                  _cyto_of(o.house_graph(hs, 5000)), [
        lambda r: {"elements": {**r["elements"],
                                "edges": r["elements"]["edges"][:-1]}},
    ]))
    cases.append(("characters", check_characters, {}, o.characters(), [
        lambda r: r[:-1],
        lambda r: [{**r[0], "house": "X"}] + r[1:],
    ]))
    lists = {"friends": seed[:2], "enemies": [names[7]], "family": [],
             "romance": []}
    a = {"name": "self test", **lists}
    feats = o.predict_features({"FRIEND_OF": seed[:2], "ENEMY_OF": [names[7]],
                                "SAME_FAMILY": [], "ROMANTIC_WITH": []})
    cases.append(("predict_house", check_predict_house, a,
                  {"name": "self test", "predicted_house": o.houses[0],
                   "features": feats}, [
        lambda r: {**r, "predicted_house": "Atlantis"},
        lambda r: {**r, "features": {k: v + 1 for k, v in r["features"].items()}},
    ]))

    cand = o.cypher_winder(seed)
    top = sorted(cand.items(), key=lambda kv: (-kv[1][0], kv[0]))[:3]
    rows = [{"name": n, "common_friends": sc, "shared_with": sh}
            for n, (sc, sh) in top]
    cases.append(("cypher winder", check_cypher_winder,
                  {"friends": seed, "limit": 3}, rows, [
        lambda r: [{**r[0], "common_friends": r[0]["common_friends"] + 1}] + r[1:],
        lambda r: r[1:],
        lambda r: list(reversed(r)) if r[0]["common_friends"] != r[-1]["common_friends"]
        else r[:-1],
    ]))
    for kind, arg in (("friend_count", {"n": names[8]}),
                      ("friends_2hop", {"n": names[8]}),
                      ("enemy_count", {"n": names[8]})):
        right = {"friend_count": o.friend_count, "friends_2hop": o.friends_within_2,
                 "enemy_count": o.enemy_out_count}[kind](arg["n"])
        cases.append((kind, CYPHER_CHECKS[kind], arg, [{"c": right}], [
            lambda r: [{"c": r[0]["c"] + 1}],
        ]))
    cases.append(("cypher top-k", check_cypher_topk, {},
                  [{"house": h, "member": m} for h, m in o.top_members(3)], [
        lambda r: r[:-1],
    ]))

    cols, trows = o.sql("SELECT id, name, acctbal FROM p ORDER BY id")
    small = trows[:50]
    cases.append(("table exact", lambda a, r, _o: check_table(
        "t", cols, r, cols, small), {}, small, [
        lambda r: [(r[0][0], r[0][1], r[0][2] + 1e-9)] + r[1:],
        lambda r: r[:-1],
    ]))
    big = trows * (EXACT_ROWS_MAX // len(trows) + 1)
    cases.append(("table sums", lambda a, r, _o: check_table(
        "t", cols, r, cols, big), {}, big, [
        lambda r: [(r[0][0] + 1, r[0][1], r[0][2])] + r[1:],
        lambda r: [(r[0][0], r[0][1] + "x", r[0][2])] + r[1:],
    ]))

    pr = o.pagerank()
    cases.append(("pagerank", lambda a, r, _o: check_table(
        "pagerank", ["name", "rank"], r, ["name", "rank"], pr), {}, pr, [
        lambda r: [(r[0][0], r[0][1] * (1 + 1e-12))] + r[1:],
    ]))

    bad = []
    for label, fn, args, right, perturbs in cases:
        if fn(args, copy.deepcopy(right), o):
            bad.append(f"{label}: rejected the oracle's own answer: "
                       f"{fn(args, copy.deepcopy(right), o)[:1]}")
        for i, p in enumerate(perturbs):
            if not fn(args, p(copy.deepcopy(right)), o):
                bad.append(f"{label}: accepted perturbation #{i}")
    return sql_bad + bad
