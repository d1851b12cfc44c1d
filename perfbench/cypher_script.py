"""The cypher_session phase: one CypherSession replaying a seeded script.

The script opens with a read phase on the stored graph, where some
(query, params) pairs repeat so the compiled-plan cache can hit, then
repeats rounds of reference-shaped writes, each followed by reads over
the graph the writes produced.  Every write is also applied to the
DuckDB oracle graph (``oracle.Ledger``), which gives the expected answer
of every read after it.
"""

from __future__ import annotations

import statistics
import time

from checks import CYPHER_CHECKS

# reference app.py:217-231, verbatim
WINDER = """
MATCH (f:Person)
WHERE f.name IN $friends
MATCH (f)-[:FRIEND_OF]-(candidate:Person)
WHERE NOT candidate.name IN $friends
WITH candidate, count(f) as common_friends, collect(f.name) as shared_with
RETURN candidate.name as name,
       candidate.house as house,
       candidate.image as image,
       common_friends,
       shared_with
ORDER BY common_friends DESC
LIMIT 3
"""
FRIEND_COUNT = "MATCH (p:Person {name: $n})-[:FRIEND_OF]-(f) RETURN count(f) AS c"
FRIENDS_2HOP = (
    "MATCH (p:Person {name: $n})-[:FRIEND_OF*1..2]-(f) RETURN count(DISTINCT f) AS c"
)
ENEMY_COUNT = "MATCH (p:Person {name: $n})-[:ENEMY_OF]->(e) RETURN count(e) AS c"
FLAGGED_COUNT = "MATCH (p:Person) WHERE p.flagged = $v RETURN count(p) AS c"
TOP_MEMBERS = """
MATCH (h:House)
CALL {
  WITH h
  MATCH (p:Person)-[:BELONGS_TO]->(h)
  RETURN p.name AS member ORDER BY p.acctbal DESC, p.name LIMIT 3
}
RETURN h.name AS house, member
ORDER BY house, member
"""
READS = {
    "winder": WINDER,
    "friend_count": FRIEND_COUNT,
    "friends_2hop": FRIENDS_2HOP,
    "enemy_count": ENEMY_COUNT,
    "flagged_count": FLAGGED_COUNT,
    "top_members": TOP_MEMBERS,
}

MERGE_USER = "MERGE (p:Person {name: $n}) SET p.house = $h, p.isUser = true, p.acctbal = $b"
MERGE_EDGE = (
    "MATCH (u:Person {{name: $n}}), (f:Person) WHERE f.name IN $fs "
    "MERGE (u)-[:{t}]->(f)"
)
FLAG_FRIENDS = (
    "MATCH (p:Person {name: $n})-[:FRIEND_OF]-(q) "
    "WITH collect(q) AS friends FOREACH (f IN friends | SET f.flagged = $v)"
)

# read phase on the stored graph: (kind, how many)
READ_PHASE = [("winder", 1), ("friend_count", 2), ("friends_2hop", 1), ("top_members", 2)]


def setup(ctx, graph):
    from neo4j_database_spark.cypher import CypherSession

    from oracle import Ledger

    ctx.ledger = Ledger(ctx.oracle)
    return CypherSession(graph)


def _read_args(ctx, kind: str, user: str | None = None, friend=None, value=None):
    if kind == "winder":
        return {"friends": [user, friend] if user else ctx.persons(2, 3)}
    if kind in ("friend_count", "friends_2hop", "enemy_count"):
        return {"n": user or ctx.person()}
    if kind == "flagged_count":
        return {"v": value}
    return {}


def run(ctx, session, seconds: float) -> dict:
    """Reads are checked right after they run, against the oracle graph
    as the ledger has it at that point of the script."""
    reads, writes = [], []
    plan_eligible = 0

    def read(kind, args):
        out, dt = ctx.op("cypher.read", lambda: session.run(READS[kind], args).collect())
        if dt is None:
            return
        reads.append(dt)
        rows = [r.asDict(recursive=True) for r in out]
        check_args = {**args, "limit": 3} if kind == "winder" else args
        ctx.errors += CYPHER_CHECKS[kind](check_args, rows, ctx.oracle)

    def write(query, params, apply):
        _out, dt = ctx.op("cypher.write", session.run, query, params)
        if dt is not None:
            writes.append(dt)
            ctx.changed_rows.append(apply())

    ctx.changed_rows = []
    t_start = time.perf_counter()
    phase = [k for k, n in READ_PHASE for _ in range(n)]
    ctx.rng.shuffle(phase)
    seen = set()
    for kind in phase:
        args = _read_args(ctx, kind)
        key = (kind, repr(sorted(args.items())))
        plan_eligible += key in seen
        seen.add(key)
        read(kind, args)
    ctx.info["read_phase_repeats"] = plan_eligible
    ctx.info["read_phase_reads"] = len(phase)

    r = 0
    while True:
        user = f"Bench User {ctx.seed}-{r}"
        house = ctx.rng.choice(ctx.oracle.houses)
        bal = round(ctx.rng.uniform(-999.0, 9999.0), 2)
        friends = ctx.persons(2, 4)
        enemies = ctx.persons(1, 2)
        flag = f"round-{r}"
        lg = ctx.ledger
        write(MERGE_USER, {"n": user, "h": house, "b": bal},
              lambda: lg.merge_user(user, house, bal))
        write(MERGE_EDGE.format(t="FRIEND_OF"), {"n": user, "fs": friends},
              lambda: lg.merge_edges(user, friends, "FRIEND_OF"))
        write(MERGE_EDGE.format(t="ENEMY_OF"), {"n": user, "fs": enemies},
              lambda: lg.merge_edges(user, enemies, "ENEMY_OF"))
        write(FLAG_FRIENDS, {"n": user, "v": flag},
              lambda: lg.flag_friends(user, flag))
        read("winder", _read_args(ctx, "winder", user, friends[0]))
        read("friend_count", _read_args(ctx, "friend_count", user))
        read("friends_2hop", _read_args(ctx, "friends_2hop", user))
        read("enemy_count", _read_args(ctx, "enemy_count", user))
        read("flagged_count", _read_args(ctx, "flagged_count", value=flag))
        read("top_members", {})
        r += 1
        if time.perf_counter() - t_start >= seconds:
            break
    ctx.info["write_rounds"] = r
    ctx.info["reads"] = len(reads)
    ctx.info["writes"] = len(writes)
    return {
        # statements per second of statement time: the checks and the
        # ledger updates between statements are not the program's work
        "cypher_stmts_per_s": (len(reads) + len(writes)) / (sum(reads) + sum(writes)),
        "cypher_write_p50_ms": statistics.median(writes) * 1e3,
        "cypher_read_p50_ms": statistics.median(reads) * 1e3,
    }
