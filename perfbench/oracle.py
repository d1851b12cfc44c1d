"""Expected answers computed apart from the program, with DuckDB.

The graph is rebuilt from the source parquet with ``GRAPH_CTES`` of
``__spark_entry__`` (the same CTEs the repository's own oracle battery
uses) and stored as plain DuckDB tables:

    p(id, name, house, segment, acctbal, species, gender, alive, image,
      is_user)
    e(src, dst, type)          stored edges (FRIEND_OF/SAME_FAMILY once,
                               ENEMY_OF/ROMANTIC_WITH in both directions)
    s(src, dst, type)          the undirected view: e plus the reverse of
                               the canonical types

The Cypher workload's own writes are added to ``p`` and ``e`` through
``Ledger`` so that reads after writes have expected answers too.  Every
expected answer is computed from the source data in each run; none is
stored between runs.
"""

from __future__ import annotations

import duckdb
import numpy as np

SYM_VIEW = """
CREATE OR REPLACE VIEW s AS
SELECT src, dst, type FROM e
UNION ALL
SELECT dst AS src, src AS dst, type FROM e
WHERE type IN ('FRIEND_OF', 'SAME_FAMILY')
"""

WINDER_TYPES = ("FRIEND_OF", "SAME_FAMILY", "ROMANTIC_WITH")
FEATURE_TYPES = ("FRIEND_OF", "ENEMY_OF", "SAME_FAMILY", "ROMANTIC_WITH")
FEATURE_HOUSES = ("NATION_0", "NATION_1", "NATION_2", "NATION_3")


class Oracle:
    def __init__(self, sf_dir: str, tables, graph_ctes: str, threads: int):
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self.con.execute(f"CREATE TABLE p AS {graph_ctes} SELECT * FROM persons")
        self.con.execute(f"CREATE TABLE e AS {graph_ctes} SELECT * FROM edges")
        self.con.execute(SYM_VIEW)
        self.names_by_id = [
            r[0] for r in self.con.execute("SELECT name FROM p ORDER BY id").fetchall()
        ]
        self.houses = [
            r[0]
            for r in self.con.execute(
                "SELECT DISTINCT house FROM p WHERE house IS NOT NULL ORDER BY house"
            ).fetchall()
        ]

    def rows(self, sql: str, params=None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def sql(self, sql: str):
        """(columns, rows) of an arbitrary query, e.g. one of
        ``oracle_sql()``."""
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    # -- iterative algorithms (graph.algorithms), in NumPy ----------------
    #
    # The same recurrences as the repository's unrolled SQL oracles
    # (_pagerank_tol_sql, _ppr_sql), which take seconds in DuckDB: every
    # per-edge contribution is quantized to a whole number of 1e-9 units
    # (round half up) before the inflow sum, so the sums are exact and
    # the ranks bit-identical whatever the summation order.

    def _arrays(self):
        ids = np.array([r[0] for r in self.rows("SELECT id FROM p ORDER BY id")])
        edges = np.array(self.rows("SELECT src, dst FROM s"), dtype=np.int64).reshape(-1, 2)
        src = np.searchsorted(ids, edges[:, 0])
        dst = np.searchsorted(ids, edges[:, 1])
        deg = np.bincount(src, minlength=len(ids))
        return ids, src, dst, deg

    @staticmethod
    def _nano(x):
        """round(x) half up, exactly, as whole nano-units."""
        q = np.floor(x)
        return q + ((x - q) >= 0.5)

    def _named(self, ids, ranks, keep):
        name = dict(self.rows("SELECT id, name FROM p"))
        return [(name[i], float(r)) for i, r, k in zip(ids, ranks, keep) if k]

    def pagerank(self, tol=1e-3, max_iter=30, d=0.85) -> list[tuple]:
        """Undirected PageRank with uniform teleport and dangling mass
        spread uniformly; stops at the first even superstep from the 4th
        on whose L1 change since the previous even superstep is < tol."""
        ids, src, dst, deg = self._arrays()
        n = len(ids)
        active = deg > 0
        n_dang = n - int(active.sum())
        rank = np.where(active, 1.0 / n, 0.0)
        dangling, iso, prev = n_dang / n, 1.0 / n, None
        for it in range(max_iter):
            tpd = (1.0 - d) / n + d * dangling / n
            c = np.zeros(n)
            c[active] = self._nano((rank[active] / deg[active]) * 1e9)
            inflow = np.bincount(dst, weights=c[src], minlength=n)
            rank = np.where(active, tpd + d * (inflow / 1e9), 0.0)
            iso, dangling = tpd, n_dang * tpd
            if it % 2 == 1 or it == max_iter - 1:
                if prev is not None and np.abs(rank - prev)[active].sum() < tol:
                    break
                prev = rank
        return self._named(ids, np.where(active, rank, iso), np.ones(n, bool))

    def ppr(self, seed_name: str, max_iter=10, d=0.85) -> list[tuple]:
        """Random walk with restart at one seed, from r_0 = e_seed."""
        ids, src, dst, deg = self._arrays()
        n = len(ids)
        (seed_id,) = self.rows("SELECT id FROM p WHERE name = ?", [seed_name])[0]
        seed = np.zeros(n, bool)
        seed[np.searchsorted(ids, seed_id)] = True
        rank = np.where(seed, 1.0, 0.0)
        for _ in range(max_iter):
            live = (rank != 0.0) & (deg > 0)
            c = np.zeros(n)
            c[live] = self._nano((rank[live] / deg[live]) * 1e9)
            inflow = np.bincount(dst, weights=c[src], minlength=n)
            rank = np.where(seed, 1.0 - d, 0.0) + d * (inflow / 1e9)
        return self._named(ids, rank, rank != 0.0)

    # -- serving endpoints (engine.WinderEngine) --------------------------

    def search(self, q: str, limit: int) -> list[dict]:
        rows = self.rows(
            "SELECT name, house FROM p WHERE contains(lower(name), lower(?)) "
            "ORDER BY name LIMIT ?",
            [q, limit],
        )
        return [{"name": n, "house": h} for n, h in rows]

    def winder(self, friends: list[str], k: int) -> list[dict]:
        rows = self.rows(
            f"""
            WITH seeds AS (SELECT id, name FROM p WHERE list_contains(?, name))
            SELECT c.name, c.house, c.image, count(DISTINCT sd.name) AS score,
                   list_sort(list(DISTINCT sd.name)) AS shared
            FROM s JOIN seeds sd ON s.src = sd.id JOIN p c ON c.id = s.dst
            WHERE s.type IN {WINDER_TYPES} AND NOT list_contains(?, c.name)
            GROUP BY c.name, c.house, c.image
            ORDER BY score DESC, c.name ASC LIMIT ?
            """,
            [friends, friends, k],
        )
        return [
            {"name": n, "house": h, "image": i, "score": sc, "shared_with": list(sh)}
            for n, h, i, sc, sh in rows
        ]

    def ego_rows(self, name: str, limit: int) -> list[tuple]:
        """(person id, person name, person house, neighbor id, neighbor
        name, neighbor house, type) of the first ``limit`` expansion rows
        in the endpoint's order (neighbor, type)."""
        return self.rows(
            """
            SELECT a.id, a.name, a.house, b.id, b.name, b.house, s.type
            FROM s JOIN p a ON s.src = a.id JOIN p b ON s.dst = b.id
            WHERE a.name = ? ORDER BY b.name, s.type LIMIT ?
            """,
            [name, limit],
        )

    def ego_graph(self, name: str, limit: int) -> dict:
        nodes, edges = set(), set()
        for aid, an, ah, bid, bn, bh, t in self.ego_rows(name, limit):
            nodes.add((str(aid), an, "person", ah))
            nodes.add((str(bid), bn, "person", bh))
            edges.add((str(aid), str(bid), t))
        return {"nodes": nodes, "edges": edges}

    def housemates(self, name: str, limit: int) -> list[str]:
        return [
            r[0]
            for r in self.rows(
                "SELECT m.name FROM p m JOIN p me ON m.house = me.house "
                "WHERE me.name = ? AND m.name <> me.name ORDER BY m.name LIMIT ?",
                [name, limit],
            )
        ]

    def house_histogram(self, names: list[str]) -> dict:
        return dict(
            self.rows(
                "SELECT house, count(*) FROM p WHERE list_contains(?, name) "
                "GROUP BY house",
                [names],
            )
        )

    def house_graph(self, houses: list[str], limit: int) -> dict:
        members = self.rows(
            "SELECT id, name, house FROM p WHERE list_contains(?, house)", [houses]
        )
        nodes = {(str(i), n, "person", h) for i, n, h in members}
        nodes |= {
            (h, h, "house", None)
            for (h,) in self.rows(
                "SELECT DISTINCT n_name FROM nation WHERE list_contains(?, n_name)",
                [houses],
            )
        }
        pp = self.rows(
            """
            SELECT e.src, e.dst, e.type FROM e
            JOIN p a ON e.src = a.id JOIN p b ON e.dst = b.id
            WHERE list_contains(?, a.house) AND list_contains(?, b.house)
            ORDER BY e.type, a.name, b.name LIMIT ?
            """,
            [houses, houses, limit],
        )
        edges = {(str(s), str(d), t) for s, d, t in pp}
        edges |= {(str(i), h, "BELONGS_TO") for i, _n, h in members}
        return {"nodes": nodes, "edges": edges}

    def characters(self) -> list[dict]:
        cols = ["name", "house", "species", "gender", "alive", "image",
                "segment", "acctbal"]
        rows = self.rows(f"SELECT {', '.join(cols)} FROM p ORDER BY name")
        return [dict(zip(cols, r)) for r in rows]

    def predict_features(self, lists: dict[str, list[str]]) -> dict[str, int]:
        cells = {}
        for etype in FEATURE_TYPES:
            hist = self.house_histogram(lists[etype]) if lists[etype] else {}
            for house in FEATURE_HOUSES:
                cells[f"{etype.lower()}_{house.lower()}"] = int(hist.get(house, 0))
        return cells

    # -- Cypher reads over the ledger-extended graph ----------------------

    def cypher_winder(self, friends: list[str]) -> dict[str, tuple[int, list]]:
        """Every candidate of the reference Winder (FRIEND_OF only):
        name -> (common_friends, sorted shared_with)."""
        rows = self.rows(
            """
            WITH seeds AS (SELECT id, name FROM p WHERE list_contains(?, name))
            SELECT c.name, count(*) AS score, list_sort(list(sd.name))
            FROM s JOIN seeds sd ON s.src = sd.id JOIN p c ON c.id = s.dst
            WHERE s.type = 'FRIEND_OF' AND NOT list_contains(?, c.name)
            GROUP BY c.name
            """,
            [friends, friends],
        )
        return {n: (sc, list(sh)) for n, sc, sh in rows}

    def friend_count(self, name: str) -> int:
        return self.rows(
            "SELECT count(*) FROM s JOIN p a ON s.src = a.id "
            "WHERE a.name = ? AND s.type = 'FRIEND_OF'",
            [name],
        )[0][0]

    def friends_within_2(self, name: str) -> int:
        """Distinct persons reachable over 1 or 2 FRIEND_OF hops, the
        start excluded (a 2-hop return needs a second FRIEND_OF row for
        the same pair, which canonical storage never holds)."""
        return self.rows(
            """
            WITH f AS (SELECT src, dst FROM s WHERE type = 'FRIEND_OF'),
            me AS (SELECT id FROM p WHERE name = ?),
            h1 AS (SELECT f.dst AS id FROM f JOIN me ON f.src = me.id),
            h2 AS (SELECT f.dst AS id FROM f JOIN h1 ON f.src = h1.id)
            SELECT count(DISTINCT id) FROM (SELECT id FROM h1 UNION SELECT id FROM h2)
            WHERE id NOT IN (SELECT id FROM me)
            """,
            [name],
        )[0][0]

    def enemy_out_count(self, name: str) -> int:
        return self.rows(
            "SELECT count(*) FROM e JOIN p a ON e.src = a.id "
            "WHERE a.name = ? AND e.type = 'ENEMY_OF'",
            [name],
        )[0][0]

    def flagged_count(self, value: str) -> int:
        return self.rows("SELECT count(*) FROM p WHERE flagged = ?", [value])[0][0]

    def top_members(self, k: int = 3) -> list[tuple[str, str]]:
        """The CALL {} subquery: top-k members of every house by acctbal
        (ties by name), as (house, member) sorted."""
        return [
            tuple(r)
            for r in self.rows(
                """
                SELECT house, name FROM (
                  SELECT house, name, row_number() OVER (
                    PARTITION BY house ORDER BY acctbal DESC, name) AS rk
                  FROM p WHERE house IS NOT NULL)
                WHERE rk <= ? ORDER BY house, name
                """,
                [k],
            )
        ]


class Ledger:
    """The Cypher script's own writes, applied to the oracle graph.

    Node ids of merged users are the ledger's own (negative, counting
    down); reads compare names, never ids.  ``apply_*`` return the number
    of stored rows the statement changes, which is the denominator of
    the commit-cost ratio in the traced run.
    """

    def __init__(self, oracle: Oracle):
        self.o = oracle
        self.o.con.execute("ALTER TABLE p ADD COLUMN flagged VARCHAR")
        self.next_id = -1

    def _id(self, name: str):
        r = self.o.rows("SELECT id FROM p WHERE name = ?", [name])
        return r[0][0] if r else None

    def merge_user(self, name: str, house: str, acctbal: float) -> int:
        if self._id(name) is None:
            self.o.con.execute(
                "INSERT INTO p (id, name, house, acctbal, is_user) "
                "VALUES (?, ?, ?, ?, TRUE)",
                [self.next_id, name, house, acctbal],
            )
            self.next_id -= 1
            return 1
        self.o.con.execute(
            "UPDATE p SET house = ?, acctbal = ?, is_user = TRUE WHERE name = ?",
            [house, acctbal, name],
        )
        return 1

    def merge_edges(self, name: str, targets: list[str], etype: str) -> int:
        """MERGE (u)-[:etype]->(t) for every existing t: FRIEND_OF is
        stored once per unordered pair, ENEMY_OF in both directions."""
        u = self._id(name)
        changed = 0
        for t in dict.fromkeys(targets):
            v = self._id(t)
            if v is None or v == u:
                continue
            if etype == "FRIEND_OF":
                have = self.o.rows(
                    "SELECT count(*) FROM e WHERE type = 'FRIEND_OF' AND "
                    "((src = ? AND dst = ?) OR (src = ? AND dst = ?))",
                    [u, v, v, u],
                )[0][0]
                rows = [] if have else [(u, v)]
            else:
                rows = [
                    (a, b)
                    for a, b in ((u, v), (v, u))
                    if not self.o.rows(
                        "SELECT count(*) FROM e WHERE src = ? AND dst = ? AND type = ?",
                        [a, b, etype],
                    )[0][0]
                ]
            for a, b in rows:
                self.o.con.execute("INSERT INTO e VALUES (?, ?, ?)", [a, b, etype])
            changed += len(rows)
        return changed

    def flag_friends(self, name: str, value: str) -> int:
        """FOREACH over the FRIEND_OF neighbours of ``name``: SET flagged."""
        return self.o.con.execute(
            """
            UPDATE p SET flagged = ? WHERE id IN (
              SELECT s.dst FROM s JOIN p a ON s.src = a.id
              WHERE a.name = ? AND s.type = 'FRIEND_OF')
            """,
            [value, name],
        ).fetchone()[0]
