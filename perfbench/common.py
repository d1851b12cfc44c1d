"""What every workload shares: the run context, seeded request helpers,
the private graph store and the checks made right after set-up."""

from __future__ import annotations

import bisect
import os
import random
import statistics
import time

# Zipf exponent of the person-name draws: among 1,500 persons the most
# popular name is drawn 17 % of the time, so requests repeat.
ZIPF_S = 1.1


class Ctx:
    """One run: the session, the data, the seeded RNG, the tracer and
    the DuckDB oracle, plus the wall and CPU time of every completed
    operation and the operations that raised."""

    def __init__(self, spark, sf_dir, run_dir, seed, seconds, tracer, oracle):
        self.spark = spark
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.oracle = oracle
        self.rng = random.Random(seed)
        self.attempted = 0
        self.durations: list[float] = []  # seconds of each completed operation
        self.cpu_s = 0.0  # CPU seconds of the process tree inside operations
        self.by_kind: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.errors: list[str] = []
        self.info: dict = {}  # printed beside the metrics
        self.workload_metrics: dict[str, float] = {}
        names = oracle.names_by_id
        self.names = names
        cum, tot = [], 0.0
        for r in range(len(names)):
            tot += 1.0 / (r + 1) ** ZIPF_S
            cum.append(tot)
        self._zipf_cum = cum

    def person(self) -> str:
        """A person name drawn Zipf-skewed over all persons."""
        x = self.rng.random() * self._zipf_cum[-1]
        return self.names[bisect.bisect_left(self._zipf_cum, x)]

    def persons(self, lo: int, hi: int) -> list[str]:
        """lo..hi distinct Zipf-drawn names."""
        want = self.rng.randint(lo, hi)
        out: list[str] = []
        while len(out) < want:
            n = self.person()
            if n not in out:
                out.append(n)
        return out

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one timed operation inside a span; returns (result,
        seconds) or (None, None) when it raised.  The process tree's CPU
        time is read just outside the timed interval."""
        self.attempted += 1
        cpu0 = tree_cpu_s()
        trace0 = self.tracer.trace_s
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, kind.split(".")[0]):
                out = fn(*args, **kwargs)
        except Exception as exc:  # one failed operation must not end the run
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None, None
        # measurement-only work of a traced run is not the operation's
        dt = time.perf_counter() - t0 - (self.tracer.trace_s - trace0)
        self.cpu_s += tree_cpu_s() - cpu0
        self.durations.append(dt)
        self.by_kind.setdefault(kind, []).append(dt)
        return out, dt


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, q in (0, 1)."""
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1])


def load_private_graph(ctx):
    """Build the private graph store through the program's own loader and
    prove the graph is served from it: ``load_graph`` swallows build
    errors and silently falls back to re-deriving the rule joins on
    every query, which would measure something else."""
    from neo4j_database_spark.graph import store

    g = store.load_graph(ctx.spark, ctx.sf_dir)
    check_store_graph(ctx, g)
    return g


def check_store_graph(ctx, g) -> None:
    from neo4j_database_spark.graph import store

    out_dir = store._store_dir(ctx.sf_dir)
    if not out_dir.startswith(ctx.run_dir):
        raise RuntimeError(f"graph store {out_dir} is not private to the run")
    if not os.path.exists(os.path.join(out_dir, "_BUILT")):
        raise RuntimeError("graph store has no _BUILT marker: the build failed")
    for name in ("persons", "edges"):
        files = getattr(g, name).inputFiles()
        if not files or not all(out_dir in f for f in files):
            raise RuntimeError(f"graph {name} frame does not scan the store parquet")


def store_files(out_dir: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(os.path.join(out_dir, "edges")):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _tree_pids() -> set[int]:
    """This process and every descendant (the Spark JVM and any Python
    workers), from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over the process tree."""
    kb = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                kb += sum(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except OSError:
            continue
    return kb / 1024.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by the process tree,
    including its children that have already exited."""
    ticks = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")
