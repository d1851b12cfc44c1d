"""interactive: the serve_mix phase, then the cypher_session phase, in one
process and one Spark session.

Both phases are one closed-loop client whose operations are small, so
their latency is Spark job and planning overhead in ``graph.queries``,
``engine`` and ``cypher``, and commits in ``cypher.writes``.  They share
a process because the benchmark's time budget pays the session start
and the cold store build once per run.  Each phase gets half of the
run's seconds and always completes whole rounds.
"""

from __future__ import annotations

import cypher_script
import serve


def setup(ctx, graph):
    return serve.setup(ctx, graph), cypher_script.setup(ctx, graph)


def run(ctx, state) -> dict:
    engine, session = state
    return {**serve.run(ctx, engine, ctx.seconds / 2),
            **cypher_script.run(ctx, session, ctx.seconds / 2)}
