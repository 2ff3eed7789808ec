"""Serving-static materialization — the compiled request plan's analog of
the state the reference's tablet keeps RESIDENT per deployment (segment
indexes hold the join sides and time-ordered rows in memory,
``src/storage/mem_table.cc``; the Spark serve was instead re-running
every history-only subtree per call).

While :class:`~openmldb_spark.engine.compiled.CompiledRequestPlan` builds
its one-time plan, the SQL lowering *offers* reusable intermediates here
(today: LAST JOIN's deduped right side — a full shuffle + two sort
aggregates otherwise re-executed on every serve). An offer is accepted
only when the subtree is provably history-only: its analyzed plan must
not read the staged request source. The compiled plan tags its staged
``spark.read.text`` sources (the request rows and the append log) with a
constant-folded marker filter (:data:`STAGED_MARKER` — visible in the
ANALYZED plan, erased by the optimizer, so the serve plan is
unchanged); ``offer`` refuses any subtree whose analyzed plan carries
the marker. Accepted offers are persisted,
materialized eagerly at compile time, and unpersisted when the compiled
plan is released or invalidated.

Outside a compiled-plan build (every batch query, every explicit-history
or parameterized serve) ``offer`` is an exact no-op.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_tls = threading.local()

#: literal planted as a no-op filter on the compiled plan's staged
#: request source and append log; ``offer`` keys refusal on it
STAGED_MARKER = "__omsk_staged_request_source__"


def mark_staged(df: DataFrame) -> DataFrame:
    """Tag a staged request source so :func:`offer` can recognize it: a
    filter on a non-null string literal survives analysis (where
    ``offer`` looks) and constant-folds away before physical planning
    (zero serve-time cost)."""
    from pyspark.sql import functions as F

    return df.where(F.lit(STAGED_MARKER).isNotNull())


@contextmanager
def collecting(sink: list):
    """Arm materialization for the duration of a compiled-plan build;
    accepted DataFrames are appended to ``sink`` (caller unpersists)."""
    prev = getattr(_tls, "sink", None)
    _tls.sink = sink
    try:
        yield
    finally:
        _tls.sink = prev


def offer(df: DataFrame) -> DataFrame:
    """Persist ``df`` if a compiled-plan build is collecting and ``df``
    does not depend on the staged request source; otherwise return it
    unchanged."""
    sink = getattr(_tls, "sink", None)
    if sink is None:
        return df
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
        static = STAGED_MARKER not in analyzed
    except Exception:  # pragma: no cover - defensive: never break a build
        return df
    if not static:
        return df
    out = df.persist()
    sink.append(out)
    return out
