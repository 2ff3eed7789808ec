"""Native event-time windowed aggregation with watermarks — the pure
Structured-Streaming rollup path (tumbling / hopping windows + late-data
handling); :mod:`.sqlsurface` lowers the SQL spelling onto it.

These are Spark's own streaming aggregations: state is managed by the
HDFSBackedStateStore / RocksDB per (key, window) — NOT per-row history —
and the watermark bounds both state size and late-data admission, which is
the 100 TB-stream answer: a tumbling count over a day of events holds one
row of state per (key, window), not the events themselves.

Semantics (Spark's, pinned in tests/test_streaming_eventtime.py):
- rows later than ``watermark`` behind the max seen event time are DROPPED;
- late-but-within-watermark rows UPDATE their window (update mode) or are
  folded before the window FINALIZES (append mode emits a window only once
  its end passes the watermark).
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def event_time_window_agg(
    stream: DataFrame,
    *,
    ts_col: str,
    window: str,
    aggs: Dict[str, Column],
    keys: Sequence[str] = (),
    watermark: str = "0 seconds",
    slide: Optional[str] = None,
) -> DataFrame:
    """Tumbling (default) or hopping (``slide`` given) event-time windowed
    aggregation over a streaming DataFrame.

    ``ts_col`` may be a timestamp column or epoch-ms bigint (coerced).
    Returns one row per (window, *keys) with ``window_start``/``window_end``
    as epoch-ms BIGINT plus the aggregate columns — run through
    ``writeStream`` in append mode for finalized windows (late rows beyond
    the watermark never resurrect a closed window) or update mode for live
    running values.
    """
    src = _with_event_ts(stream, ts_col, watermark)
    win = F.window(F.col("__ev_ts"), window, slide or window)
    return _windowed_agg(src, win, aggs, keys)


def session_window_agg(
    stream: DataFrame,
    *,
    ts_col: str,
    gap: str,
    aggs: Dict[str, Column],
    keys: Sequence[str] = (),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Session-window event-time aggregation: rows whose event times are
    within ``gap`` of each other (per key) merge into one session; a quiet
    period longer than ``gap`` closes the session. Completes the
    tumbling/hopping/session trio on Spark's native
    ``F.session_window`` — state is one row per open session per key,
    merged/extended as rows arrive, finalized (append mode) once the
    watermark passes session end + gap. Same output contract as
    :func:`event_time_window_agg` (epoch-ms window bounds + aggregates);
    ``window_end`` is the last event time + gap, per Spark's session
    semantics. Late rows beyond the watermark drop; in-watermark late rows
    extend or merge sessions (two sessions bridged by a late middle row
    collapse into one)."""
    src = _with_event_ts(stream, ts_col, watermark)
    win = F.session_window(F.col("__ev_ts"), gap)
    return _windowed_agg(src, win, aggs, keys)


def _with_event_ts(stream: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    ts = F.col(ts_col)
    if dict(stream.dtypes)[ts_col] in ("bigint", "long", "int"):
        ts = F.timestamp_millis(ts)
    return stream.withColumn("__ev_ts", ts).withWatermark("__ev_ts", watermark)


def _windowed_agg(
    src: DataFrame, win: Column, aggs: Dict[str, Column], keys: Sequence[str]
) -> DataFrame:
    grouped = src.groupBy(win.alias("__w"), *[F.col(k) for k in keys])
    out = grouped.agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.unix_millis(F.col("__w.start")).alias("window_start"),
        F.unix_millis(F.col("__w.end")).alias("window_end"),
        *keys,
        *aggs.keys(),
    )


