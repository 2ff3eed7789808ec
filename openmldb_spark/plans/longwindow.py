"""Long-window pre-aggregation (SURVEY §4.3).

Reference: very long sliding windows (``sum(col) OVER w`` spanning months of
per-key events) are served from pre-aggregated time buckets instead of raw
rows — ``src/storage/aggregator.h:39-75`` maintains an ``AggrBuffer``
{sum,count,min,max} per (key, time-bucket) on every insert, and
``PhysicalRequestAggUnionNode`` (``hybridse/include/vm/physical_op.h:1617-1692``,
``RequestAggUnionRunner`` ``hybridse/src/vm/runner.h:554``) answers a request
by combining *full* buckets from the pre-agg table with raw-row scans of the
two *partial* buckets at the window edges. The reference enables it per
deploy via ``OPTIONS(long_windows='w1:1d')`` (``DEPLOY_STATEMENT.md:143-156``);
this engine's DEPLOY validates that option like the reference and serves
those windows exactly from raw history. This module is the operator, run
by the ``long_window_preagg`` query and ``tools/bench_longwindow.py``.

Spark-first translation:

- :func:`preaggregate` — one ``groupBy(key, bucket)`` shuffle producing the
  materialized pre-agg DataFrame. At scale: write it partitioned by bucket
  date and maintain it incrementally (append new buckets per micro-batch /
  daily job); it is ~``bucket_ms/avg_event_gap`` times smaller than the raw
  table.
- :func:`request_long_window` — the batch analogue of RequestAggUnion: for
  M request rows over N history rows it reads the pre-agg table (N/k rows)
  for full buckets and only the ≤2 edge buckets per request from raw
  history — instead of scanning the full R-range per request. Joins are
  keyed shuffles (AQE may broadcast the request side); the raw-history scan
  is pre-pruned by a broadcast semi-join on the edge-bucket ids, which
  turns into dynamic partition pruning when history is stored partitioned
  by bucket.

Semantics pinned to the window engine: window = ``[t - range_ms, t]``, both
ends inclusive (ROWS_RANGE ... PRECEDING AND CURRENT ROW).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SUPPORTED = ("sum", "count", "avg", "min", "max")


def preaggregate(
    history: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket_ms: int,
) -> DataFrame:
    """Materialize per-(key, bucket) partial aggregates of ``value_col``.

    ``ts_col`` must be epoch-ms (long). Output columns: keys...,
    ``bucket`` (= floor(ts/bucket_ms)), ``sum_v, cnt_v, min_v, max_v``
    — the same quartet the reference's AggrBuffer keeps
    (``aggregator.h:56-75``), from which sum/count/avg/min/max (and any
    combination) are all answerable.
    """
    b = (F.col(ts_col) / F.lit(bucket_ms)).cast("long").alias("bucket")
    return (
        history.groupBy(*[F.col(k) for k in keys], b)
        .agg(
            F.sum(value_col).alias("sum_v"),
            F.count(value_col).alias("cnt_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )


def request_long_window(
    requests: DataFrame,
    history: DataFrame,
    preagg: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    range_ms: int,
    bucket_ms: int,
    agg: str = "sum",
    *,
    request_id: str = "__req_id",
) -> DataFrame:
    """``agg(value) OVER (PARTITION BY keys ORDER BY ts RANGE range_ms
    PRECEDING)`` for each request row, served from pre-agg + edge buckets.

    ``requests`` needs ``keys`` + ``ts_col`` (epoch-ms) + a unique
    ``request_id`` column (added with monotonically_increasing_id if absent).
    Returns the requests with an appended ``agg_v`` column.
    """
    if agg not in _SUPPORTED:
        raise ValueError(f"agg must be one of {_SUPPORTED}")
    if range_ms < bucket_ms:
        raise ValueError("long-window range must cover at least one bucket")

    if request_id not in requests.columns:
        requests = requests.withColumn(request_id, F.monotonically_increasing_id())

    req = requests.select(
        request_id,
        *keys,
        F.col(ts_col).alias("__t"),
        (F.col(ts_col) / bucket_ms).cast("long").alias("__b_hi"),
        ((F.col(ts_col) - range_ms) / bucket_ms).cast("long").alias("__b_lo"),
    ).alias("__req")

    # ---- full buckets: strictly between the two edge buckets --------------
    pre = preagg.alias("__pre")
    full_cond = (
        (F.col("__pre.bucket") > F.col("__req.__b_lo"))
        & (F.col("__pre.bucket") < F.col("__req.__b_hi"))
    )
    for k in keys:
        full_cond = full_cond & (F.col(f"__req.{k}") == F.col(f"__pre.{k}"))
    full_contrib = req.join(pre, full_cond, "left").select(
        F.col(f"__req.{request_id}").alias(request_id),
        F.col("sum_v").alias("__s"),
        F.coalesce(F.col("cnt_v"), F.lit(0).cast("long")).alias("__c"),
        F.col("min_v").alias("__mn"),
        F.col("max_v").alias("__mx"),
    )

    # ---- edge buckets: raw rows of b_lo and b_hi inside the range ---------
    # prune the history scan to the union of edge-bucket ids. When the
    # history table is STORED partitioned by a ``bucket`` column (the
    # recommended layout), the distinct edge-bucket ids — metadata-scale:
    # at most 2 per distinct request time-bucket — are collected and
    # applied as a STATIC ``isin`` filter, which Spark turns into real
    # partition pruning (PartitionFilters on the scan): the job reads ~2
    # buckets per request bucket instead of the whole table. Above a
    # 10k-id cap (degenerate request spread) it falls back to the
    # broadcast semi-join, which prunes rows after the scan.
    edge_ids = (
        req.select(F.explode(F.array("__b_lo", "__b_hi")).alias("__edge_b")).distinct()
    )
    hist = None
    if "bucket" in history.columns:
        ids = [r[0] for r in edge_ids.limit(10_001).collect()]
        if len(ids) <= 10_000:
            hist = (
                history.filter(F.col("bucket").isin(ids))
                .withColumn("__hb", F.col("bucket").cast("long"))
                .alias("__hist")
            )
    if hist is None:
        hist = (
            history.withColumn("__hb", (F.col(ts_col) / bucket_ms).cast("long"))
            .join(F.broadcast(edge_ids), F.col("__hb") == F.col("__edge_b"), "left_semi")
            .alias("__hist")
        )
    edge_cond = (
        ((F.col("__hist.__hb") == F.col("__req.__b_lo"))
         | (F.col("__hist.__hb") == F.col("__req.__b_hi")))
        & (F.col(f"__hist.{ts_col}") >= F.col("__req.__t") - range_ms)
        & (F.col(f"__hist.{ts_col}") <= F.col("__req.__t"))
    )
    for k in keys:
        edge_cond = edge_cond & (F.col(f"__req.{k}") == F.col(f"__hist.{k}"))
    v = F.col(f"__hist.{value_col}")
    edge_contrib = req.join(hist, edge_cond, "left").select(
        F.col(f"__req.{request_id}").alias(request_id),
        v.alias("__s"),
        F.when(v.isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("__c"),
        v.alias("__mn"),
        v.alias("__mx"),
    )

    # both contributions flow through ONE union + ONE aggregation keyed by
    # request_id — a single request-side shuffle finishes the combine
    # (previously: two independent groupBys + a join of their results).
    # Union type coercion keeps integer sums integer (the edge branch's raw
    # value widens to the pre-agg sum type), matching run_batch's dtype.
    parts = (
        full_contrib.unionByName(edge_contrib)
        .groupBy(request_id)
        .agg(
            F.sum("__s").alias("__sum"),
            F.sum("__c").alias("__cnt"),
            F.min("__mn").alias("__min"),
            F.max("__mx").alias("__max"),
        )
    )
    sum_v, cnt_v = F.col("__sum"), F.col("__cnt")
    if agg == "sum":
        out = F.when(cnt_v > 0, sum_v)
    elif agg == "count":
        out = cnt_v
    elif agg == "avg":
        out = F.when(cnt_v > 0, sum_v / cnt_v)
    elif agg == "min":
        out = F.col("__min")
    else:
        out = F.col("__max")
    combined = parts.select(request_id, out.alias("agg_v"))
    return requests.join(combined, request_id, "left")
