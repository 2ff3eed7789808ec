"""LAST JOIN — the dialect's as-of-style join: for each left row, among right
rows matching the equi-keys (+ optional extra condition), keep exactly the one
with the greatest ORDER BY value; left rows always survive (NULL fill).

Reference semantics: ``docs/en/openmldb_sql/dql/JOIN_CLAUSE.md:5-66``;
physical op ``PhysicalJoinNode`` ``hybridse/include/vm/physical_op.h:1213-1329``.
The unsorted variant ("last stored row") is storage-order-defined in the
reference; a shuffled engine has no storage order, so we require a
deterministic ``tiebreak`` column and document the divergence (the
reference's own Spark lowering does the same with dropDuplicates,
``JoinPlan.scala:200-205``).

One lowering, :func:`lower_last_join`, serves both front ends: the
DataFrame operator :func:`last_join` and the SQL engine
(``sql/lowering/exec.py::Lowerer._last_join``) only build its inputs. It
picks one of two Spark-first plans:

- **dedupe-right** (the join condition is keys-only): reduce the right side
  to one row per key via ``max_by(payload, rank)`` *before* the join, then
  a plain left join. The aggregate partial-combines map-side (the shuffle
  carries at most one candidate per key per input partition — a
  row_number window would shuffle every row and sort); the deduped right
  is usually small enough for AQE to broadcast. This is the 100 TB path:
  partial-agg(right) -> shrink to |distinct keys| -> broadcast/SMJ.
- **post-filter** (a non-key condition that reads the left side, or a
  descending rank column with no exact long reversal): left join, then
  keep the rank-first row per left row id. Costs a fan-out proportional to
  match multiplicity; only used when semantics demand it. A condition that
  references ONLY right columns doesn't demand it: the right side is
  pre-filtered and the dedupe-right plan used instead.

Both plans rank from the same list, so a query gets one answer whichever
plan it takes.
"""

from __future__ import annotations

import itertools
import logging
from functools import reduce
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_LID = "__omsk_left_id"
_RN = "__omsk_rn"

_aliases = itertools.count()


def _references_right_only(left: DataFrame, right: DataFrame, condition: Column) -> bool:
    """True iff ``condition`` analyzes against ``right`` alone and NOT
    against ``left`` alone — i.e. it unambiguously constrains only right
    columns. Bound references (``right["c"]``) fail left-side analysis by
    attribute id; an unbound name that exists on BOTH sides analyzes on
    both, returns False, and stays on the general plan (the join itself
    would flag it ambiguous)."""

    from pyspark.logger import PySparkLogger

    def _resolves(df: DataFrame) -> bool:
        # pyspark's DataFrameQueryContextLogger logs every analysis failure
        # at ERROR even when caught — this probe EXPECTS one, so mute it.
        # (PySparkLogger.getLogger, not logging.getLogger: the plain call
        # would create a vanilla Logger first and break pyspark's kwargs
        # logging with a TypeError.)
        log = PySparkLogger.getLogger("DataFrameQueryContextLogger")
        prev = log.level
        log.setLevel(logging.CRITICAL)
        try:
            df.filter(condition).schema  # analysis only, no job
            return True
        except Exception:
            return False
        finally:
            log.setLevel(prev)

    return _resolves(right) and not _resolves(left)


def _reversed(c: Column, dtype: str) -> Optional[Column]:
    """An exact order-reversing map of ``c`` onto a long (``~x = -x-1``
    cannot overflow), or None when the type has none: strings, floating
    point and decimals keep their descending ranks out of ``max_by``.
    NULL maps to NULL, so it still loses."""
    if dtype in ("boolean", "tinyint", "smallint", "int", "bigint"):
        return F.bitwise_not(c.cast("bigint"))
    if dtype == "date":
        return F.bitwise_not(F.unix_date(c))
    if dtype == "timestamp":
        return F.bitwise_not(F.unix_micros(c))
    if dtype == "timestamp_ntz":
        # wall-clock micros since the epoch, free of any session time zone
        epoch = F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
        return F.bitwise_not(F.timestamp_diff("MICROSECOND", epoch, c))
    return None


def _dedupe(
    right: DataFrame, keys: Sequence[str], rank: Sequence[tuple[Column, bool]]
) -> Optional[DataFrame]:
    """``right`` cut to its rank-first row per key, or None when the rank
    has no ``max_by`` form.

    Struct comparison is field by field with NULL smallest, so the struct
    max is exactly the row the post-filter window ranks first: an
    ascending entry takes its max with NULL last, a descending one its
    reversed long. Keys come back from the groupBy output, so Catalyst
    keeps the hash partitioning on them (struct-field extraction would
    hide it and re-shuffle the join, breaking the bucketed zero-Exchange
    layout); only non-key columns ride in the payload, under positional
    ``__f{i}`` names (the SQL front end's subqueries may repeat a column
    name)."""
    cols = right.columns
    keyset = set(keys)
    nonkey = [i for i, c in enumerate(cols) if c not in keyset]
    if not nonkey:
        return right.distinct()
    desc = [c for c, d in rank if d]
    dtypes = iter(right.select(*desc).dtypes if desc else ())
    fields = []
    for c, d in rank:
        if d:
            c = _reversed(c, next(dtypes)[1])
            if c is None:
                return None
        fields.append(c)
    order = F.struct(*[f.alias(f"__o{i}") for i, f in enumerate(fields)])
    payload = F.struct(*[right[i].alias(f"__f{i}") for i in nonkey])
    return (
        right.groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(payload, order).alias("__omsk_s"))
        .select(
            *[
                F.col(c) if c in keyset else F.col(f"__omsk_s.__f{i}").alias(c)
                for i, c in enumerate(cols)
            ]
        )
    )


def lower_last_join(
    left: DataFrame,
    right: DataFrame,
    alias: str,
    keys: Sequence[str],
    on: Optional[Column],
    rank: Sequence[tuple[Column, bool]],
    rest: Sequence[Column],
) -> DataFrame:
    """The one LAST JOIN lowering.

    right : the right side, aliased ``alias``; ``on``, ``rank`` and
            ``rest`` name its columns through that alias.
    keys  : the right key columns ``on`` equates with the left side.
    on    : the key condition (None: no keys).
    rank  : ``(column, descending)`` pairs over the right side, most
            significant first. The match that ranks first wins: the max of
            an ascending entry, the min of a descending one, NULL last.
    rest  : the ON conjuncts that are not key equalities.

    Returns the left columns followed by the right columns."""
    kept = []
    for c in rest:
        if _references_right_only(left, right, c):
            # a right row failing the conjunct can never be the selected
            # last row, and left rows survive via NULL fill either way:
            # filtering right first is equivalent and keeps the dedupe plan
            right = right.filter(c)
        else:
            kept.append(c)
    if keys and not kept:
        dd = _dedupe(right, keys, rank)
        if dd is not None:
            return left.join(dd.alias(alias), on, "left")
    lid = left.withColumn(_LID, F.monotonically_increasing_id())
    conds = [c for c in (on, *kept) if c is not None]
    joined = lid.join(right, reduce(Column.__and__, conds) if conds else F.lit(True), "left")
    w = Window.partitionBy(_LID).orderBy(
        *[c.asc_nulls_last() if d else c.desc_nulls_last() for c, d in rank]
    )
    return (
        joined.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_LID, _RN)
    )


def last_join(
    left: DataFrame,
    right: DataFrame,
    on: Union[str, Sequence[str], Sequence[tuple[str, str]]],
    order_by: Optional[str] = None,
    *,
    condition: Optional[Column] = None,
    tiebreak: Optional[Union[str, Sequence[str]]] = None,
    right_prefix: Optional[str] = None,
) -> DataFrame:
    """LAST JOIN ``left`` to ``right``.

    on         : equi-key column name(s), or (left_col, right_col) pairs.
    order_by   : right-side ordering column (ts); max wins. None = unsorted
                 LAST JOIN -> requires ``tiebreak``.
    condition  : extra join predicate; one that references both sides
                 forces the post-filter plan.
    tiebreak   : right-side column(s) breaking order ties deterministically
                 (mandatory for unsorted; recommended when ts can tie).
    right_prefix: optionally rename right columns (prefix) to avoid clashes.
    """
    if isinstance(on, str):
        pairs = [(on, on)]
    elif on and isinstance(on[0], str):
        pairs = [(c, c) for c in on]
    else:
        pairs = list(on)

    if order_by is None and tiebreak is None:
        raise ValueError(
            "unsorted LAST JOIN needs a deterministic tiebreak column "
            "(reference picks storage order — undefined after a shuffle)"
        )
    tiebreaks = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])

    alias = f"__omsk_r{next(_aliases)}"
    # standard equality: null-safe matching (the reference's index join
    # matches NULL keys) lives in the SQL front end only — Spark rewrites
    # <=> keys to coalesce(k, lit), which defeats bucketed/co-partitioned
    # layouts and would force an Exchange on the zero-shuffle path
    # (tests/test_bucketed.py)
    on_keys = reduce(
        Column.__and__, [left[lc] == F.col(f"{alias}.{rc}") for lc, rc in pairs]
    )
    ranked = ([order_by] if order_by is not None else []) + tiebreaks
    out = lower_last_join(
        left,
        right.alias(alias),
        alias,
        [rc for _, rc in pairs],
        on_keys,
        [(F.col(f"{alias}.{c}"), False) for c in ranked],
        [condition] if condition is not None else [],
    )
    if right_prefix:
        out = out.toDF(*left.columns, *[f"{right_prefix}{c}" for c in right.columns])
    return out
