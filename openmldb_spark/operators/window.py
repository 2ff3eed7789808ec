"""Window aggregation engine — ROWS / ROWS_RANGE frames with the reference
dialect's frame attributes.

Semantics pinned from the reference:

- frame grammar + attributes: ``docs/en/openmldb_sql/dql/WINDOW_CLAUSE.md``,
  ``hybridse/include/vm/physical_op.h:1134-1211`` (window_, window_unions_,
  instance_not_in_window_, exclude_current_time_),
  ``hybridse/include/node/node_enum.h:248-266`` (bound types incl.
  kOpenPreceding, kExcludeCurrentTime).
- Only PRECEDING..CURRENT frames exist; ORDER BY is a single int/timestamp
  column (``WINDOW_CLAUSE.md:178-186``).

Lowering strategy (Spark-first):

- **Native path** (default): ``Window.partitionBy(keys).orderBy(ord)`` with
  ``rowsBetween`` / ``rangeBetween`` — whole-stage-codegen'd WindowExec,
  one shuffle per distinct partitioning, multiple aggregates share one sort.
- **Array path** (only when the frame has attributes Spark frames cannot
  express — MAXSIZE, EXCLUDE CURRENT_TIME, INSTANCE_NOT_IN_WINDOW — or the
  aggregate has no native form, e.g. ``ew_avg``, ``*_cate``): collect the
  frame rows once as ``array<struct>`` via ``collect_list`` over a *bounded*
  frame, then reduce with higher-order functions. Everything stays JVM-side;
  the collected array is bounded by the frame size (rows frames, MAXSIZE) so
  per-row state is O(frame), never O(partition).

Scale notes: both paths shuffle once on the partition keys and sort within
partitions — the same data movement the reference's offline engine performs
(repartition + sortWithinPartitions, ``WindowAggPlan.scala``). Skewed keys
are handled by AQE; for pathological hot keys use the documented salting
recipe in ``window_union.py``.

Tie-breaking: rows that share the same ORDER BY value are ordered by a
deterministic secondary sort on ``__omsk_rid`` (a per-row unique id). The
reference iterates storage insertion order, which a shuffled engine cannot
reproduce; we pin (ts, rid) and document the divergence. For RANGE frames
the native path follows SQL-standard peer semantics (rows *after* the
current row with equal ts are in-frame) — identical to every SQL oracle,
slightly wider than the reference's stored-prefix view.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from openmldb_spark.functions.aggregates import AggSpec

ColumnOrName = Union[Column, str]

_RID = "__omsk_rid"
_ORD = "__omsk_ord"
_FLAG = "__omsk_flag"

_INTERVAL_MS = {
    "ms": 1, "s": 1000, "min": 60_000, "m": 60_000,
    "h": 3_600_000, "d": 86_400_000,
}


def parse_interval_ms(v: Union[int, str]) -> int:
    """'10s' / '2m' / '1h' / '30d' / '250ms' / plain int -> milliseconds.

    Interval literal units per ``node_enum.h:190-196`` (kHour/kMinute/
    kSecond/kDay) plus bare ms and the TTL DDL's 'min' spelling
    (100min == 100m, CREATE_TABLE_STATEMENT.md).
    """
    if isinstance(v, int):
        return v
    s = v.strip().lower()
    for suffix in ("ms", "min", "s", "m", "h", "d"):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * _INTERVAL_MS[suffix]
    return int(s)


@dataclass
class WindowDef:
    """A named window from the dialect's WINDOW clause.

    Exactly one of ``rows`` / ``rows_range`` / ``unbounded`` describes the
    lower bound; the upper bound is always CURRENT ROW (the dialect has no
    FOLLOWING).
    """

    partition_by: Sequence[ColumnOrName]
    order_by: ColumnOrName
    rows: Optional[int] = None                    # ROWS n PRECEDING
    rows_range: Optional[Union[int, str]] = None  # ROWS_RANGE interval PRECEDING
    unbounded: bool = False                       # UNBOUNDED PRECEDING
    open_preceding: bool = False                  # OPEN <bound> PRECEDING
    #: bounded upper end `AND k PRECEDING` (default CURRENT ROW): row count
    #: for ROWS frames, interval for ROWS_RANGE frames
    end_rows: int = 0
    end_range: Optional[Union[int, str]] = None
    exclude_current_row: bool = False
    exclude_current_time: bool = False
    maxsize: Optional[int] = None                 # ROWS_RANGE ... MAXSIZE k
    #: bounded lookback used when EXCLUDE CURRENT_TIME forces a rows-frame
    #: over-collect. Same-ts runs longer than this RAISE at evaluation time
    #: (overflow is detected per row, never silently truncated — see the
    #: guard in window_agg / DIVERGENCES #6); raise it for skewed ts data
    lookback_slack: int = 256
    #: unique column breaking same-ts ties deterministically. Default: a
    #: monotonically-increasing id — stable within one plan, but NOT across
    #: different plans over the same data (the reference's "storage order"
    #: has the same caveat, SURVEY §7); pass a real unique column to pin it.
    tiebreak: Optional[ColumnOrName] = None

    def __post_init__(self) -> None:
        n_bounds = sum(x is not None for x in (self.rows, self.rows_range)) + int(self.unbounded)
        if n_bounds != 1:
            raise ValueError("exactly one of rows / rows_range / unbounded required")
        if self.maxsize is not None and self.rows_range is None:
            raise ValueError("MAXSIZE is only valid for ROWS_RANGE windows (WINDOW_CLAUSE.md:313)")
        if self.end_rows and self.rows_range is not None:
            raise ValueError("row-count upper bound on a ROWS_RANGE window")
        if self.end_range is not None and self.rows is not None:
            raise ValueError("interval upper bound on a ROWS window")
        if self.rows is not None and self.end_rows > self.rows:
            raise ValueError("upper bound PRECEDING exceeds the frame's lower bound")

    @property
    def range_ms(self) -> Optional[int]:
        return None if self.rows_range is None else parse_interval_ms(self.rows_range)

    def needs_array_eval(self) -> bool:
        """Frame attributes Spark's native frames cannot express."""
        if self.maxsize is not None or self.exclude_current_time:
            return True
        # EXCLUDE CURRENT_ROW on a RANGE frame must drop exactly one row while
        # keeping its ts-peers — not expressible as a Spark frame bound.
        if self.exclude_current_row and self.rows_range is not None:
            return True
        return False


def _ord_long(df: DataFrame, order_by: ColumnOrName) -> Column:
    """Normalize the ORDER BY column to epoch-ms (or plain long) so RANGE
    bounds are millisecond arithmetic, matching the reference's ts model."""
    col = F.col(order_by) if isinstance(order_by, str) else order_by
    name = order_by if isinstance(order_by, str) else None
    dtype = dict(df.dtypes).get(name, "") if name else ""
    if dtype == "timestamp_ntz":
        # NTZ wall-clock == UTC instant under our pinned UTC session tz
        return F.unix_millis(col.cast("timestamp"))
    if dtype == "timestamp":
        return F.unix_millis(col)
    if dtype == "date":
        return F.unix_millis(col.cast("timestamp"))
    return col.cast("long")


def _specs_window(
    df: DataFrame, wdef: WindowDef, reuse_order: bool = False
) -> tuple[DataFrame, WindowSpec, WindowSpec]:
    """Attach normalized order/rid cols; build framed + unframed WindowSpecs.

    ``reuse_order``: keep an existing ``_ORD`` column instead of minting a
    new (identically-valued) expression — ONLY valid when the caller
    guarantees the previous window had the same ORDER BY (the fused
    multi-window chain); a fresh expression id would make Catalyst unable
    to prove the sort order unchanged and re-sort between the windows."""
    parts = [F.col(p) if isinstance(p, str) else p for p in wdef.partition_by]
    if not (reuse_order and _ORD in df.columns):
        df = df.withColumn(_ORD, _ord_long(df, wdef.order_by))
    if wdef.tiebreak is not None:
        tb = F.col(wdef.tiebreak) if isinstance(wdef.tiebreak, str) else wdef.tiebreak
        df = df.withColumn(_RID, tb)
    elif _RID not in df.columns:
        df = df.withColumn(_RID, F.monotonically_increasing_id())
    base = Window.partitionBy(*parts).orderBy(F.col(_ORD).asc(), F.col(_RID).asc())
    # positional upper end: `AND k PRECEDING` (EXCLUDE CURRENT_ROW == k>=1)
    rows_end = -max(wdef.end_rows, 1) if wdef.exclude_current_row else -wdef.end_rows
    if wdef.unbounded:
        if wdef.end_range is not None:
            e = parse_interval_ms(wdef.end_range)
            framed = (
                Window.partitionBy(*parts)
                .orderBy(F.col(_ORD).asc())
                .rangeBetween(Window.unboundedPreceding, -e)
            )
        else:
            framed = base.rowsBetween(Window.unboundedPreceding, rows_end)
    elif wdef.rows is not None:
        n = wdef.rows - (1 if wdef.open_preceding else 0)
        framed = base.rowsBetween(-n, rows_end)
    else:
        r = wdef.range_ms - (1 if wdef.open_preceding else 0)
        e = parse_interval_ms(wdef.end_range) if wdef.end_range is not None else 0
        # RANGE frames order by the value only (peers share the frame)
        framed = (
            Window.partitionBy(*parts).orderBy(F.col(_ORD).asc()).rangeBetween(-r, -e)
        )
    return df, framed, base


def _collect_window(
    wdef: WindowDef, parts: list[Column], *, unbounded_rows: bool = False
) -> WindowSpec:
    """The bounded frame the array path collects over (superset of the real
    frame; element filters narrow it down).

    RANGE windows always collect over the value-range frame — peer-
    inclusive, like the native path and the reference's stored-rows model
    (same-ts rows are all "stored" regardless of tie order). MAXSIZE then
    caps to the most recent rows of that peer-inclusive set.

    ``unbounded_rows`` lifts the physical bound on ROWS frames — used by
    INSTANCE_NOT_IN_WINDOW, where interleaved main rows would otherwise
    consume frame slots before the eligibility filter runs (the collect is
    then union-rows-only, so memory stays proportional to eligible rows).
    """
    base = Window.partitionBy(*parts).orderBy(F.col(_ORD).asc(), F.col(_RID).asc())
    slack = wdef.lookback_slack if wdef.exclude_current_time else 0
    if wdef.rows is not None:
        if unbounded_rows:
            return base.rowsBetween(Window.unboundedPreceding, 0)
        return base.rowsBetween(-(wdef.rows + slack), 0)
    if wdef.unbounded:
        return base.rowsBetween(Window.unboundedPreceding, 0)
    r = wdef.range_ms - (1 if wdef.open_preceding else 0)
    return Window.partitionBy(*parts).orderBy(F.col(_ORD).asc()).rangeBetween(-r, 0)


def _slot(name: str, types: dict):
    """Accessor of the collected struct field ``name``; its ``dtype`` is
    the field's Spark type."""

    def get(s: Column) -> Column:
        return s[name]

    get.dtype = types[name]
    return get


def _take_last(arr: Column, k: Column) -> Column:
    """Last k elements of arr (most recent; arr is ts-ascending)."""
    n = F.size(arr)
    return F.slice(arr, F.greatest(n - k + 1, F.lit(1)), k)


def window_agg(
    df: DataFrame,
    wdef: WindowDef,
    aggs: dict[str, AggSpec],
    *,
    instance_not_in_window: bool = False,
    keep_flag: bool = False,
    keep_order: bool = False,
    reuse_order: bool = False,
) -> DataFrame:
    """Append one output column per (name -> AggSpec) computed over ``wdef``.

    ``instance_not_in_window`` (ref: physical_op.h:1166-1168): frame rows are
    drawn only from UNION-side rows (``_FLAG == 0``) plus the current row;
    only meaningful when ``df`` carries the union flag column (see
    window_union.py).

    ``keep_order``: retain the internal ``_ORD``/``_RID`` columns so a
    SECOND window over the same (partition, order) relation reuses the
    same tiebreak ids (the fused multi-window path, window_union.py
    ``flagged_union``) — the caller drops them after the last window.
    """
    df, framed_ws, plain_ws = _specs_window(df, wdef, reuse_order)
    parts = [F.col(p) if isinstance(p, str) else p for p in wdef.partition_by]

    array_specs: dict[str, AggSpec] = {}
    native_cols: dict[str, Column] = {}
    needs_array_frame = wdef.needs_array_eval() or instance_not_in_window
    for name, spec in aggs.items():
        if spec.name == "lag":
            # lag/at are PARTITION-relative on every path: the reference
            # compiles them to their own plain ROWS(offset..current) window,
            # ignoring the frame's range bounds, upper ends, MAXSIZE,
            # EXCLUDE CURRENT_ROW/TIME (window_attributes.yaml case 0,
            # test_current_row.yaml cases 24-27 pin this; DIVERGENCES #11)
            native_cols[name] = _lag_col(
                spec.fields["v"], spec.params["offset"], wdef, parts,
                plain_ws, instance_not_in_window,
            )
            continue
        use_native = spec.native is not None and not needs_array_frame
        if (
            use_native
            and spec.name in ("first_value", "last_value")
            and wdef.rows_range is not None
        ):
            # native RANGE frames order by the range value only, so F.first/
            # F.last over same-ts peers resolve in shuffle order — route to
            # the array path, whose elements are pinned (ord, rid)
            use_native = False
        if use_native:
            fields = {k: v for k, v in spec.fields.items()}
            native_cols[name] = spec.native(fields, framed_ws)
        elif spec.array is not None:
            array_specs[name] = spec
        else:
            raise ValueError(f"aggregate {spec.name} has no lowering for this window")

    if array_specs:
        # one collect_list shared by every array-path aggregate
        struct_fields: list[Column] = [F.col(_ORD).alias("o"), F.col(_RID).alias("r")]
        if instance_not_in_window:
            struct_fields.append(F.col(_FLAG).alias("g"))
        # r13: aggregates sharing a field EXPRESSION share one struct slot —
        # *_cate specs over the same (value, category) otherwise duplicate
        # both fields per agg, widening every collected element AND giving
        # each agg's reduction a textually different input tree (defeating
        # common-subexpression sharing of the eligible-filter/distinct work)
        field_slot: dict[str, str] = {}
        slot_of: dict[tuple[int, str], str] = {}
        for i, (name, spec) in enumerate(array_specs.items()):
            for fk, fexpr in spec.fields.items():
                key = str(fexpr)
                if key not in field_slot:
                    field_slot[key] = f"f{i}_{fk}"
                    struct_fields.append(fexpr.alias(field_slot[key]))
                slot_of[(i, fk)] = field_slot[key]
        struct_col = F.struct(*struct_fields)
        if instance_not_in_window:
            # collect ONLY union-side rows (collect_list skips the nulls),
            # over an unbounded frame for ROWS — a physical-slot bound
            # can't account for interleaved ineligible main rows (same fix
            # as _lag_col) — then append the current row's own struct when
            # it's a main row. The eligibility filter below then never has
            # anything to drop, and the take_last bound re-applies the
            # frame size to ELIGIBLE rows.
            elems = F.collect_list(
                F.when(F.col(_FLAG) == F.lit(0), struct_col)
            ).over(_collect_window(wdef, parts, unbounded_rows=True))
            elems = F.when(
                F.col(_FLAG) == F.lit(1), F.concat(elems, F.array(struct_col))
            ).otherwise(elems)
        else:
            elems = F.collect_list(struct_col).over(_collect_window(wdef, parts))
        # pin (ord, rid) element order. ROWS/unbounded collects run over a
        # window ORDERED BY (_ORD, _RID) — WindowExec feeds collect_list in
        # frame order, so the array is already (o, r)-ascending (and the
        # INSTANCE_NOT_IN_WINDOW concat appends the current row, the frame
        # maximum, keeping it ascending). Only the RANGE collect (ordered by
        # _ORD alone) leaves same-ts peers in shuffle order and pays the
        # per-comparison interpreted sort (r13 — the sort was ~35% of the
        # udaf_window_cate stage).
        if wdef.rows_range is not None:
            elems = F.array_sort(
                elems,
                lambda a, b: F.when(a["o"] < b["o"], -1)
                .when(a["o"] > b["o"], 1)
                .when(a["r"] < b["r"], -1)
                .when(a["r"] > b["r"], 1)
                .otherwise(0),
            )

        if (
            wdef.exclude_current_time
            and wdef.rows is not None
            and not instance_not_in_window
        ):
            # overflow DETECTION (DIVERGENCES #6, hardened r7): the bounded
            # collect holds rows+slack physical rows; if the current row has
            # more than `slack` same-ts predecessors AND the buffer is full
            # (partition start not reached), eligible older rows may have
            # been pushed out — raise instead of silently under-counting
            # (a skewed ts column, e.g. a constant 1970 epoch default,
            # trips this in production). Costs one row_number sharing the
            # existing partition sort.
            run_rn = F.row_number().over(
                Window.partitionBy(*parts, F.col(_ORD)).orderBy(F.col(_RID))
            )
            full = F.size(elems) >= F.lit(wdef.rows + wdef.lookback_slack + 1)
            overflow = ((run_rn - F.lit(1)) > F.lit(wdef.lookback_slack)) & full
            elems = F.when(
                overflow,
                F.raise_error(
                    F.lit(
                        "EXCLUDE CURRENT_TIME: a same-ts run exceeds "
                        f"lookback_slack={wdef.lookback_slack}; the bounded "
                        "lookback would silently drop eligible rows — raise "
                        "WindowDef.lookback_slack above the longest same-ts "
                        "run per key (DIVERGENCES #6)"
                    )
                ),
            ).otherwise(elems)

        cur_ord, cur_rid = F.col(_ORD), F.col(_RID)
        # positional upper end: drop the physical tail before eligibility
        # filters (frame bounds select physical rows; attributes filter
        # within them)
        if wdef.end_rows:
            elems = F.slice(
                elems, 1, F.greatest(F.size(elems) - wdef.end_rows, F.lit(0))
            )
        conds = []
        if wdef.end_range is not None:
            e_ms = parse_interval_ms(wdef.end_range)
            conds.append(lambda e: e["o"] <= cur_ord - F.lit(e_ms))
        if wdef.exclude_current_time:
            conds.append(lambda e: (e["o"] < cur_ord) | (e["r"] == cur_rid))
        if instance_not_in_window:
            conds.append(lambda e: (e["g"] == F.lit(0)) | (e["r"] == cur_rid))
        if wdef.maxsize is not None or wdef.rows is not None:
            # rows-count frames re-check the range bound after filtering
            if wdef.rows_range is not None:
                r = wdef.range_ms - (1 if wdef.open_preceding else 0)
                conds.append(lambda e: e["o"] >= cur_ord - F.lit(r))
        if conds:
            elems = F.filter(elems, lambda e: _and_all(c(e) for c in conds))
        # rows frames: keep exactly the last (n+1-k) eligible rows
        if wdef.rows is not None:
            n = wdef.rows - (1 if wdef.open_preceding else 0)
            elems = _take_last(elems, F.lit(n + 1 - wdef.end_rows))
        if wdef.maxsize is not None:
            k = wdef.maxsize + (1 if wdef.exclude_current_row else 0)
            elems = _take_last(elems, F.lit(k))
        if wdef.exclude_current_row:
            elems = F.filter(elems, lambda e: e["r"] != cur_rid)
        if wdef.maxsize is not None and wdef.exclude_current_row:
            elems = _take_last(elems, F.lit(wdef.maxsize))

        # each accessor carries its field's type: a DECIMAL sum folds in
        # its own result type (``_arr_sum``)
        slot_types = {
            f.name: f.dataType
            for f in df.select(struct_col.alias("s")).schema[0].dataType.fields
        }
        for i, (name, spec) in enumerate(array_specs.items()):
            getter = lambda fk, i=i: _slot(slot_of[(i, fk)], slot_types)
            native_cols[name] = spec.array(elems, getter)

    # select("*") (not a by-name re-projection) so joined inputs keep their
    # alias qualifiers and duplicate column names survive untouched
    drops = ([] if keep_order else [_ORD, _RID]) + ([] if keep_flag else [_FLAG])
    return df.select("*", *[c.alias(n) for n, c in native_cols.items()]).drop(*drops)


def _lag_col(
    v: Column,
    offset: int,
    wdef: WindowDef,
    parts: list[Column],
    plain_ws: WindowSpec,
    instance_not_in_window: bool,
) -> Column:
    """Partition-relative lag/at (DIVERGENCES #11): value ``offset``
    physical rows back in (ts, rid) partition order — the reference gives
    lag its own ROWS(offset..current) window, so frame attributes never
    apply. Plain windows lower to codegen'd ``F.lag``.

    UNION windows with INSTANCE_NOT_IN_WINDOW keep the union composition
    (previous rows are drawn from union-side rows + the current row, the
    request-mode REQUEST_UNION shape). For offset >= 1 the answer is the
    offset-th most recent UNION row at-or-before the current row (counting
    the current row as position 0) — exactly ``lag(union_only, offset)
    IGNORE NULLS``: the strictly-before non-null scan lands on union rank
    u-offset for union rows (u counts the current row) and u-offset+1 for
    main rows, matching the REQUEST_UNION frame in both cases. Exact and
    linear — replaced the bounded collect that silently truncated after
    ``lookback_slack`` interleaved main rows (VERDICT r3 item 7); the
    struct wrapper keeps union rows with NULL values occupying their slot.
    """
    if offset == 0:
        return v  # at(col, 0) == current row
    if not instance_not_in_window:
        if wdef.exclude_current_time:
            # EXCLUDE CURRENT_TIME *does* apply to lag (unlike every other
            # frame attribute): the answer is the offset-th most recent row
            # with ts strictly before the current row's ts — same-ts rows,
            # even earlier-inserted ones, are skipped
            # (window_attributes.yaml id 9: same-ts predecessor -> NULL).
            # collect positioned-before rows, index past the current ts-run.
            lag_rows_w = (
                Window.partitionBy(*parts)
                .orderBy(F.col(_ORD).asc(), F.col(_RID).asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            # lag_rows_w is ORDERED BY (_ORD, _RID): collect_list gathers in
            # frame order, so the array is already (o, r)-ascending (r13 —
            # dropped the redundant interpreted-comparator array_sort)
            elems = F.collect_list(
                F.struct(F.col(_ORD).alias("o"), F.col(_RID).alias("r"), v.alias("v"))
            ).over(lag_rows_w)
            run_rn = F.row_number().over(
                Window.partitionBy(*parts, F.col(_ORD)).orderBy(F.col(_RID))
            )
            idx = F.size(elems) - run_rn - F.lit(offset) + 1
            return F.when(idx >= 1, F.element_at(elems, idx)["v"])
        return F.lag(v, offset).over(plain_ws)
    lag_w = Window.partitionBy(*parts).orderBy(F.col(_ORD).asc(), F.col(_RID).asc())
    vu = F.when(F.col(_FLAG) == F.lit(0), F.struct(v.alias("v")))
    return _lag_ignore_nulls(vu, offset).over(lag_w)["v"]


def _lag_ignore_nulls(v: Column, offset: int) -> Column:
    """``lag(v, offset) IGNORE NULLS`` — the Scala ``functions.lag`` has an
    ignoreNulls overload (since Spark 3.2) that pyspark doesn't surface (as
    of 4.1), so cross the py4j bridge for it. Codegen'd offset-window
    function; no frame, no collect.

    Classic-JVM only: relies on ``spark._jvm`` / ``Column._jc``, which do
    not exist under Spark Connect — fail loudly there instead of with an
    opaque AttributeError (ADVICE r4). Revisit once pyspark surfaces the
    ignoreNulls overload natively."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if getattr(spark, "_jvm", None) is None or not hasattr(v, "_jc"):
        raise NotImplementedError(
            "lag(... IGNORE NULLS) needs the classic py4j bridge "
            "(Scala functions.lag ignoreNulls overload); not available "
            "under Spark Connect until pyspark exposes it"
        )

    try:
        from pyspark.sql.classic.column import Column as _JCol
    except ImportError:  # pre-4.0 layout
        from pyspark.sql.column import Column as _JCol  # type: ignore

    jc = spark._jvm.org.apache.spark.sql.functions.lag(v._jc, offset, None, True)
    return _JCol(jc)


def _and_all(conds) -> Column:
    out = None
    for c in conds:
        out = c if out is None else (out & c)
    return out
