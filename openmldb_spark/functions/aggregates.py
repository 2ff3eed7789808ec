"""UDAF library — the aggregate surface of the reference, Spark-first.

Each aggregate is an :class:`AggSpec` with up to three lowering strategies:

- ``native(fields, ws)``   -> Column evaluated with Spark's WindowExec
  (whole-stage-codegen'd JVM path; used whenever the window has no special
  attribute like MAXSIZE / EXCLUDE CURRENT_TIME).
- ``array(elems, f)``      -> Column reducing a pre-collected
  ``array<struct>`` of frame rows via higher-order functions
  (``filter`` / ``transform`` / ``aggregate`` — still JVM-side, no Python).
  Used for window attributes Spark frames can't express, and for the
  dialect-specific UDAFs (``*_cate``, ``top``, ``ew_avg``, ``drawdown`` ...).
- ``group(fields)``        -> Column for ``df.groupBy(...).agg(...)``;
  order-insensitive aggregates only.

Semantics pinned from the reference (cited per aggregate):

- ``hybridse/src/udf/default_udf_library.cc:2708-3110`` (core UDAFs)
- ``hybridse/src/udf/default_defs/sum_by_category_def.cc:220-340``
  (``*_cate`` families: "K:V" joined by ",", keys ascending)
- ``hybridse/src/udf/default_defs/feature_zero_def.cc:390-560``
  (``top1_ratio``, ``topn_frequency``: count desc, tie -> smaller key first)
- ``hybridse/src/udf/default_defs/aggregate_def.cc:110-130`` (Shannon
  entropy, log2, nulls skipped, empty -> NULL)
- ``hybridse/src/udf/default_defs/window_functions_def.cc:207-360``
  (``lag``/``at``, ``first_value``, ``last_value``, ``nth_value_where``)

Null behavior: value nulls are skipped by sum/min/max/count/avg/median/etc.;
empty input gives NULL (except ``count`` -> 0, ``top1_ratio`` -> 0.0).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable, Optional, Union

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DecimalType

ColumnOrName = Union[Column, str]


def _c(x: ColumnOrName) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _nn(arr: Column) -> Column:
    """Drop null elements."""
    return F.filter(arr, lambda x: x.isNotNull())


def _bind(col: Column, fn: Callable[[Column], Column]) -> Column:
    """Evaluate ``col`` ONCE and pass it to ``fn`` as a bound lambda
    variable (single-element transform + element_at). HOFs are
    CodegenFallback: every *textual* reference to a subtree re-evaluates it
    at runtime — including subtrees captured inside another HOF's lambda,
    which re-evaluate PER ELEMENT. Binding turns both into a single
    evaluation (r13)."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _empty_null(arr: Column, out: Column) -> Column:
    """NULL when no non-null input (reference UDAF convention)."""
    return F.when(F.size(arr) > 0, out)


def _arr_sum(arr: Column, dtype: Optional[DataType] = None) -> Column:
    # zero = first_elem * 0L keeps fractional element types (double sums
    # stay double, a -0.0 stays -0.0) and widens integral ones to bigint,
    # as the native window sum does: an int frame sum must not wrap where
    # the native one does not. A DECIMAL merge widens past any zero, so a
    # decimal element ``dtype`` folds in the native sum's result type.
    def fold(nn: Column) -> Column:
        if isinstance(dtype, DecimalType):
            t = DecimalType(min(dtype.precision + 10, 38), dtype.scale)
            return F.aggregate(nn, F.lit(0).cast(t), lambda a, x: (a + x).cast(t))
        return F.aggregate(nn, F.element_at(nn, 1) * F.lit(0).cast("long"), lambda a, x: a + x)

    return _bind(_nn(arr), lambda nn: _empty_null(nn, fold(nn)))


def _arr_count(arr: Column) -> Column:
    return F.size(_nn(arr))


def _arr_avg(arr: Column) -> Column:
    return _bind(
        _nn(arr),
        lambda nn: _empty_null(
            nn,
            F.aggregate(nn, F.lit(0.0), lambda a, x: a + x.cast("double"))
            / F.size(nn),
        ),
    )


def _arr_min(arr: Column) -> Column:
    return F.array_min(arr)


def _arr_max(arr: Column) -> Column:
    return F.array_max(arr)


@dataclass
class AggSpec:
    """One aggregate call, abstract over the three lowering strategies.

    ``fields`` are per-row expressions the aggregate consumes; the window /
    group machinery materializes them as temp columns (so conditions and
    category keys are evaluated *per input row*, before any collection).
    """

    name: str
    fields: dict[str, Column]
    #: (resolved_fields, WindowSpec) -> Column. None => needs array path.
    native: Optional[Callable[[dict[str, Column], WindowSpec], Column]] = None
    #: (elems array<struct>, field getter) -> Column. Always present. The
    #: getter maps a field name to its element accessor, which may carry
    #: the field's Spark type as ``dtype``.
    array: Optional[Callable[[Column, Callable], Column]] = None
    #: resolved_fields -> Column for groupBy().agg(). None => window-only.
    group: Optional[Callable[[dict[str, Column]], Column]] = None
    #: order-sensitive aggregates (ew_avg, drawdown, lag, ...) need sorted frames
    order_sensitive: bool = dc_field(default=False)
    #: spec-specific parameters the window engine needs for native lowering
    #: (e.g. lag's offset for the frame-relative bound check)
    params: dict = dc_field(default_factory=dict)

    def as_group(self) -> Column:
        """This aggregate as a groupBy().agg() column."""
        if self.group is None:
            raise ValueError(f"{self.name} is window-only (order-sensitive)")
        return self.group(self.fields)


# ---------------------------------------------------------------------------
# plain aggregates (native Spark window/group functions + array fallback)
# ---------------------------------------------------------------------------


def sum_(value: ColumnOrName) -> AggSpec:
    def arr(e, f):
        get = f("v")
        return _arr_sum(F.transform(e, get), getattr(get, "dtype", None))

    return AggSpec(
        "sum",
        {"v": _c(value)},
        native=lambda f, ws: F.sum(f["v"]).over(ws),
        array=arr,
        group=lambda f: F.sum(f["v"]),
    )


def min_(value: ColumnOrName) -> AggSpec:
    return AggSpec(
        "min",
        {"v": _c(value)},
        native=lambda f, ws: F.min(f["v"]).over(ws),
        array=lambda e, f: _arr_min(F.transform(e, f("v"))),
        group=lambda f: F.min(f["v"]),
    )


def max_(value: ColumnOrName) -> AggSpec:
    return AggSpec(
        "max",
        {"v": _c(value)},
        native=lambda f, ws: F.max(f["v"]).over(ws),
        array=lambda e, f: _arr_max(F.transform(e, f("v"))),
        group=lambda f: F.max(f["v"]),
    )


def count_(value: ColumnOrName) -> AggSpec:
    return AggSpec(
        "count",
        {"v": _c(value)},
        native=lambda f, ws: F.count(f["v"]).over(ws),
        array=lambda e, f: _arr_count(F.transform(e, f("v"))).cast("long"),
        group=lambda f: F.count(f["v"]),
    )


def count_all() -> AggSpec:
    """COUNT(*) — counts rows, nulls included."""
    return AggSpec(
        "count_all",
        {"v": F.lit(1)},
        native=lambda f, ws: F.count(F.lit(1)).over(ws),
        array=lambda e, f: F.size(e).cast("long"),
        group=lambda f: F.count(F.lit(1)),
    )


def avg_(value: ColumnOrName) -> AggSpec:
    return AggSpec(
        "avg",
        {"v": _c(value).cast("double")},
        native=lambda f, ws: F.avg(f["v"]).over(ws),
        array=lambda e, f: _arr_avg(F.transform(e, f("v"))),
        group=lambda f: F.avg(f["v"]),
    )


def _moment_array(e: Column, f: Callable, kind: str) -> Column:
    # both vals and mean are BOUND lambda variables: `mean` previously sat
    # inside the ss-fold's merge lambda, and interpreted HOF evaluation
    # re-ran the full sum fold once PER ELEMENT — O(n^2) per row (r13)
    def with_vals(vals: Column) -> Column:
        n = F.size(vals)

        def with_mean(mean: Column) -> Column:
            ss = F.aggregate(
                vals, F.lit(0.0), lambda a, x: a + (x - mean) * (x - mean)
            )
            if kind in ("var_samp", "stddev_samp"):
                out = F.when(n > 1, ss / (n - 1))
            else:
                out = F.when(n > 0, ss / n)
            if kind.startswith("stddev"):
                out = F.sqrt(out)
            return out

        return _bind(F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / n, with_mean)

    return _bind(_nn(F.transform(e, f("v"))), with_vals)


def stddev_(value: ColumnOrName) -> AggSpec:
    """stddev / std / stddev_samp — sample standard deviation."""
    return AggSpec(
        "stddev",
        {"v": _c(value).cast("double")},
        native=lambda f, ws: F.stddev_samp(f["v"]).over(ws),
        array=lambda e, f: _moment_array(e, f, "stddev_samp"),
        group=lambda f: F.stddev_samp(f["v"]),
    )


def stddev_pop(value: ColumnOrName) -> AggSpec:
    return AggSpec(
        "stddev_pop",
        {"v": _c(value).cast("double")},
        native=lambda f, ws: F.stddev_pop(f["v"]).over(ws),
        array=lambda e, f: _moment_array(e, f, "stddev_pop"),
        group=lambda f: F.stddev_pop(f["v"]),
    )


def var_samp(value: ColumnOrName) -> AggSpec:
    """var_samp / variance."""
    return AggSpec(
        "var_samp",
        {"v": _c(value).cast("double")},
        native=lambda f, ws: F.var_samp(f["v"]).over(ws),
        array=lambda e, f: _moment_array(e, f, "var_samp"),
        group=lambda f: F.var_samp(f["v"]),
    )


def var_pop(value: ColumnOrName) -> AggSpec:
    return AggSpec(
        "var_pop",
        {"v": _c(value).cast("double")},
        native=lambda f, ws: F.var_pop(f["v"]).over(ws),
        array=lambda e, f: _moment_array(e, f, "var_pop"),
        group=lambda f: F.var_pop(f["v"]),
    )


def distinct_count(value: ColumnOrName) -> AggSpec:
    """distinct_count — COUNT(DISTINCT v), with NULL counted as its own
    distinct value (ref semantics: test_udaf_function.yaml id 5 — a frame
    {4, 4, NULL} has distinct_count 2; SQL COUNT(DISTINCT) would say 1)."""

    def _null_term(v: Column):
        return F.max(F.when(v.isNull(), 1).otherwise(0))

    return AggSpec(
        "distinct_count",
        {"v": _c(value)},
        native=lambda f, ws: (
            F.size(F.collect_set(f["v"]).over(ws))
            + F.coalesce(_null_term(f["v"]).over(ws), F.lit(0))  # empty frame
        ).cast("long"),
        array=lambda e, f: F.size(F.array_distinct(F.transform(e, f("v")))).cast("long"),
        group=lambda f: (F.count_distinct(f["v"]) + _null_term(f["v"])).cast("long"),
    )


def median_(value: ColumnOrName) -> AggSpec:
    """median — interpolated for even counts (ref: default_udf_library.cc:3052)."""

    def arr(e: Column, f: Callable) -> Column:
        def body(vals: Column) -> Column:
            n = F.size(vals)
            half = F.floor(n / 2).cast("int")
            odd = F.element_at(vals, half + 1)
            even = (F.element_at(vals, half) + F.element_at(vals, half + 1)) / 2.0
            return F.when(n == 0, F.lit(None).cast("double")).when(
                n % 2 == 1, odd.cast("double")
            ).otherwise(even)

        # the sorted array is referenced up to five times — bind it once
        return _bind(F.array_sort(_nn(F.transform(e, f("v")))), body)

    return AggSpec(
        "median",
        {"v": _c(value).cast("double")},
        native=None,  # exact median has no native window form
        array=arr,
        group=lambda f: F.median(f["v"]),
    )


# ---------------------------------------------------------------------------
# conditional family: *_where (ref: default_udf_library.cc:2904-3025)
# ---------------------------------------------------------------------------


def _where_spec(name: str, value: ColumnOrName, cond: Column, native_fn, arr_fn) -> AggSpec:
    gated = F.when(cond, _c(value))
    return AggSpec(
        name,
        {"v": gated},
        native=lambda f, ws: native_fn(f["v"]).over(ws),
        array=lambda e, f: arr_fn(F.transform(e, f("v"))),
        group=lambda f: native_fn(f["v"]),
    )


def sum_where(value: ColumnOrName, cond: Column) -> AggSpec:
    return _where_spec("sum_where", value, cond, F.sum, _arr_sum)


def count_where(value: ColumnOrName, cond: Column) -> AggSpec:
    return _where_spec("count_where", value, cond, F.count, lambda a: _arr_count(a).cast("long"))


def avg_where(value: ColumnOrName, cond: Column) -> AggSpec:
    s = _where_spec("avg_where", _c(value).cast("double"), cond, F.avg, _arr_avg)
    return s


def min_where(value: ColumnOrName, cond: Column) -> AggSpec:
    return _where_spec("min_where", value, cond, F.min, _arr_min)


def max_where(value: ColumnOrName, cond: Column) -> AggSpec:
    return _where_spec("max_where", value, cond, F.max, _arr_max)


# ---------------------------------------------------------------------------
# top / frequency family
# ---------------------------------------------------------------------------


def top(value: ColumnOrName, k: int) -> AggSpec:
    """top(value, k): top-k values desc, comma-joined string
    (ref: default_udf_library.cc:3026)."""

    def arr(e: Column, f: Callable) -> Column:
        vals = _nn(F.transform(e, f("v")))
        topk = F.slice(F.reverse(F.array_sort(vals)), 1, k)
        return F.array_join(F.transform(topk, lambda x: x.cast("string")), ",")

    return AggSpec(
        "top",
        {"v": _c(value)},
        native=None,
        array=arr,
        group=lambda f: F.array_join(
            F.transform(
                F.slice(F.reverse(F.array_sort(F.collect_list(f["v"]))), 1, k),
                lambda x: x.cast("string"),
            ),
            ",",
        ),
    )


def _key_counts(keys: Column) -> Column:
    """array<struct<k, cnt>> of distinct non-null keys with counts.
    The null-filtered array is bound once — it is probed once per distinct
    key and would otherwise be re-filtered per key."""
    return _bind(
        _nn(keys),
        lambda nn: F.transform(
            F.array_distinct(nn),
            lambda k: F.struct(
                k.alias("k"), F.size(F.filter(nn, lambda x: x == k)).alias("cnt")
            ),
        ),
    )


def _top1_ratio_fold(keys: Column) -> Column:
    """top1_ratio over an element array (nulls already filtered)."""

    def body(ks: Column) -> Column:
        mx = F.array_max(F.transform(_key_counts(ks), lambda s: s["cnt"]))
        return F.when(F.size(ks) == 0, F.lit(0.0)).otherwise(
            mx.cast("double") / F.size(ks)
        )

    return _bind(keys, body)


def _topn_frequency_fold(all_keys: Column, n: int) -> Column:
    """top-n keys by frequency desc (tie: smaller key first), comma-joined.

    Reference Output (feature_zero_def.cc:519-586): always emits exactly n
    comma-joined entries, padding missing ranks with the literal "NULL";
    only a zero-update state (empty frame / empty split list, where top_n
    was never recorded) emits "". NULL key values update the state (so
    padding applies) but are never counted."""
    def _fmt(k: Column) -> Column:
        # the reference renders float/double keys with %f ("1.100000" —
        # v1::format_string); typeof() is constant-folded per column type
        return F.when(
            F.typeof(k).isin("float", "double"), F.format_string("%f", k)
        ).otherwise(k.cast("string"))

    def body(ak: Column) -> Column:
        ordered = F.array_sort(
            _key_counts(ak),  # _key_counts drops the NULL keys from counts
            lambda a, b: F.when(a["cnt"] > b["cnt"], -1)
            .when(a["cnt"] < b["cnt"], 1)
            .when(a["k"] < b["k"], -1)
            .when(a["k"] > b["k"], 1)
            .otherwise(0),
        )
        topn = F.transform(F.slice(ordered, 1, n), lambda s: _fmt(s["k"]))
        joined = _bind(
            topn,
            lambda tn: F.array_join(
                F.concat(tn, F.array_repeat(F.lit("NULL"), F.lit(n) - F.size(tn))),
                ",",
            ),
        )
        return F.when(F.size(ak) == 0, F.lit("")).otherwise(joined)

    return _bind(all_keys, body)


def top1_ratio(key: ColumnOrName) -> AggSpec:
    """freq of the most frequent non-null key / total non-null count; 0.0 if empty
    (ref: feature_zero_def.cc:425-470)."""

    def arr(e: Column, f: Callable) -> Column:
        return _top1_ratio_fold(_nn(F.transform(e, f("v"))))

    return AggSpec(
        "top1_ratio",
        {"v": _c(key)},
        native=None,
        array=arr,
        group=lambda f: _group_via_collect(arr, f),
    )


def topn_frequency(key: ColumnOrName, n: int) -> AggSpec:
    """top-n keys by frequency desc (tie: smaller key first), comma-joined
    (ref: feature_zero_def.cc:475-560)."""

    def arr(e: Column, f: Callable) -> Column:
        # pass the UNFILTERED values: NULL keys still count as updates
        # (padding applies); _topn_frequency_fold drops them from counts
        return _topn_frequency_fold(F.transform(e, f("v")), n)

    return AggSpec(
        "topn_frequency",
        {"v": _c(key)},
        native=None,
        array=arr,
        group=lambda f: _group_via_collect(arr, f),
    )


def fuse_list_agg(
    outer: str,
    inner: AggSpec,
    *,
    delim: Optional[str] = None,
    n: Optional[int] = None,
) -> AggSpec:
    """UDAF-over-list-UDAF fusion: an outer aggregate applied to the LIST a
    window-split aggregate produces (``distinct_count(window_split(c1,
    ","))``, ``join(window_split_by_key(..), " ")``, ``top1_ratio(
    window_split_by_value(..))``, ``topn_frequency(.., 3)`` — reference
    feature_zero_def.cc list UDAFs composing over window_split outputs,
    cases/function/test_feature_zero_function.yaml ids 1-5,
    test_fz_sql.yaml id 0, test_udaf_function.yaml ids 43/47-49).

    Spark-first: the inner spec already reduces the window frame to one
    flattened element array per row, so the outer aggregate is a pure
    ARRAY FOLD over that column — no second aggregation pass, no UDF; the
    fused spec stays whole-stage-codegen eligible on the array path."""

    def fold(arr: Column) -> Column:
        if outer == "join":
            return F.array_join(arr, delim)
        if outer == "count":
            return F.size(arr).cast("long")
        if outer == "distinct_count":
            return F.size(F.array_distinct(arr)).cast("long")
        if outer == "top1_ratio":
            return _top1_ratio_fold(_nn(arr))
        if outer == "topn_frequency":
            return _topn_frequency_fold(_nn(arr), n)
        raise ValueError(f"unsupported list-fold aggregate {outer!r}")

    def arr_fn(e: Column, f: Callable) -> Column:
        return fold(inner.array(e, f))

    return AggSpec(
        f"{outer}({inner.name})",
        dict(inner.fields),
        native=None,
        array=arr_fn,
        group=lambda fields: _group_via_collect(arr_fn, fields),
        order_sensitive=inner.order_sensitive,
    )


# ---------------------------------------------------------------------------
# order-sensitive window aggregates
# ---------------------------------------------------------------------------


def ew_avg(value: ColumnOrName, alpha: float) -> AggSpec:
    """Exponentially-weighted average, pandas ewm(adjust=True, ignore_na=True)
    (ref: default_udf_library.cc:2876-2902). Weight (1-alpha)^i on the i-th
    most recent non-null value. alpha NULL/0 falls back to plain avg."""

    if not alpha:
        return avg_(value)

    def arr(e: Column, f: Callable) -> Column:
        # elems are frame rows in ts-ascending order; most recent last.
        vals = F.reverse(_nn(F.transform(e, f("v"))))
        acc0 = F.struct(
            F.lit(0.0).alias("num"), F.lit(0.0).alias("den"), F.lit(1.0).alias("w")
        )
        res = F.aggregate(
            vals,
            acc0,
            lambda a, x: F.struct(
                (a["num"] + a["w"] * x).alias("num"),
                (a["den"] + a["w"]).alias("den"),
                (a["w"] * F.lit(1.0 - alpha)).alias("w"),
            ),
            lambda a: F.when(a["den"] > 0, a["num"] / a["den"]),
        )
        return res

    return AggSpec(
        "ew_avg",
        {"v": _c(value).cast("double")},
        native=None,
        array=arr,
        group=None,
        order_sensitive=True,
    )


def drawdown(value: ColumnOrName) -> AggSpec:
    """Max decline ratio from a peak to a subsequent value within the frame;
    negative values ignored (ref: default_udf_library.cc:3074-3105)."""

    def arr(e: Column, f: Callable) -> Column:
        def body(vals: Column) -> Column:
            acc0 = F.struct(F.lit(0.0).alias("peak"), F.lit(0.0).alias("dd"))
            res = F.aggregate(
                vals,
                acc0,
                lambda a, x: F.struct(
                    F.greatest(a["peak"], x).alias("peak"),
                    F.when(
                        (a["peak"] > 0) & ((a["peak"] - x) / a["peak"] > a["dd"]),
                        (a["peak"] - x) / a["peak"],
                    )
                    .otherwise(a["dd"])
                    .alias("dd"),
                ),
                lambda a: a["dd"],
            )
            return _empty_null(vals, res)

        return _bind(
            F.filter(F.transform(e, f("v")), lambda x: x.isNotNull() & (x >= 0)), body
        )

    return AggSpec(
        "drawdown",
        {"v": _c(value).cast("double")},
        native=None,
        array=arr,
        group=None,
        order_sensitive=True,
    )


def entropy(value: ColumnOrName) -> AggSpec:
    """Shannon entropy, log2, nulls skipped, empty -> NULL
    (ref: aggregate_def.cc:110-130, registered :386)."""

    def arr(e: Column, f: Callable) -> Column:
        def body(keys: Column) -> Column:
            total = F.size(keys)
            h = F.aggregate(
                _key_counts(keys),
                F.lit(0.0),
                lambda a, s: a
                - (s["cnt"] / total) * F.log2(s["cnt"].cast("double") / total),
            )
            return F.when(total > 0, h)

        return _bind(_nn(F.transform(e, f("v"))), body)

    return AggSpec(
        "entropy",
        {"v": _c(value)},
        native=None,
        array=arr,
        group=lambda f: _group_via_collect(arr, f),
    )


def _group_via_collect(arr_fn: Callable, f: dict[str, Column]) -> Column:
    """Reuse an array reduction in groupBy().agg() via collect_list."""
    elems = F.collect_list(F.struct(*[v.alias(k) for k, v in f.items()]))
    return arr_fn(elems, lambda name: (lambda s: s[name]))


def lag(value: ColumnOrName, offset: int) -> AggSpec:
    """lag/at: value `offset` physical rows before the current row in
    partition (ts, rid) order (ref: window_functions_def.cc:207-273).
    The reference compiles lag to its own ROWS(offset..current) window —
    frame range bounds, upper ends, MAXSIZE and EXCLUDE CURRENT_ROW/TIME
    do NOT apply (window_attributes.yaml case 0, test_current_row.yaml
    cases 24-27). The window engine intercepts this spec and lowers it
    partition-relative on every path (DIVERGENCES #11); the array form
    below is only for direct out-of-engine use."""
    return AggSpec(
        "lag",
        {"v": _c(value)},
        native=lambda f, ws: F.lag(f["v"], offset).over(ws),
        # within a frame: current row is the last element; out-of-range -> NULL
        array=lambda e, f: F.when(
            F.size(e) > offset, F.element_at(F.transform(e, f("v")), F.size(e) - offset)
        ),
        group=None,
        order_sensitive=True,
        params={"offset": offset},
    )


def first_value(value: ColumnOrName, ignore_nulls: bool = False) -> AggSpec:
    """Value from the first row of the window frame (ts-ascending; ref:
    window_functions_def.cc:290)."""

    def arr(e: Column, f: Callable) -> Column:
        vals = F.transform(e, f("v"))
        if ignore_nulls:
            vals = _nn(vals)
        return F.element_at(vals, 1)

    return AggSpec(
        "first_value",
        {"v": _c(value)},
        native=lambda f, ws: F.first(f["v"], ignorenulls=ignore_nulls).over(ws),
        array=arr,
        group=None,
        order_sensitive=True,
    )


def last_value(value: ColumnOrName, ignore_nulls: bool = False) -> AggSpec:
    """Value from the last row of the window frame (ref:
    window_functions_def.cc:325)."""

    def arr(e: Column, f: Callable) -> Column:
        vals = F.transform(e, f("v"))
        if ignore_nulls:
            vals = _nn(vals)
        # empty frame (bounded upper end / all-null + ignore_nulls):
        # element_at index 0 is invalid in Spark — guard to NULL
        return _bind(
            vals, lambda v: F.when(F.size(v) > 0, F.element_at(v, F.size(v)))
        )

    return AggSpec(
        "last_value",
        {"v": _c(value)},
        native=lambda f, ws: F.last(f["v"], ignorenulls=ignore_nulls).over(ws),
        array=arr,
        group=None,
        order_sensitive=True,
    )


def nth_value_where(value: ColumnOrName, idx: int, cond: Column) -> AggSpec:
    """Value of the idx-th frame row matching cond; idx from 1 (frame start)
    or -1 (frame end) (ref: window_functions_def.cc:344)."""

    def arr(e: Column, f: Callable) -> Column:
        matching = F.filter(e, lambda s: F.coalesce(f("c")(s), F.lit(False)))

        def body(vals: Column) -> Column:
            pos = F.lit(idx) if idx > 0 else F.size(vals) + 1 + idx
            return F.when(
                (pos >= 1) & (pos <= F.size(vals)), F.element_at(vals, pos)
            )

        return _bind(F.transform(matching, f("v")), body)

    return AggSpec(
        "nth_value_where",
        {"v": _c(value), "c": cond},
        native=None,
        array=arr,
        group=None,
        order_sensitive=True,
    )


# the *_cate family lives in aggregates_cate.py (house <=900-line bar);
# star-imported so the `aggregates as A` surface is unchanged
from openmldb_spark.functions.aggregates_cate import *  # noqa: F401,F403,E402


# ---------------------------------------------------------------------------
# feature-zero window-split family
# (ref: default_defs/feature_zero_def.cc:591-668 — window_split,
#  window_split_by_key, window_split_by_value: split every window row's
#  string, concatenate the pieces; element order = the reference's window
#  iteration order, rows ts-DESC (current row first), pieces within a row
#  left-to-right — pinned by test_feature_zero_function.yaml id 1 /
#  test_fz_sql.yaml id 0 goldens: "k3:v3 k1:v1 k2:v2" for rows 1,2)
# ---------------------------------------------------------------------------


def _fz_split_spec(name: str, value: ColumnOrName, piece) -> AggSpec:
    def arr(e: Column, f: Callable) -> Column:
        vals = F.filter(F.transform(F.reverse(e), f("v")), lambda v: v.isNotNull())
        return F.flatten(F.transform(vals, piece))

    return AggSpec(
        name,
        {"v": _c(value)},
        native=None,
        array=arr,
        group=lambda fields: _group_via_collect(arr, fields),
        order_sensitive=True,
    )


def _empty_piece(v: Column) -> Column:
    """Empty-delimiter guard: the reference's UpdateSplit adds nothing when
    delimeter->size_ == 0 (feature_zero_def.cc:186), so every row
    contributes an empty piece list (test_feature_zero_function id 5)."""
    return F.expr("CAST(array() AS array<string>)")


def window_split(value: ColumnOrName, delim: str) -> AggSpec:
    from openmldb_spark.functions.scalar import _escape_re

    if delim == "":
        return _fz_split_spec("window_split", value, _empty_piece)
    pat = _escape_re(delim)
    return _fz_split_spec("window_split", value, lambda v: F.split(v, pat))


def window_split_by_key(value: ColumnOrName, item_delim: str, kv_delim: str) -> AggSpec:
    from openmldb_spark.functions.scalar import _escape_re

    if item_delim == "" or kv_delim == "":
        return _fz_split_spec("window_split_by_key", value, _empty_piece)
    ip, kp = _escape_re(item_delim), _escape_re(kv_delim)

    def piece(v: Column) -> Column:
        return F.transform(
            F.filter(F.split(v, ip), lambda kv: F.size(F.split(kv, kp)) >= 2),
            lambda kv: F.split(kv, kp)[0],
        )

    return _fz_split_spec("window_split_by_key", value, piece)


def window_split_by_value(value: ColumnOrName, item_delim: str, kv_delim: str) -> AggSpec:
    from openmldb_spark.functions.scalar import _escape_re

    if item_delim == "" or kv_delim == "":
        return _fz_split_spec("window_split_by_value", value, _empty_piece)
    ip, kp = _escape_re(item_delim), _escape_re(kv_delim)

    def piece(v: Column) -> Column:
        return F.transform(
            F.filter(F.split(v, ip), lambda kv: F.size(F.split(kv, kp)) >= 2),
            lambda kv: F.split(kv, kp)[1],
        )

    return _fz_split_spec("window_split_by_value", value, piece)
