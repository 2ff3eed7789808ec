"""The ``*_cate`` aggregate family (sum/count/avg/min/max by category,
``*_cate_where``, ``top_n_{key,value}_*_cate_where``, and the ratio-cate
pair) — split from :mod:`openmldb_spark.functions.aggregates` (house
<=900-line module bar, r9 verdict hygiene note); the import surface is
unchanged: everything here re-exports through ``aggregates`` via the
star-import at its foot.

Reference: ``hybridse/src/udf/default_defs/*_by_category_def.cc`` (see
the section headers below for per-family file:line cites).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from openmldb_spark.functions.aggregates import (
    AggSpec,
    ColumnOrName,
    _arr_avg,
    _arr_count,
    _arr_max,
    _arr_min,
    _arr_sum,
    _bind,
    _c,
    _group_via_collect,
    _nn,
)


# ---------------------------------------------------------------------------
# category family: *_cate (ref: default_defs/{sum,avg,min,max,count}_by_category_def.cc)
# ---------------------------------------------------------------------------

_CATE_AGGS: dict[str, Callable[[Column], Column]] = {
    "sum": _arr_sum,
    "count": lambda a: _arr_count(a).cast("long"),
    "avg": _arr_avg,
    "min": _arr_min,
    "max": _arr_max,
}


# _bind (imported above): the eligible-row filter would otherwise run once
# per category key plus once per distinct-key scan — O(K·frame) per row


def _fmt_num(x: Column) -> Column:
    """Format an aggregate value the way the reference prints it
    (std::to_string): fractional types as '%f' with 6 decimals
    ('1.100000'), integral types plainly ('2'). The input Column's dtype
    isn't knowable at construction, so dispatch on runtime typeof — both
    arms analyze for any numeric (test_udaf_function.yaml ids 20-37)."""
    return F.when(
        F.call_function("typeof", x).isin("float", "double"),
        F.format_string("%.6f", x.cast("double")),
    ).otherwise(x.cast("string"))


def _cate_arr(
    agg: str,
    n: Optional[int] = None,
    order: str = "key_asc",
) -> Callable[[Column, Callable], Column]:
    """Build the array reduction for a *_cate family member.

    ``order``: key_asc (plain cate), key_desc (top_n_key_*), value_desc
    (top_n_value_*). Rows with NULL category key are skipped; rows whose
    condition field is false/null are skipped (cond pre-gated into 'v').
    """
    agg_fn = _CATE_AGGS[agg]

    def arr(e: Column, f: Callable) -> Column:
        def body(eligible: Column) -> Column:
            ks = F.array_sort(F.array_distinct(F.transform(eligible, f("k"))))
            groups = F.transform(
                ks,
                lambda k: F.struct(
                    k.alias("k"),
                    agg_fn(
                        F.transform(F.filter(eligible, lambda s: f("k")(s) == k), f("v"))
                    ).alias("v"),
                ),
            )
            if order == "key_desc":
                groups = F.reverse(groups)
            elif order == "value_desc":
                # reference outputs the top-n set by reverse-iterating a set
                # ordered (value asc, key asc) — so ties print key DESCENDING
                # (containers.h OutputTopNByValue + DefaultPairCmp)
                groups = F.array_sort(
                    groups,
                    lambda a, b: F.when(a["v"] > b["v"], -1)
                    .when(a["v"] < b["v"], 1)
                    .when(a["k"] > b["k"], -1)
                    .when(a["k"] < b["k"], 1)
                    .otherwise(0),
                )
            if n is not None:
                groups = F.slice(groups, 1, n)
            return F.array_join(
                F.transform(
                    groups,
                    lambda s: F.concat(s["k"].cast("string"), F.lit(":"), _fmt_num(s["v"])),
                ),
                ",",
            )

        return _bind(
            F.filter(e, lambda s: f("k")(s).isNotNull() & f("v")(s).isNotNull()), body
        )

    return arr


def _cate_spec(
    name: str,
    agg: str,
    value: ColumnOrName,
    cat: ColumnOrName,
    cond: Optional[Column] = None,
    n: Optional[int] = None,
    order: str = "key_asc",
) -> AggSpec:
    v = _c(value)
    if agg == "avg":
        v = v.cast("double")
    if cond is not None:
        v = F.when(cond, v)
    fields = {"v": v, "k": _c(cat)}
    arr = _cate_arr(agg, n=n, order=order)
    return AggSpec(
        name,
        fields,
        native=None,
        array=arr,
        group=lambda f: _group_via_collect(arr, f),
    )


def sum_cate(value: ColumnOrName, cat: ColumnOrName) -> AggSpec:
    """'k1:v1,k2:v2' sorted by key asc (ref: sum_by_category_def.cc:223-246)."""
    return _cate_spec("sum_cate", "sum", value, cat)


def count_cate(value: ColumnOrName, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("count_cate", "count", value, cat)


def avg_cate(value: ColumnOrName, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("avg_cate", "avg", value, cat)


def min_cate(value: ColumnOrName, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("min_cate", "min", value, cat)


def max_cate(value: ColumnOrName, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("max_cate", "max", value, cat)


def sum_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName) -> AggSpec:
    """(ref: sum_by_category_def.cc:248-274)"""
    return _cate_spec("sum_cate_where", "sum", value, cat, cond=cond)


def count_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("count_cate_where", "count", value, cat, cond=cond)


def avg_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("avg_cate_where", "avg", value, cat, cond=cond)


def min_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("min_cate_where", "min", value, cat, cond=cond)


def max_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName) -> AggSpec:
    return _cate_spec("max_cate_where", "max", value, cat, cond=cond)


def top_n_key_sum_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    """Top-n category keys in key-descending order
    (ref: sum_by_category_def.cc:276-306)."""
    return _cate_spec("top_n_key_sum_cate_where", "sum", value, cat, cond=cond, n=n, order="key_desc")


def top_n_key_count_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_key_count_cate_where", "count", value, cat, cond=cond, n=n, order="key_desc")


def top_n_key_avg_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_key_avg_cate_where", "avg", value, cat, cond=cond, n=n, order="key_desc")


def top_n_key_min_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_key_min_cate_where", "min", value, cat, cond=cond, n=n, order="key_desc")


def top_n_key_max_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_key_max_cate_where", "max", value, cat, cond=cond, n=n, order="key_desc")


def top_n_value_sum_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    """Top-n groups by aggregate value desc (ref: sum_by_category_def.cc:308-338)."""
    return _cate_spec("top_n_value_sum_cate_where", "sum", value, cat, cond=cond, n=n, order="value_desc")


def top_n_value_count_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_value_count_cate_where", "count", value, cat, cond=cond, n=n, order="value_desc")


def top_n_value_avg_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_value_avg_cate_where", "avg", value, cat, cond=cond, n=n, order="value_desc")


def top_n_value_min_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_value_min_cate_where", "min", value, cat, cond=cond, n=n, order="value_desc")


def top_n_value_max_cate_where(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    return _cate_spec("top_n_value_max_cate_where", "max", value, cat, cond=cond, n=n, order="value_desc")


def _ratio_cate_arr(n: int, by_value: bool) -> Callable[[Column, Callable], Column]:
    """Array reduction for the ratio-cate family: per category, ratio =
    count(rows where cond true) / count(rows), over rows with non-null key
    AND non-null value (cond-null rows count only in the denominator).
    Output 'k:%f' joined by ',' — top-n keys desc (key variant) or top-n
    ratios desc with key-desc ties (value variant); n<0 = unbounded, n=0 or
    empty input = '' (ref: aggregate_def.cc:160-290, golden YAML
    cases/function/function/test_udaf_function.yaml:2724-2766)."""

    def arr(e: Column, f: Callable) -> Column:
        def body(eligible: Column) -> Column:
            ks = F.array_sort(F.array_distinct(F.transform(eligible, f("k"))))

            def ratio(k: Column) -> Column:
                # F.filter keeps only rows whose predicate is true — a NULL
                # condition is excluded from the numerator, as in the
                # reference. The per-key group is bound once: it feeds both
                # the hit count and the denominator.
                return _bind(
                    F.filter(eligible, lambda s: f("k")(s) == k),
                    lambda grp: F.size(F.filter(grp, lambda s: f("c")(s))).cast(
                        "double"
                    )
                    / F.size(grp),
                )

            groups = F.transform(
                ks, lambda k: F.struct(k.alias("k"), ratio(k).alias("v"))
            )
            return _ratio_fmt(groups, n, by_value)

        return _bind(
            F.filter(e, lambda s: f("k")(s).isNotNull() & f("v")(s).isNotNull()), body
        )

    return arr


def _ratio_fmt(groups: Column, n: int, by_value: bool) -> Column:
    if by_value:
        groups = F.array_sort(
            groups,
            lambda a, b: F.when(a["v"] > b["v"], -1)
            .when(a["v"] < b["v"], 1)
            .when(a["k"] > b["k"], -1)
            .when(a["k"] < b["k"], 1)
            .otherwise(0),
        )
    else:
        groups = F.reverse(groups)
    if n >= 0:
        groups = F.slice(groups, 1, n)
    return F.array_join(
        F.transform(
            groups,
            lambda s: F.concat(
                s["k"].cast("string"), F.lit(":"), F.format_string("%f", s["v"])
            ),
        ),
        ",",
    )


def _ratio_cate_spec(name: str, value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int, by_value: bool) -> AggSpec:
    fields = {"v": _c(value), "c": cond, "k": _c(cat)}
    arr = _ratio_cate_arr(n, by_value)
    return AggSpec(
        name,
        fields,
        native=None,
        array=arr,
        group=lambda f: _group_via_collect(arr, f),
    )


def top_n_key_ratio_cate(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    """Top-n category keys (desc) with per-category cond-match ratio
    (ref: aggregate_def.cc:410-443; '_where' spelling is an accepted alias —
    the reference docs use both)."""
    return _ratio_cate_spec("top_n_key_ratio_cate", value, cond, cat, n, by_value=False)


def top_n_value_ratio_cate(value: ColumnOrName, cond: Column, cat: ColumnOrName, n: int) -> AggSpec:
    """Top-n per-category cond-match ratios (ratio desc, ties key desc)
    (ref: aggregate_def.cc:445-471)."""
    return _ratio_cate_spec("top_n_value_ratio_cate", value, cond, cat, n, by_value=True)


