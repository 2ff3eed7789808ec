"""UDAF semantics pinned to the reference's documented examples
(default_udf_library.cc / feature_zero_def.cc / sum_by_category_def.cc)."""

import datetime

import pytest
from pyspark.sql import functions as F

from openmldb_spark.functions import aggregates as A
from openmldb_spark.operators.window import WindowDef, window_agg


def _one_window(spark, values, spec, dtype="long"):
    """Run spec over a single unbounded window of `values` (ts = index);
    return the last row's aggregate (= aggregate over all values)."""
    rows = [(i, "k", float(v) if dtype == "double" else v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, f"id int, pk string, v {dtype}")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"agg": spec})
    return [r["agg"] for r in out.orderBy("id").collect()][-1]


def test_ew_avg_reference_example(spark):
    # ref doc: values 0..4, alpha 0.5 -> 3.161290 (default_udf_library.cc:2897)
    got = _one_window(spark, [0, 1, 2, 3, 4], A.ew_avg("v", 0.5), dtype="double")
    assert abs(got - 3.161290) < 1e-5


def test_drawdown_reference_example(spark):
    # ref doc: 1,8,5,2,10,4 -> 0.75 (decline 8 -> 2)
    got = _one_window(spark, [1, 8, 5, 2, 10, 4], A.drawdown("v"), dtype="double")
    assert abs(got - 0.75) < 1e-9


def test_top_reference_example(spark):
    # ref doc: 1,2,3,4,4 + top(v,3) -> "4,4,3"
    got = _one_window(spark, [1, 2, 3, 4, 4], A.top("v", 3))
    assert got == "4,4,3"


def test_median_even_odd(spark):
    assert _one_window(spark, [1, 2, 3, 4], A.median_("v")) == 2.5
    assert _one_window(spark, [1, 2, 3], A.median_("v")) == 2.0


def test_entropy_reference_example(spark):
    # ref doc: 1,1,2,3 -> 1.5 (aggregate_def.cc:386-403); log2
    got = _one_window(spark, [1, 1, 2, 3], A.entropy("v"), dtype="double")
    assert abs(got - 1.5) < 1e-9


def test_sum_cate_reference_example(spark):
    # ref doc: (0,x)(1,y)(2,x)(3,y)(4,x) -> "x:6,y:4"
    rows = [(i, "k", v, c) for i, (v, c) in enumerate([(0, "x"), (1, "y"), (2, "x"), (3, "y"), (4, "x")])]
    df = spark.createDataFrame(rows, "id int, pk string, v long, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"agg": A.sum_cate("v", "c")})
    assert [r["agg"] for r in out.orderBy("id").collect()][-1] == "x:6,y:4"


def test_sum_cate_where_reference_example(spark):
    # ref doc: values 0..4, cond T/F/F/T/T, cats x/y/x/y/x -> "x:4,y:3"
    data = [(0, True, "x"), (1, False, "y"), (2, False, "x"), (3, True, "y"), (4, True, "x")]
    rows = [(i, "k", v, b, c) for i, (v, b, c) in enumerate(data)]
    df = spark.createDataFrame(rows, "id int, pk string, v long, b boolean, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"agg": A.sum_cate_where("v", F.col("b"), "c")})
    assert [r["agg"] for r in out.orderBy("id").collect()][-1] == "x:4,y:3"


def test_top_n_key_sum_cate_where_reference_example(spark):
    # ref doc -> "z:11,y:4" (keys descending, top 2)
    data = [
        (0, True, "x"), (1, True, "y"), (2, False, "x"), (3, True, "y"),
        (4, False, "x"), (5, True, "z"), (6, True, "z"),
    ]
    rows = [(i, "k", v, b, c) for i, (v, b, c) in enumerate(data)]
    df = spark.createDataFrame(rows, "id int, pk string, v long, b boolean, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"agg": A.top_n_key_sum_cate_where("v", F.col("b"), "c", 2)})
    assert [r["agg"] for r in out.orderBy("id").collect()][-1] == "z:11,y:4"


def test_top_n_value_sum_cate_where_reference_example(spark):
    # ref doc -> "z:11,x:4" (agg values descending, top 2)
    data = [
        (0, True, "x"), (1, True, "y"), (2, False, "x"), (3, False, "y"),
        (4, True, "x"), (5, True, "z"), (6, True, "z"),
    ]
    rows = [(i, "k", v, b, c) for i, (v, b, c) in enumerate(data)]
    df = spark.createDataFrame(rows, "id int, pk string, v long, b boolean, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"agg": A.top_n_value_sum_cate_where("v", F.col("b"), "c", 2)})
    assert [r["agg"] for r in out.orderBy("id").collect()][-1] == "z:11,x:4"


def test_top_n_value_cate_where_tie_prints_key_desc(spark):
    # equal aggregate values: reference reverse-iterates a (value asc, key
    # asc) set, so ties print key DESCENDING (containers.h OutputTopNByValue)
    data = [(5, True, "x"), (5, True, "z"), (5, True, "y")]
    rows = [(i, "k", v, b, c) for i, (v, b, c) in enumerate(data)]
    df = spark.createDataFrame(rows, "id int, pk string, v long, b boolean, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"agg": A.top_n_value_sum_cate_where("v", F.col("b"), "c", 2)})
    assert [r["agg"] for r in out.orderBy("id").collect()][-1] == "z:5,y:5"


def test_top_n_ratio_cate_reference_doctest(spark):
    # aggregate_def.cc:410-471 doctest: values 0..6, conds, cats x/x/x/y/y/z/z
    data = [
        (0, True, "x"), (2, True, "x"), (4, True, "x"),
        (1, True, "y"), (3, False, "y"), (5, True, "z"), (6, True, "z"),
    ]
    rows = [(i, "k", v, b, c) for i, (v, b, c) in enumerate(data)]
    df = spark.createDataFrame(rows, "id int, pk string, v long, b boolean, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(
        df,
        wd,
        {
            "bykey": A.top_n_key_ratio_cate("v", F.col("b"), "c", 2),
            "byval": A.top_n_value_ratio_cate("v", F.col("b"), "c", 2),
        },
    )
    last = out.orderBy("id").collect()[-1]
    assert last["bykey"] == "z:1.000000,y:0.500000"
    assert last["byval"] == "z:1.000000,x:1.000000"


def test_top_n_ratio_cate_yaml_case66_edges(spark):
    # cases/function/function/test_udaf_function.yaml id=66: NULL category
    # skipped; n=0 -> ''; negative n -> unbounded; value-ties -> key desc
    data = [
        (200, True, "a"), (300, True, "b"), (200, True, None),
        (10, False, "b"), (101, True, "c"),
    ]
    rows = [(i, "k", v, b, c) for i, (v, b, c) in enumerate(data)]
    df = spark.createDataFrame(rows, "id int, pk string, v long, b boolean, c string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(
        df,
        wd,
        {
            "byval2": A.top_n_value_ratio_cate("v", F.col("b"), "c", 2),
            "bykey2": A.top_n_key_ratio_cate("v", F.col("b"), "c", 2),
            "byval_full": A.top_n_value_ratio_cate("v", F.col("b"), "c", -1),
            "bykey_full": A.top_n_key_ratio_cate("v", F.col("b"), "c", -2),
            "byval_empty": A.top_n_value_ratio_cate("v", F.col("b"), "c", 0),
        },
    )
    last = out.orderBy("id").collect()[-1]
    # groups: a 1/1, b 1/2, c 1/1 (NULL-cat row skipped)
    assert last["byval2"] == "c:1.000000,a:1.000000"
    assert last["bykey2"] == "c:1.000000,b:0.500000"
    assert last["byval_full"] == "c:1.000000,a:1.000000,b:0.500000"
    assert last["bykey_full"] == "c:1.000000,b:0.500000,a:1.000000"
    assert last["byval_empty"] == ""


def test_top1_ratio_and_topn_frequency(spark):
    vals = ["a", "a", "a", "b", "b", "c"]
    rows = [(i, "k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, pk string, v string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(
        df, wd, {"r": A.top1_ratio("v"), "f": A.topn_frequency("v", 2)}
    )
    last = out.orderBy("id").collect()[-1]
    assert abs(last["r"] - 0.5) < 1e-9
    assert last["f"] == "a,b"


def test_topn_frequency_tie_smaller_key_first(spark):
    vals = ["b", "b", "a", "a", "c"]
    rows = [(i, "k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, pk string, v string")
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(df, wd, {"f": A.topn_frequency("v", 2)})
    # counts a=2, b=2 tie -> smaller key first (feature_zero_def.cc cmp)
    assert out.orderBy("id").collect()[-1]["f"] == "a,b"


def test_where_family_group(spark):
    rows = [(1, 10.0, True), (2, 20.0, True), (3, 30.0, False), (4, None, True)]
    df = spark.createDataFrame(rows, "id int, v double, b boolean")
    got = df.agg(
        A.sum_where("v", F.col("b")).as_group().alias("s"),
        A.count_where("v", F.col("b")).as_group().alias("c"),
        A.avg_where("v", F.col("b")).as_group().alias("a"),
        A.min_where("v", F.col("b")).as_group().alias("mn"),
        A.max_where("v", F.col("b")).as_group().alias("mx"),
    ).collect()[0]
    assert got["s"] == 30.0 and got["c"] == 2 and got["a"] == 15.0
    assert got["mn"] == 10.0 and got["mx"] == 20.0


def test_nulls_skipped(spark):
    got = _one_window(spark, [1, None, 3], A.sum_("v"))
    assert got == 4
    got = _one_window(spark, [None, None], A.count_("v"))
    assert got == 0
    got = _one_window(spark, [None, None], A.sum_("v"))
    assert got is None


def test_nth_value_where(spark):
    rows = [(1, 10, True), (2, 20, False), (3, 30, True), (4, 40, True)]
    df = spark.createDataFrame(rows, "id int, v long, b boolean")
    df = df.withColumn("pk", F.lit("k"))
    wd = WindowDef(partition_by=["pk"], order_by="id", unbounded=True)
    out = window_agg(
        df,
        wd,
        {
            "n1": A.nth_value_where("v", 1, F.col("b")),
            "n2": A.nth_value_where("v", 2, F.col("b")),
            "nm1": A.nth_value_where("v", -1, F.col("b")),
        },
    )
    last = out.orderBy("id").collect()[-1]
    assert last["n1"] == 10 and last["n2"] == 30 and last["nm1"] == 40


def test_group_agg_having_dataframe_path(spark):
    # DataFrame-path HAVING (a filter on the aggregate) — kept here after
    # the `having` gate query was retired into sql_group for the 50-row cap.
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 10)], "k string, v long"
    )
    out = (
        df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .filter(F.count(F.lit(1)) >= 2)
        .collect()
    )
    assert len(out) == 1 and out[0]["k"] == "a" and out[0]["s"] == 6


# ---------------------------------------------------------------------------
# *_cate window outputs pinned on adversarial inputs: NaN / ±inf / -0.0
# doubles, 1e300 and 5e-07 under "%.6f", astral-plane and private-use string
# keys, bigint wraparound, float32 folds and overflow, int / bool / date /
# timestamp keys, null values / keys / conditions, and empty frames ("")
# ---------------------------------------------------------------------------

_BIG = "1" + "0" * 300  # the integer digits of 1e300 under "%.6f"
_W4 = WindowDef(partition_by=["g"], order_by="seq", rows=4)


def _adversarial_double_rows():
    nan, inf = float("nan"), float("inf")
    vals = [1.5, -0.0, 0.0, nan, -inf, inf, None, 0.125, 1 / 3, 2.0, -7.25,
            1e300, -1e300, 5e-324, 0.15, 0.25, 1 / 128, None, 3.5, 0.0000005]
    keys = ["a", "b", None, "a", "\U00010000", "\ue000", "b", "a", "z", "b",
            "a", "c", "c", "a", "b", "a", "c", "a", "", "b"]
    return [(i % 3, i, v, k) for i, (v, k) in enumerate(zip(vals, keys))]


def _ratio_rows():
    rows = [
        (i % 3, i, None if i % 11 == 7 else float(i),
         None if i % 13 == 5 else f"k{i % 4}")
        for i in range(40)
    ]
    return rows + [(0, 100, float("nan"), "k0")]  # NaN is not null: eligible


_D = datetime.date

# one case per family over the same rows, so a wrong output names its family
_ADV_AGGS = {
    "sum_cate": lambda: A.sum_cate("v", "k"),
    "count_cate": lambda: A.count_cate("v", "k"),
    "avg_cate": lambda: A.avg_cate("v", "k"),
    "min_cate": lambda: A.min_cate("v", "k"),
    "max_cate": lambda: A.max_cate("v", "k"),
    "top2_key_sum": lambda: A.top_n_key_sum_cate_where("v", F.col("v") > 0, "k", 2),
    "top2_val_sum": lambda: A.top_n_value_sum_cate_where("v", F.col("v") > 0, "k", 2),
    "top2_val_max": lambda: A.top_n_value_max_cate_where(
        "v", F.col("v").isNotNull(), "k", 2
    ),
}

_ADV_WANT = {
    "sum_cate": [
        "a:1.500000", "b:-0.000000", "", "a:NaN", "b:-0.000000,\U00010000:NaN",
        "\ue000:NaN", "a:NaN", "a:0.125000,b:-0.000000,\U00010000:NaN",
        "z:0.333333,\ue000:NaN", "a:NaN,b:2.000000",
        "a:-7.125000,b:-0.000000,\U00010000:NaN",
        f"c:{_BIG}.000000,z:0.333333,\ue000:NaN",
        f"a:NaN,b:2.000000,c:-{_BIG}.000000",
        "a:-7.125000,b:-0.000000,\U00010000:NaN",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:NaN",
        f"a:NaN,b:2.000000,c:-{_BIG}.000000",
        "a:-7.125000,c:0.007813,\U00010000:NaN",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:NaN",
        f":3.500000,a:0.250000,b:2.000000,c:-{_BIG}.000000",
        "a:-7.125000,b:0.000001,c:0.007813",
    ],
    "count_cate": [
        "a:1", "b:1", "", "a:2", "b:1,\U00010000:1", "\ue000:1", "a:2",
        "a:1,b:1,\U00010000:1", "z:1,\ue000:1", "a:2,b:1",
        "a:2,b:1,\U00010000:1", "c:1,z:1,\ue000:1", "a:2,b:1,c:1",
        "a:3,b:1,\U00010000:1", "b:1,c:1,z:1,\ue000:1", "a:2,b:1,c:1",
        "a:3,c:1,\U00010000:1", "b:1,c:1,z:1,\ue000:1", ":1,a:1,b:1,c:1",
        "a:3,b:1,c:1",
    ],
    "avg_cate": [
        "a:1.500000", "b:0.000000", "", "a:NaN",
        "b:0.000000,\U00010000:-Infinity", "\ue000:Infinity", "a:NaN",
        "a:0.125000,b:0.000000,\U00010000:-Infinity",
        "z:0.333333,\ue000:Infinity", "a:NaN,b:2.000000",
        "a:-3.562500,b:0.000000,\U00010000:-Infinity",
        f"c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f"a:NaN,b:2.000000,c:-{_BIG}.000000",
        "a:-2.375000,b:0.000000,\U00010000:-Infinity",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f"a:NaN,b:2.000000,c:-{_BIG}.000000",
        "a:-2.375000,c:0.007813,\U00010000:-Infinity",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f":3.500000,a:0.250000,b:2.000000,c:-{_BIG}.000000",
        "a:-2.375000,b:0.000001,c:0.007813",
    ],
    "min_cate": [
        "a:1.500000", "b:-0.000000", "", "a:1.500000",
        "b:-0.000000,\U00010000:-Infinity", "\ue000:Infinity", "a:1.500000",
        "a:0.125000,b:-0.000000,\U00010000:-Infinity",
        "z:0.333333,\ue000:Infinity", "a:1.500000,b:2.000000",
        "a:-7.250000,b:-0.000000,\U00010000:-Infinity",
        f"c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f"a:1.500000,b:2.000000,c:-{_BIG}.000000",
        "a:-7.250000,b:-0.000000,\U00010000:-Infinity",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f"a:0.250000,b:2.000000,c:-{_BIG}.000000",
        "a:-7.250000,c:0.007813,\U00010000:-Infinity",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f":3.500000,a:0.250000,b:2.000000,c:-{_BIG}.000000",
        "a:-7.250000,b:0.000001,c:0.007813",
    ],
    "max_cate": [
        "a:1.500000", "b:-0.000000", "", "a:NaN",
        "b:-0.000000,\U00010000:-Infinity", "\ue000:Infinity", "a:NaN",
        "a:0.125000,b:-0.000000,\U00010000:-Infinity",
        "z:0.333333,\ue000:Infinity", "a:NaN,b:2.000000",
        "a:0.125000,b:-0.000000,\U00010000:-Infinity",
        f"c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f"a:NaN,b:2.000000,c:-{_BIG}.000000",
        "a:0.125000,b:-0.000000,\U00010000:-Infinity",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f"a:NaN,b:2.000000,c:-{_BIG}.000000",
        "a:0.125000,c:0.007813,\U00010000:-Infinity",
        f"b:0.150000,c:{_BIG}.000000,z:0.333333,\ue000:Infinity",
        f":3.500000,a:0.250000,b:2.000000,c:-{_BIG}.000000",
        "a:0.125000,b:0.000001,c:0.007813",
    ],
    "top2_key_sum": [
        "a:1.500000", "", "", "a:NaN", "", "\ue000:NaN", "a:NaN", "a:0.125000",
        "\ue000:NaN,z:0.333333", "b:2.000000,a:NaN", "a:0.125000",
        "\ue000:NaN,z:0.333333", "b:2.000000,a:NaN", "a:0.125000",
        "\ue000:NaN,z:0.333333", "b:2.000000,a:NaN", "c:0.007813,a:0.125000",
        "\ue000:NaN,z:0.333333", "b:2.000000,a:0.250000",
        "c:0.007813,b:0.000001",
    ],
    "top2_val_sum": [
        "a:1.500000", "", "", "a:NaN", "", "\ue000:NaN", "a:NaN", "a:0.125000",
        "\ue000:NaN,z:0.333333", "a:NaN,b:2.000000", "a:0.125000",
        f"\ue000:NaN,c:{_BIG}.000000", "a:NaN,b:2.000000", "a:0.125000",
        f"\ue000:NaN,c:{_BIG}.000000", "a:NaN,b:2.000000",
        "a:0.125000,c:0.007813", f"\ue000:NaN,c:{_BIG}.000000",
        ":3.500000,b:2.000000", "a:0.125000,c:0.007813",
    ],
    "top2_val_max": [
        "a:1.500000", "b:-0.000000", "", "a:NaN",
        "b:-0.000000,\U00010000:-Infinity", "\ue000:Infinity", "a:NaN",
        "a:0.125000,b:-0.000000", "\ue000:Infinity,z:0.333333",
        "a:NaN,b:2.000000", "a:0.125000,b:-0.000000",
        f"\ue000:Infinity,c:{_BIG}.000000", "a:NaN,b:2.000000",
        "a:0.125000,b:-0.000000", f"\ue000:Infinity,c:{_BIG}.000000",
        "a:NaN,b:2.000000", "a:0.125000,c:0.007813",
        f"\ue000:Infinity,c:{_BIG}.000000", ":3.500000,b:2.000000",
        "a:0.125000,c:0.007813",
    ],
}

CATE_WINDOW_CASES = [
    *(
        pytest.param(
            _adversarial_double_rows(),
            "g int, seq long, v double, k string",
            _W4,
            lambda n=n: {n: _ADV_AGGS[n]()},
            {n: want},
            id=f"adversarial_doubles-{n}",
        )
        for n, want in _ADV_WANT.items()
    ),
    pytest.param(
        [
            (0, 0, 2**62, 1.5, "a"),
            (0, 1, 2**62, 2.5, "a"),  # long sum wraps in-frame
            (0, 2, -5, float("nan"), "b"),
            (0, 3, None, 0.125, None),
            (0, 4, 7, None, "b"),
            (1, 5, 2**31 - 1, -0.0, "x"),
            (1, 6, 1, 0.0, "x"),
            (1, 7, -(2**60), 3.0e38, "y"),
            (1, 8, -(2**60), 3.0e38, "y"),  # float32 sum overflows to inf
        ],
        "g int, seq long, lv long, fv float, k string",
        _W4,
        lambda: {
            "s_l": A.sum_cate("lv", "k"),
            "mn_f": A.min_cate("fv", "k"),
            "s_f": A.sum_cate("fv", "k"),
            "a_f": A.avg_cate("fv", "k"),
        },
        {
            "s_l": [
                "a:4611686018427387904", "a:-9223372036854775808",
                "a:-9223372036854775808,b:-5", "a:-9223372036854775808,b:-5",
                "a:-9223372036854775808,b:2", "x:2147483647", "x:2147483648",
                "x:2147483648,y:-1152921504606846976",
                "x:2147483648,y:-2305843009213693952",
            ],
            "mn_f": [
                "a:1.500000", "a:1.500000", "a:1.500000,b:NaN", "a:1.500000,b:NaN",
                "a:1.500000,b:NaN", "x:-0.000000", "x:-0.000000",
                "x:-0.000000,y:300000000549775580000000000000000000000.000000",
                "x:-0.000000,y:300000000549775580000000000000000000000.000000",
            ],
            "s_f": [
                "a:1.500000", "a:4.000000", "a:4.000000,b:NaN", "a:4.000000,b:NaN",
                "a:4.000000,b:NaN", "x:-0.000000", "x:0.000000",
                "x:0.000000,y:300000000549775580000000000000000000000.000000",
                "x:0.000000,y:Infinity",
            ],
            "a_f": [
                "a:1.500000", "a:2.000000", "a:2.000000,b:NaN", "a:2.000000,b:NaN",
                "a:2.000000,b:NaN", "x:0.000000", "x:0.000000",
                "x:0.000000,y:300000000549775580000000000000000000000.000000",
                "x:0.000000,y:300000000549775580000000000000000000000.000000",
            ],
        },
        id="bigint_wrap_and_float32",
    ),
    pytest.param(
        [
            (0, 0, 1.0, 10, True, _D(2020, 1, 2)),
            (0, 1, 2.0, 2, False, _D(2019, 12, 31)),
            (0, 2, 3.0, 10, True, _D(2020, 1, 2)),
            (0, 3, 4.0, None, None, None),
            (0, 4, 5.0, -3, False, _D(2021, 6, 1)),
        ],
        "g int, seq long, v double, ki long, kb boolean, kd date",
        _W4,
        lambda: {
            "by_int": A.sum_cate("v", "ki"),  # numeric key order, not "10"<"2"
            "by_bool": A.count_cate("v", "kb"),
            "by_date": A.max_cate("v", "kd"),
        },
        {
            "by_int": [
                "10:1.000000", "2:2.000000,10:1.000000", "2:2.000000,10:4.000000",
                "2:2.000000,10:4.000000", "-3:5.000000,2:2.000000,10:4.000000",
            ],
            "by_bool": [
                "true:1", "false:1,true:1", "false:1,true:2", "false:1,true:2",
                "false:2,true:2",
            ],
            "by_date": [
                "2020-01-02:1.000000", "2019-12-31:2.000000,2020-01-02:1.000000",
                "2019-12-31:2.000000,2020-01-02:3.000000",
                "2019-12-31:2.000000,2020-01-02:3.000000",
                "2019-12-31:2.000000,2020-01-02:3.000000,2021-06-01:5.000000",
            ],
        },
        id="int_bool_date_keys",
    ),
    pytest.param(
        [(0, 0, 1.0, datetime.datetime(2020, 1, 1))],
        "g int, seq long, v double, kt timestamp",
        _W4,
        lambda: {"s": A.sum_cate("v", "kt")},
        {
            "s": [
                "2020-01-01 00:00:00:1.000000",
            ],
        },
        id="timestamp_key",
    ),
    pytest.param(
        _ratio_rows(),
        "g int, seq long, v double, k string",
        _W4,
        lambda: {
            "kr": A.top_n_key_ratio_cate("v", F.col("v") > 20, "k", 2),
            "vr": A.top_n_value_ratio_cate("v", F.col("v") > 20, "k", 2),
            "kr_all": A.top_n_key_ratio_cate("v", F.col("v") > 20, "k", -1),
            "vr_zero": A.top_n_value_ratio_cate("v", F.col("v") > 20, "k", 0),
            # null conds count in the denominator only
            "kr_nullc": A.top_n_key_ratio_cate(
                "v", F.when(F.col("seq") % 5 == 0, F.col("v") > 10), "k", 3
            ),
        },
        {
            "kr": [
                "k0:0.000000", "k1:0.000000", "k2:0.000000", "k3:0.000000,k0:0.000000",
                "k1:0.000000,k0:0.000000", "k2:0.000000", "k3:0.000000,k2:0.000000",
                "k1:0.000000,k0:0.000000", "k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000", "k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000", "k3:0.000000,k2:0.000000",
                "k2:0.000000,k1:0.000000", "k3:0.000000,k2:0.000000",
                "k3:0.000000,k2:0.000000", "k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000", "k3:0.000000,k2:0.000000",
                "k3:0.000000,k2:0.000000", "k3:0.000000,k2:0.000000",
                "k3:0.000000,k1:0.500000", "k3:0.000000,k2:0.500000",
                "k3:0.500000,k2:0.000000", "k3:0.000000,k1:1.000000",
                "k3:0.000000,k2:1.000000", "k3:1.000000,k2:0.500000",
                "k3:0.500000,k1:1.000000", "k3:0.000000,k2:1.000000",
                "k3:1.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
                "k3:0.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
                "k3:1.000000,k2:1.000000", "k2:1.000000,k1:1.000000",
                "k3:1.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
                "k2:1.000000,k1:1.000000", "k3:1.000000,k2:1.000000",
                "k3:1.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
            ],
            "vr": [
                "k0:0.000000", "k1:0.000000", "k2:0.000000", "k3:0.000000,k0:0.000000",
                "k1:0.000000,k0:0.000000", "k2:0.000000", "k3:0.000000,k2:0.000000",
                "k1:0.000000,k0:0.000000", "k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000", "k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000", "k3:0.000000,k2:0.000000",
                "k2:0.000000,k1:0.000000", "k3:0.000000,k2:0.000000",
                "k3:0.000000,k2:0.000000", "k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000", "k3:0.000000,k2:0.000000",
                "k3:0.000000,k2:0.000000", "k3:0.000000,k2:0.000000",
                "k1:0.500000,k3:0.000000", "k2:0.500000,k3:0.000000",
                "k3:0.500000,k2:0.000000", "k1:1.000000,k0:0.500000",
                "k2:1.000000,k1:0.500000", "k3:1.000000,k2:0.500000",
                "k1:1.000000,k0:1.000000", "k2:1.000000,k1:1.000000",
                "k3:1.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
                "k2:1.000000,k1:1.000000", "k3:1.000000,k2:1.000000",
                "k3:1.000000,k2:1.000000", "k2:1.000000,k1:1.000000",
                "k3:1.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
                "k2:1.000000,k1:1.000000", "k3:1.000000,k2:1.000000",
                "k3:1.000000,k2:1.000000", "k3:1.000000,k2:1.000000",
            ],
            "kr_all": [
                "k0:0.000000", "k1:0.000000", "k2:0.000000", "k3:0.000000,k0:0.000000",
                "k1:0.000000,k0:0.000000", "k2:0.000000",
                "k3:0.000000,k2:0.000000,k0:0.000000", "k1:0.000000,k0:0.000000",
                "k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k1:0.500000,k0:0.000000",
                "k3:0.000000,k2:0.500000,k1:0.000000,k0:0.000000",
                "k3:0.500000,k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k1:1.000000,k0:0.500000",
                "k3:0.000000,k2:1.000000,k1:0.500000,k0:0.000000",
                "k3:1.000000,k2:0.500000,k1:0.000000,k0:0.000000",
                "k3:0.500000,k1:1.000000,k0:1.000000",
                "k3:0.000000,k2:1.000000,k1:1.000000,k0:0.500000",
                "k3:1.000000,k2:1.000000,k1:0.000000,k0:0.000000",
                "k3:1.000000,k2:1.000000,k1:1.000000,k0:1.000000",
                "k3:0.000000,k2:1.000000,k1:1.000000,k0:1.000000",
                "k3:1.000000,k2:1.000000,k0:0.500000",
                "k3:1.000000,k2:1.000000,k1:1.000000,k0:1.000000",
                "k2:1.000000,k1:1.000000,k0:1.000000",
                "k3:1.000000,k2:1.000000,k0:1.000000",
                "k3:1.000000,k2:1.000000,k1:1.000000,k0:1.000000",
                "k2:1.000000,k1:1.000000,k0:1.000000",
                "k3:1.000000,k2:1.000000,k0:1.000000",
                "k3:1.000000,k2:1.000000,k1:1.000000,k0:1.000000",
                "k3:1.000000,k2:1.000000,k1:1.000000,k0:1.000000",
            ],
            "vr_zero": [""] * 41,
            "kr_nullc": [
                "k0:0.000000", "k1:0.000000", "k2:0.000000", "k3:0.000000,k0:0.000000",
                "k1:0.000000,k0:0.000000", "k2:0.000000",
                "k3:0.000000,k2:0.000000,k0:0.000000", "k1:0.000000,k0:0.000000",
                "k2:0.000000,k0:0.000000", "k3:0.000000,k2:0.000000,k1:0.000000",
                "k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k0:0.000000",
                "k3:0.500000,k2:0.000000,k1:0.000000",
                "k2:0.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:1.000000,k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:1.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:1.000000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:0.500000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:0.500000,k1:0.000000,k0:0.000000",
                "k3:0.000000,k2:0.000000,k1:1.000000",
                "k3:0.000000,k2:0.000000,k1:0.000000",
                "k3:0.000000,k2:1.000000,k1:0.000000",
                "k3:0.000000,k2:0.000000,k1:1.000000",
                "k3:0.000000,k2:0.000000,k0:0.500000",
                "k3:0.000000,k2:1.000000,k1:0.000000",
                "k2:0.000000,k1:1.000000,k0:0.000000",
                "k3:0.500000,k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:1.000000,k1:0.000000",
                "k2:0.000000,k1:0.500000,k0:0.000000",
                "k3:1.000000,k2:0.000000,k0:0.000000",
                "k3:0.000000,k2:1.000000,k1:0.000000",
                "k3:0.000000,k2:1.000000,k1:0.000000",
            ],
        },
        id="ratio_cate",
    ),
    pytest.param(
        _adversarial_double_rows(),
        "g int, seq long, v double, k string",
        # the upper end pushes the first rows' frames before the partition
        # start: the eligible set is empty -> ""
        WindowDef(partition_by=["g"], order_by="seq", rows=4, end_rows=2),
        lambda: {"s": A.sum_cate("v", "k")},
        {
            "s": [
                "", "", "", "", "", "", "a:1.500000", "b:-0.000000", "", "a:NaN",
                "b:-0.000000,\U00010000:NaN", "\ue000:NaN", "a:NaN",
                "a:0.125000,b:-0.000000,\U00010000:NaN", "z:0.333333,\ue000:NaN",
                "a:NaN,b:2.000000", "a:-7.125000,\U00010000:NaN",
                f"c:{_BIG}.000000,z:0.333333,\ue000:NaN",
                f"b:2.000000,c:-{_BIG}.000000", "a:-7.125000",
            ],
        },
        id="empty_frame",
    ),
]


@pytest.mark.parametrize("rows,schema,wdef,aggs,want", CATE_WINDOW_CASES)
def test_cate_window_outputs(spark, rows, schema, wdef, aggs, want):
    out = window_agg(spark.createDataFrame(rows, schema), wdef, aggs())
    got = out.orderBy("seq").collect()
    assert {n: [r[n] for r in got] for n in want} == want
