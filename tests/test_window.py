"""Window engine semantics — golden cases mirroring the reference's YAML
corpus shapes (cases/query/window_query.yaml, cases/function/window/*)."""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.functions import aggregates as A
from openmldb_spark.operators.window import WindowDef, window_agg, parse_interval_ms
from openmldb_spark.operators.window_union import window_union


@pytest.fixture(scope="module")
def t1(spark):
    # FIXTURES.md F2 shape: pk1 in {A,B}, ts stepping 10s
    rows = [
        (1, "A", 1, 1590115420000),
        (2, "A", 2, 1590115430000),
        (3, "A", 3, 1590115440000),
        (4, "A", 4, 1590115450000),
        (5, "A", 5, 1590115460000),
        (6, "B", 6, 1590115420000),
        (7, "B", 7, 1590115430000),
        (8, "B", 8, 1590115440000),
        (9, "B", 9, 1590115450000),
    ]
    return spark.createDataFrame(rows, "id int, pk1 string, col1 long, ts long")


def _col(out, name="s"):
    return {r["id"]: r[name] for r in out.collect()}


def test_rows_frame(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows=2)
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    assert _col(out) == {1: 1, 2: 3, 3: 6, 4: 9, 5: 12, 6: 6, 7: 13, 8: 21, 9: 24}


def test_rows_range_frame(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="20s")
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    assert _col(out) == {1: 1, 2: 3, 3: 6, 4: 9, 5: 12, 6: 6, 7: 13, 8: 21, 9: 24}


def test_open_preceding(spark, t1):
    # OPEN 20s PRECEDING excludes the row exactly 20s back
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="20s", open_preceding=True)
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    assert _col(out) == {1: 1, 2: 3, 3: 5, 4: 7, 5: 9, 6: 6, 7: 13, 8: 15, 9: 17}


def test_exclude_current_row_rows(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows=2, exclude_current_row=True)
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    assert _col(out) == {1: None, 2: 1, 3: 3, 4: 5, 5: 7, 6: None, 7: 6, 8: 13, 9: 15}


def test_exclude_current_row_range(spark, t1):
    wd = WindowDef(
        partition_by=["pk1"], order_by="ts", rows_range="20s", exclude_current_row=True
    )
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    assert _col(out) == {1: None, 2: 1, 3: 3, 4: 5, 5: 7, 6: None, 7: 6, 8: 13, 9: 15}


def test_exclude_current_time(spark):
    # duplicate-ts rows: same-ts peers leave the frame, current row stays
    rows = [
        (1, "A", 1, 1000),
        (2, "A", 2, 2000),
        (3, "A", 4, 2000),  # peer of id=2
        (4, "A", 8, 3000),
    ]
    df = spark.createDataFrame(rows, "id int, pk1 string, col1 long, ts long")
    wd = WindowDef(
        partition_by=["pk1"], order_by="ts", rows_range=10_000, exclude_current_time=True
    )
    out = window_agg(df, wd, {"s": A.sum_("col1")})
    # id2: frame {1, itself} = 3; id3: frame {1, itself} = 5; id4: all = 15
    assert _col(out) == {1: 1, 2: 3, 3: 5, 4: 15}


def test_maxsize(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="40s", maxsize=2)
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    # 40s range holds up to 5 rows but MAXSIZE caps at the 2 most recent
    assert _col(out) == {1: 1, 2: 3, 3: 5, 4: 7, 5: 9, 6: 6, 7: 13, 8: 15, 9: 17}


def test_array_path_decimal_sum_matches_native(spark, t1):
    """``col1 * 1.0`` is DECIMAL in Spark: the array-path sum (a MAXSIZE
    frame) folds in the native sum's result type, not a widening one."""
    dec = t1.withColumn("d", F.expr("col1 * 1.0"))
    wide = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="40s", maxsize=10)
    native = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="40s")
    got = window_agg(dec, wide, {"s": A.sum_("d")})
    want = window_agg(dec, native, {"s": A.sum_("d")})
    assert got.schema["s"].dataType == want.schema["s"].dataType
    assert got.schema["s"].dataType.simpleString() == "decimal(33,1)"
    assert _col(got) == _col(want)


def test_unbounded(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", unbounded=True)
    out = window_agg(t1, wd, {"s": A.sum_("col1")})
    assert _col(out) == {1: 1, 2: 3, 3: 6, 4: 10, 5: 15, 6: 6, 7: 13, 8: 21, 9: 30}


def test_multiple_aggs_one_window(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows=2)
    out = window_agg(
        t1,
        wd,
        {
            "s": A.sum_("col1"),
            "mn": A.min_("col1"),
            "mx": A.max_("col1"),
            "c": A.count_("col1"),
            "a": A.avg_("col1"),
        },
    )
    r = {x["id"]: x for x in out.collect()}
    assert r[3]["s"] == 6 and r[3]["mn"] == 1 and r[3]["mx"] == 3
    assert r[3]["c"] == 3 and abs(r[3]["a"] - 2.0) < 1e-9


def test_window_union(spark, t1):
    # union rows fall inside main rows' frames; output rows = main only
    main = t1.where(F.col("id").isin(2, 4))
    side = t1.where(~F.col("id").isin(2, 4))
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="20s")
    out = window_union(main, [side], wd, {"s": A.sum_("col1")})
    assert out.count() == 2
    assert _col(out) == {2: 3, 4: 9}


def test_window_union_instance_not_in_window(spark, t1):
    main = t1.where(F.col("id").isin(2, 4))
    side = t1.where(F.col("id") == 3)
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows_range="30s")
    out = window_union(
        main, [side], wd, {"s": A.sum_("col1")}, instance_not_in_window=True
    )
    # id=2: union row id3 (ts later) not in frame; only itself -> 2
    # id=4: union row id3 in frame + itself -> 7 (id2 main row excluded)
    assert _col(out) == {2: 2, 4: 7}


def test_lag_first_last(spark, t1):
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows=2)
    out = window_agg(
        t1,
        wd,
        {"l1": A.lag("col1", 1), "fv": A.first_value("col1"), "lv": A.last_value("col1")},
    )
    r = {x["id"]: x for x in out.collect()}
    assert r[1]["l1"] is None and r[3]["l1"] == 2
    assert r[4]["fv"] == 2 and r[4]["lv"] == 4


def test_parse_interval():
    assert parse_interval_ms("10s") == 10_000
    assert parse_interval_ms("2m") == 120_000
    assert parse_interval_ms("1h") == 3_600_000
    assert parse_interval_ms("2d") == 172_800_000
    assert parse_interval_ms("250ms") == 250
    assert parse_interval_ms(99) == 99


def test_union_lag_survives_many_interleaved_main_rows(spark):
    """Boundary pinned (VERDICT r3 item 7): union-window lag under
    INSTANCE_NOT_IN_WINDOW must see past ANY number of interleaved main
    rows — the old bounded collect silently truncated after
    lookback_slack=256 of them. 600 main rows now sit between the current
    main row and the union rows it lags to."""
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef
    from openmldb_spark.operators.window_union import window_union

    # union history: two rows at ts 0 and 1; then 600 main rows at ts 2..601
    rows = [(i, "k", i + 2, 1000 + i) for i in range(600)]
    main = spark.createDataFrame(rows, "id long, pk1 string, ts long, col1 long")
    side = spark.createDataFrame(
        [(9000, "k", 0, 111), (9001, "k", 1, 222)],
        "id long, pk1 string, ts long, col1 long",
    )
    wd = WindowDef(partition_by=["pk1"], order_by="ts", unbounded=True)
    out = window_union(
        main, [side], wd,
        {"l1": A.lag("col1", 1), "l2": A.lag("col1", 2)},
        instance_not_in_window=True,
    )
    r = {x["id"]: x for x in out.collect()}
    # EVERY main row (even the 600th, with 599 interleaved main rows in
    # between) lags to the union history, never to another main row
    for i in (0, 1, 257, 599):
        assert r[i]["l1"] == 222, f"id={i}"
        assert r[i]["l2"] == 111, f"id={i}"


def test_union_lag_null_value_occupies_slot(spark):
    """A union row whose value is NULL still occupies its lag slot (the
    ignore-nulls rewrite wraps values in a struct so only MAIN rows are
    skipped, not null values)."""
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef
    from openmldb_spark.operators.window_union import window_union

    main = spark.createDataFrame([(1, "k", 10, 5)], "id long, pk1 string, ts long, col1 long")
    side = spark.createDataFrame(
        [(90, "k", 1, 7), (91, "k", 2, None)],
        "id long, pk1 string, ts long, col1 long",
    )
    wd = WindowDef(partition_by=["pk1"], order_by="ts", unbounded=True)
    out = window_union(
        main, [side], wd,
        {"l1": A.lag("col1", 1), "l2": A.lag("col1", 2)},
        instance_not_in_window=True,
    )
    r = out.collect()[0]
    assert r["l1"] is None   # nearest union row has NULL value -> NULL, not 7
    assert r["l2"] == 7


def test_union_rows_frame_survives_many_interleaved_main_rows(spark):
    """ROWS-frame aggregates under INSTANCE_NOT_IN_WINDOW must see past any
    number of interleaved main rows (the physical-slot collect truncated
    after wdef.rows of them — found by ported test_window_union.yaml id 13,
    fixed alongside the lag rewrite)."""
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef
    from openmldb_spark.operators.window_union import window_union

    # 2 union rows, then 500 main rows between them and the probe row
    rows = [(i, "k", i + 10, i) for i in range(500)]
    main = spark.createDataFrame(rows, "id long, pk1 string, ts long, col1 long")
    side = spark.createDataFrame(
        [(900, "k", 1, 7), (901, "k", 2, 11)],
        "id long, pk1 string, ts long, col1 long",
    )
    wd = WindowDef(partition_by=["pk1"], order_by="ts", rows=2)
    out = window_union(
        main, [side], wd, {"s": A.sum_("col1")}, instance_not_in_window=True
    )
    r = {x["id"]: x["s"] for x in out.collect()}
    # every main row's frame = last 2 union rows + itself
    assert r[0] == 7 + 11 + 0
    assert r[499] == 7 + 11 + 499


def test_exclude_current_time_slack_overflow_raises(spark):
    """DIVERGENCES #6 hardening (VERDICT r6 item 6): a same-ts run longer
    than lookback_slack with a FULL physical buffer must raise, never
    silently under-count — the constant-ts (e.g. default 1970 epoch)
    production trap."""
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef, window_agg

    # 20 rows: 10 old-ts rows then a 10-row same-ts run; rows=3, slack=4
    # -> buffer holds 8 physical rows; the run's tail rows have >4 same-ts
    # predecessors pushing eligible old rows out of the buffer
    rows = [(i, "k", 100, 1) for i in range(10)] + [
        (10 + i, "k", 500, 1) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, pk string, ts long, v long")
    wd = WindowDef(
        partition_by=["pk"], order_by="ts", rows=3,
        exclude_current_time=True, lookback_slack=4, tiebreak="id",
    )
    out = window_agg(df, wd, {"s": A.sum_("v")})
    with pytest.raises(Exception, match="lookback_slack"):
        out.collect()


def test_exclude_current_time_slack_sufficient_is_exact(spark):
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef, window_agg

    rows = [(i, "k", 100, 1) for i in range(4)] + [
        (4 + i, "k", 500, 1) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "id long, pk string, ts long, v long")
    wd = WindowDef(
        partition_by=["pk"], order_by="ts", rows=3,
        exclude_current_time=True, lookback_slack=8, tiebreak="id",
    )
    out = window_agg(df, wd, {"s": A.sum_("v")})
    r = {x["id"]: x["s"] for x in out.collect()}
    # same-ts rows see only the strictly-older ts rows + themselves:
    # frame = last 3 eligible before current + current
    assert r[4] == 4  # 3 old rows + self
    assert r[9] == 4  # same (ts-500 peers excluded)


def test_exclude_current_time_partial_buffer_no_false_raise(spark):
    """A long same-ts run at the PARTITION START must not raise: the
    buffer is not full, so nothing was truncated — results stay exact."""
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef, window_agg

    rows = [(i, "k", 500, 1) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, pk string, ts long, v long")
    wd = WindowDef(
        partition_by=["pk"], order_by="ts", rows=3,
        exclude_current_time=True, lookback_slack=4, tiebreak="id",
    )
    out = window_agg(df, wd, {"s": A.sum_("v")})
    r = {x["id"]: x["s"] for x in out.collect()}
    assert all(v == 1 for v in r.values())  # only self eligible
