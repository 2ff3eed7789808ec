"""Long-window pre-agg (SURVEY §4.3): bucket-combine + edge-scan must equal
the brute-force sliding window exactly."""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.plans.longwindow import preaggregate, request_long_window

B = 1000  # bucket_ms
R = 3500  # range_ms (covers 3.5 buckets -> always 2 partial edges + fulls)


@pytest.fixture(scope="module")
def hist(spark):
    rows = []
    # two keys, irregular ts incl. bucket-boundary and duplicate ts values
    for uid, base in (("a", 0), ("b", 50)):
        for i, off in enumerate([0, 120, 990, 1000, 1001, 2500, 3000, 4999, 5000, 7300, 9999]):
            rows.append((uid, base + off + 100000, float(i + 1)))
    return spark.createDataFrame(rows, "uid string, ts long, v double")


def brute(spark, hist, requests, agg):
    # oracle: per request row, aggregate raw history in [t-R, t]
    r = requests.alias("r")
    h = hist.alias("h")
    fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max, "avg": F.avg}[agg]
    return (
        r.join(
            h,
            (F.col("r.uid") == F.col("h.uid"))
            & (F.col("h.ts") >= F.col("r.ts") - R)
            & (F.col("h.ts") <= F.col("r.ts")),
            "left",
        )
        .groupBy("r.rid")
        .agg(fn(F.col("h.v")).alias("want"))
    )


@pytest.mark.parametrize("agg", ["sum", "count", "min", "max", "avg"])
def test_matches_bruteforce(spark, hist, agg):
    # request rows at history points AND at arbitrary off-row timestamps
    reqs = hist.select("uid", "ts").union(
        spark.createDataFrame(
            [("a", 100999), ("a", 104000), ("b", 100049), ("b", 111111)],
            "uid string, ts long",
        )
    ).withColumn("rid", F.monotonically_increasing_id())
    pre = preaggregate(hist, ["uid"], "ts", "v", B)
    got = request_long_window(
        reqs, hist, pre, ["uid"], "ts", "v", R, B, agg, request_id="rid"
    )
    want = brute(spark, hist, reqs, agg)
    j = got.join(want, "rid")
    bad = j.where(
        ~(
            F.col("agg_v").eqNullSafe(F.col("want"))
            | (F.abs(F.col("agg_v") - F.col("want")) < 1e-9)
        )
    )
    assert bad.count() == 0, bad.collect()


def test_preagg_is_smaller_and_complete(spark, hist):
    pre = preaggregate(hist, ["uid"], "ts", "v", B)
    assert pre.count() < hist.count()
    # bucket totals reconstruct the global sum
    assert (
        pre.agg(F.sum("sum_v")).collect()[0][0]
        == hist.agg(F.sum("v")).collect()[0][0]
    )


def test_bucket_partitioned_history_prunes_partitions(spark, tmp_path):
    """The recommended storage layout (parquet partitioned by bucket):
    edge-bucket reads must turn into real partition pruning on the scan."""
    from pyspark.sql import functions as F

    from openmldb_spark.plans.longwindow import preaggregate, request_long_window

    rows = [("k%d" % (i % 3), 1000 * i, float(i)) for i in range(1, 300)]
    hist = spark.createDataFrame(rows, "pk string, ts long, v double")
    d = str(tmp_path / "hist_bucketed")
    (hist.withColumn("bucket", (F.col("ts") / 10000).cast("long"))
         .write.partitionBy("bucket").mode("overwrite").parquet(d))
    stored = spark.read.parquet(d)

    pre = preaggregate(stored, ["pk"], "ts", "v", 10000)
    reqs = spark.createDataFrame([("k1", 250000, 1.0)], "pk string, ts long, v double")
    out = request_long_window(reqs, stored, pre, ["pk"], "ts", "v", 50000, 10000, "sum")

    # correctness: history-only sum over [t-range, t] (the caller folds the
    # request row itself, as in the engine's serving path)
    want = sum(v for pk, ts, v in rows if pk == "k1" and 200000 <= ts <= 250000)
    got = out.collect()[0]["agg_v"]
    assert got == want

    # the history scan carries a PartitionFilters bucket IN (...) predicate
    plan = out._jdf.queryExecution().executedPlan().toString()
    pruned = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "bucket" in l and " IN " in l
    ]
    assert pruned, "expected a static bucket IN partition filter on the history scan"


@pytest.mark.parametrize(
    "agg",
    ["sum"]
    + [pytest.param(a, marks=pytest.mark.slow) for a in ("avg", "min", "max", "count")],
)
def test_ported_long_window_family_serves_exact_frames(spark, agg):
    """The ported long_window.yaml family (ids 1/5/6/7/8 shape: each
    aggregate over a bounded ROWS_RANGE window deployed with
    OPTIONS(long_windows=...)) serves the exact frame: the stored rows in
    range plus the request row."""
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE t0 (id int, c1 string, c3 int, c4 bigint, c5 float,"
        " c6 double, c7 timestamp, c8 date, INDEX(KEY=(c1), TS=c7))"
    )
    rows = [
        (1, "aa", 20, 30, 1.1, 2.1, 1590738990000, "2020-05-01"),
        (2, "aa", 21, 31, 1.2, 2.2, 1590738991000, "2020-05-02"),
        (3, "aa", 22, 32, 1.3, 2.3, 1590738992000, "2020-05-03"),
        (4, "bb", 23, 33, 1.4, 2.4, 1590738993000, "2020-05-04"),
        (5, "bb", 24, 34, 1.5, 2.5, 1590738994000, "2020-05-05"),
    ]
    vals = ", ".join(
        f"({i}, '{c1}', {c3}, {c4}, {c5}, {c6}, {ts}, '{d}')"
        for i, c1, c3, c4, c5, c6, ts, d in rows
    )
    eng.execute(f"INSERT INTO t0 VALUES {vals}")
    dep = eng.execute(
        f"DEPLOY dl_{agg} OPTIONS(long_windows='w1:1s') SELECT id, c1, "
        f"{agg}(c4) OVER w1 AS m FROM t0 WINDOW w1 AS (PARTITION BY t0.c1 "
        "ORDER BY t0.c7 ROWS_RANGE BETWEEN 3s PRECEDING AND CURRENT ROW)"
    )
    import datetime

    def ts(ms):
        return datetime.datetime.utcfromtimestamp(ms / 1000)

    reqs = spark.createDataFrame(
        [(9, "aa", 30, 40, 2.0, 3.0, ts(1590738995000), None),
         (10, "bb", 31, 41, 2.1, 3.1, ts(1590738996000), None)],
        dep.input_schema,
    )
    got = {r["id"]: r["m"] for r in dep.run_request(reqs).collect()}
    # id 9 (aa, 995s): row 3 (32) + 40; id 10 (bb, 996s): rows 4, 5 (33, 34) + 41
    want = {
        "sum": {9: 72, 10: 108},
        "avg": {9: 36.0, 10: 36.0},
        "min": {9: 32, 10: 33},
        "max": {9: 40, 10: 41},
        "count": {9: 2, 10: 3},
    }[agg]
    assert got == want


@pytest.mark.parametrize(
    "agg",
    ["sum_where"]
    + [pytest.param(a, marks=pytest.mark.slow)
       for a in ("avg_where", "min_where", "max_where", "count_where")],
)
def test_long_window_xxx_where_serves_exact_frames(spark, agg):
    """Long-window *_where (reference integration_test/long_window/
    test_xxx_where.yaml): the condition filters the exact frame, the
    request row included."""
    import datetime

    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE tw (id int, c1 string, c2 smallint, c4 bigint,"
        " c7 timestamp, INDEX(KEY=(c1), TS=c7))"
    )
    rows = [
        (1, "aa", 1, 30, 1590738990000), (2, "aa", 2, 31, 1590738991000),
        (3, "aa", 3, 32, 1590738992000), (4, "aa", 4, 33, 1590738993000),
        (5, "bb", 5, 34, 1590738994000), (6, "bb", 1, 35, 1590738995000),
    ]
    vals = ", ".join(f"({i}, '{k}', {c2}, {c4}, {ts})" for i, k, c2, c4, ts in rows)
    eng.execute(f"INSERT INTO tw VALUES {vals}")
    dep = eng.execute(
        f"DEPLOY dw_{agg} OPTIONS(long_windows='w1:1s') SELECT id, c1, "
        f"{agg}(c4, c2 > 2) OVER w1 AS m FROM tw WINDOW w1 AS "
        "(PARTITION BY tw.c1 ORDER BY tw.c7 "
        "ROWS_RANGE BETWEEN 3s PRECEDING AND CURRENT ROW)"
    )

    def ts(ms):
        return datetime.datetime.utcfromtimestamp(ms / 1000)

    reqs = spark.createDataFrame(
        [(9, "aa", 3, 40, ts(1590738995500)), (10, "bb", 1, 41, ts(1590738996000))],
        dep.input_schema,
    )
    got = {r["id"]: r["m"] for r in dep.run_request(reqs).collect()}
    # id 9 (aa, 995.5s, c2 3): row 4 (c2 4, 33) + 40; id 10 (bb, 996s,
    # c2 1): row 5 (c2 5, 34) — row 6 and the request fail c2 > 2
    want = {
        "sum_where": {9: 73, 10: 34},
        "avg_where": {9: 36.5, 10: 34.0},
        "min_where": {9: 33, 10: 34},
        "max_where": {9: 40, 10: 34},
        "count_where": {9: 2, 10: 1},
    }[agg]
    assert got == want
