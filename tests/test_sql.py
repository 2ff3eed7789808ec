"""SQL front end: parse -> rewrite -> lower -> execute.

Query shapes mirror the reference's YAML corpus (cases/query/*.yaml,
cases/function/window/*.yaml); expected values are hand-computed goldens.
"""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.sql import sql
from openmldb_spark.sql.parser import parse
from openmldb_spark.sql.rewrite import rewrite_expr


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def t1(spark):
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


@pytest.fixture(scope="module")
def dim(spark):
    rows = [
        ("A", 100, 1590115400000, "a-old"),
        ("A", 200, 1590115455000, "a-new"),
        ("B", 300, 1590115410000, "b-old"),
        ("B", 400, 1590115700000, "b-future"),
    ]
    return spark.createDataFrame(rows, "k string, v long, rts long, tag string")


def by_id(df, col):
    return {r["id"]: r[col] for r in df.collect()}


# ---------------------------------------------------------------------------
# parser / rewrite units
# ---------------------------------------------------------------------------


def test_parse_window_clause():
    q = parse(
        "SELECT id, sum(col1) OVER w1 AS s FROM t1 WINDOW w1 AS "
        "(PARTITION BY pk1 ORDER BY ts ROWS_RANGE BETWEEN 10s PRECEDING AND "
        "CURRENT ROW MAXSIZE 5 EXCLUDE CURRENT_ROW)"
    )
    w = q.body.windows["w1"]
    assert w.frame_kind == "rows_range"
    assert w.lower == ("preceding", "10s")
    assert w.maxsize == 5 and w.exclude_current_row
    assert q.body.items[1].over.func == "sum"


def test_parse_last_join():
    q = parse(
        "SELECT t1.id FROM t1 LAST JOIN t2 ORDER BY t2.rts ON t1.pk1 = t2.k"
    )
    j = q.body.joins[0]
    assert j.kind == "last" and j.order_by is not None


def test_rewrite_renames_and_templates():
    assert rewrite_expr("lcase(a)") == "lower(a)"
    assert rewrite_expr("if_null(a, b)") == "ifnull(a, b)"
    assert "CASE WHEN" in rewrite_expr("strcmp(a, b)")
    assert rewrite_expr("sum_where(v, c > 1)") == "SUM(CASE WHEN c > 1 THEN v END)"
    assert rewrite_expr("t1.col + at(arr, 1)") == "t1.col + element_at(arr, 1)"
    assert "COUNT(DISTINCT" in rewrite_expr("distinct_count(x)")


# ---------------------------------------------------------------------------
# text path
# ---------------------------------------------------------------------------


def test_simple_project_filter(spark, t1):
    out = sql(
        spark,
        "SELECT id, col1 * 2 AS d, ucase(pk1) AS u FROM t1 WHERE col1 >= 8",
        {"t1": t1},
    )
    rows = {r["id"]: (r["d"], r["u"]) for r in out.collect()}
    assert rows == {8: (16, "B"), 9: (18, "B")}


def test_group_by_having(spark, t1):
    out = sql(
        spark,
        "SELECT pk1, sum(col1) AS s, count_where(col1, col1 > 2) AS cw "
        "FROM t1 GROUP BY pk1 HAVING sum(col1) > 15",
        {"t1": t1},
    )
    rows = {r["pk1"]: (r["s"], r["cw"]) for r in out.collect()}
    assert rows == {"B": (30, 4)}


def test_union_all_limit(spark, t1):
    out = sql(
        spark,
        "SELECT id FROM t1 WHERE id = 1 UNION ALL SELECT id FROM t1 WHERE id = 2",
        {"t1": t1},
    )
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_except_intersect(spark, t1):
    out = sql(
        spark,
        "SELECT id FROM t1 WHERE id <= 4 EXCEPT SELECT id FROM t1 WHERE id = 2",
        {"t1": t1},
    )
    assert sorted(r["id"] for r in out.collect()) == [1, 3, 4]
    out = sql(
        spark,
        "SELECT id FROM t1 WHERE id <= 4 INTERSECT SELECT id FROM t1 WHERE id >= 3",
        {"t1": t1},
    )
    assert sorted(r["id"] for r in out.collect()) == [3, 4]


def test_cte_and_subquery(spark, t1):
    out = sql(
        spark,
        "WITH big AS (SELECT id, col1 FROM t1 WHERE col1 > 5) "
        "SELECT count(*) AS n FROM (SELECT * FROM big) b",
        {"t1": t1},
    )
    assert out.collect()[0]["n"] == 4


def test_text_path_leaves_no_temp_views(spark, t1, dim):
    """The text lowering names every FROM/JOIN operand and the structural
    GROUP BY stage through a temp view; each is dropped once ``spark.sql``
    has analyzed the statement, so a long-lived session's catalog does not
    grow per query, the results still collect, and a cached table stays
    cached."""
    from pyspark import StorageLevel

    def temp_views():
        return sum(t.isTemporary for t in spark.catalog.listTables())

    dim = dim.select("*").cache()
    dim.count()

    stmts = [
        ("SELECT pk1, sum(col1) AS s FROM t1 GROUP BY pk1", {("A", 15), ("B", 30)}),
        ("SELECT * FROM (SELECT pk1, col1 FROM t1 WHERE id = 1) x", {("A", 1)}),
        ("SELECT k, sum(v) AS s FROM dim GROUP BY k", {("A", 300), ("B", 700)}),
        (
            "SELECT t1.pk1, count(*) AS n FROM t1 LAST JOIN dim ORDER BY dim.rts "
            "ON t1.pk1 = dim.k GROUP BY t1.pk1",
            {("A", 5), ("B", 4)},
        ),
    ]
    before = temp_views()
    for _ in range(3):
        for text, want in stmts:
            out = sql(spark, text, {"t1": t1, "dim": dim})
            assert {tuple(r) for r in out.collect()} == want
    assert temp_views() == before
    assert dim.storageLevel != StorageLevel.NONE
    dim.unpersist()


def test_const_project(spark):
    out = sql(spark, "SELECT 1 + 1 AS two", {})
    assert out.collect()[0]["two"] == 2


# ---------------------------------------------------------------------------
# structural path: windows
# ---------------------------------------------------------------------------


def test_window_rows(spark, t1):
    out = sql(
        spark,
        "SELECT id, sum(col1) OVER w1 AS s FROM t1 WINDOW w1 AS "
        "(PARTITION BY pk1 ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
        {"t1": t1},
    )
    assert by_id(out, "s") == {1: 1, 2: 3, 3: 6, 4: 9, 5: 12, 6: 6, 7: 13, 8: 21, 9: 24}


def test_window_rows_range_exclude_current_row(spark, t1):
    out = sql(
        spark,
        "SELECT id, sum(col1) OVER w1 AS s FROM t1 WINDOW w1 AS "
        "(PARTITION BY pk1 ORDER BY ts ROWS_RANGE BETWEEN 20s PRECEDING AND "
        "CURRENT ROW EXCLUDE CURRENT_ROW)",
        {"t1": t1},
    )
    assert by_id(out, "s") == {
        1: None, 2: 1, 3: 3, 4: 5, 5: 7, 6: None, 7: 6, 8: 13, 9: 15,
    }


def test_window_two_windows_and_lag(spark, t1):
    out = sql(
        spark,
        "SELECT id, sum(col1) OVER w1 AS s, lag(col1, 1) OVER w2 AS p FROM t1 "
        "WINDOW w1 AS (PARTITION BY pk1 ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), "
        "w2 AS (PARTITION BY pk1 ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
        {"t1": t1},
    )
    assert by_id(out, "s") == {1: 1, 2: 3, 3: 5, 4: 7, 5: 9, 6: 6, 7: 13, 8: 15, 9: 17}
    assert by_id(out, "p") == {
        1: None, 2: 1, 3: 2, 4: 3, 5: 4, 6: None, 7: 6, 8: 7, 9: 8,
    }


def test_window_union(spark, t1):
    # main rows only in output; union rows feed the frames
    main = t1.where(F.col("id").isin(3, 8))
    out = sql(
        spark,
        "SELECT id, sum(col1) OVER w1 AS s FROM main WINDOW w1 AS "
        "(UNION t1 PARTITION BY pk1 ORDER BY ts "
        "ROWS_RANGE BETWEEN 20s PRECEDING AND CURRENT ROW)",
        {"main": main, "t1": t1},
    )
    # id=3: window over union rows ts in [20..40s] for A = 1+2+3 (+main dup 3)
    rows = by_id(out, "s")
    assert set(rows) == {3, 8}
    # main row 3 unions with t1 rows 1,2,3 — the duplicate of row 3 itself
    # is in t1 too, so frame = {1,2,3,3'} -> 1+2+3+3 = 9
    assert rows[3] == 9 and rows[8] == 6 + 7 + 8 + 8


def test_window_union_subquery(spark, t1):
    out = sql(
        spark,
        "SELECT id, sum(col1) OVER w1 AS s FROM main WINDOW w1 AS "
        "(UNION (SELECT * FROM t1 WHERE id <= 2) "
        "PARTITION BY pk1 ORDER BY ts "
        "ROWS_RANGE BETWEEN 20s PRECEDING AND CURRENT ROW)",
        {"main": t1.where(F.col("id") == 3), "t1": t1},
    )
    rows = by_id(out, "s")
    # main row 3 (ts 440000) unions rows 1,2 -> frame {1,2,3} = 6
    assert rows == {3: 6}


def test_window_config_skew_buckets(spark, t1):
    base = (
        "SELECT id, sum(col1) OVER w1 AS s FROM t1 WINDOW w1 AS "
        "(PARTITION BY pk1 ORDER BY ts ROWS_RANGE BETWEEN 20s PRECEDING "
        "AND CURRENT ROW)"
    )
    plain = by_id(sql(spark, base, {"t1": t1}), "s")
    skewed = by_id(
        sql(spark, base + " CONFIG (skew_buckets='3')", {"t1": t1}), "s"
    )
    assert plain == skewed
    # r13: plain ROWS (count) frames route through the skew path too
    base_rows = (
        "SELECT id, sum(col1) OVER w1 AS s FROM t1 WINDOW w1 AS "
        "(PARTITION BY pk1 ORDER BY ts ROWS BETWEEN 2 PRECEDING "
        "AND CURRENT ROW)"
    )
    plain_r = by_id(sql(spark, base_rows, {"t1": t1}), "s")
    skewed_r = by_id(
        sql(spark, base_rows + " CONFIG (skew_buckets='3')", {"t1": t1}), "s"
    )
    assert plain_r == skewed_r


def test_window_cate(spark, t1):
    # PARTITION BY is mandatory in the dialect (test_window_row_range.yaml
    # id 32) — a constant key gives the same one-global-partition semantics
    out = sql(
        spark,
        "SELECT id, sum_cate(col1, pk1) OVER w1 AS c FROM t1 WINDOW w1 AS "
        "(PARTITION BY 0 ORDER BY ts ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)",
        {"t1": t1},
    )
    # one global partition: ts ordering puts id5 (ts=...460000) last; its
    # frame = all 9 rows -> A:1+2+3+4+5=15, B:6+7+8+9=30
    assert by_id(out, "c")[5] == "A:15,B:30"


# ---------------------------------------------------------------------------
# structural path: LAST JOIN
# ---------------------------------------------------------------------------


def test_last_join_sorted(spark, t1, dim):
    out = sql(
        spark,
        "SELECT t1.id, t2.v, t2.tag FROM t1 LAST JOIN dim t2 "
        "ORDER BY t2.rts ON t1.pk1 = t2.k",
        {"t1": t1, "dim": dim},
    )
    vals = {r["id"]: r["tag"] for r in out.collect()}
    # per key the max-rts dim row wins (no time correlation in plain LAST JOIN)
    assert vals[1] == "a-new" and vals[6] == "b-future"
    assert out.count() == 9


def test_last_join_condition(spark, t1, dim):
    # extra non-equi condition: right row must not be in the future of ts
    out = sql(
        spark,
        "SELECT t1.id, t2.tag FROM t1 LAST JOIN dim t2 ORDER BY t2.rts "
        "ON t1.pk1 = t2.k AND t2.rts <= t1.ts",
        {"t1": t1, "dim": dim},
    )
    vals = {r["id"]: r["tag"] for r in out.collect()}
    assert vals[1] == "a-old"        # only a-old is <= ts of id1
    assert vals[5] == "a-new"        # id5 ts=460000 >= 455000
    assert vals[6] == "b-old"
    assert out.count() == 9          # left rows always survive


def test_last_join_then_group_by(spark, t1, dim):
    out = sql(
        spark,
        "SELECT t1.pk1, count(*) AS n, sum(t2.v) AS sv FROM t1 "
        "LAST JOIN dim t2 ORDER BY t2.rts ON t1.pk1 = t2.k "
        "GROUP BY t1.pk1",
        {"t1": t1, "dim": dim},
    )
    rows = {r["pk1"]: (r["n"], r["sv"]) for r in out.collect()}
    # per left row the max-rts dim row joins: A->200, B->400
    assert rows == {"A": (5, 1000), "B": (4, 1600)}


def test_last_join_then_group_by_dialect_aggregate(spark, t1, dim):
    # a dialect aggregate with no Spark SQL spelling groups the joined
    # relation structurally, as it does without the join
    out = sql(
        spark,
        "SELECT t1.pk1, count_cate(col1, t2.tag) AS cc FROM t1 "
        "LAST JOIN dim t2 ORDER BY t2.rts ON t1.pk1 = t2.k "
        "GROUP BY t1.pk1",
        {"t1": t1, "dim": dim},
    )
    assert {tuple(r) for r in out.collect()} == {("A", "a-new:5"), ("B", "b-future:4")}


def test_last_join_into_window(spark, t1, dim):
    # join then window over the joined relation (last_join_window_query.yaml)
    out = sql(
        spark,
        "SELECT t1.id, sum(t2.v) OVER w1 AS sv FROM t1 LAST JOIN dim t2 "
        "ORDER BY t2.rts ON t1.pk1 = t2.k "
        "WINDOW w1 AS (PARTITION BY t1.pk1 ORDER BY t1.ts "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)",
        {"t1": t1, "dim": dim},
    )
    sv = by_id(out, "sv")
    assert sv[1] == 200 and sv[2] == 400 and sv[6] == 400 and sv[7] == 800


# ---------------------------------------------------------------------------
# feature-zero list functions (array_def.cc, feature_zero_def.cc)
# ---------------------------------------------------------------------------


def test_list_except_by_key_value_sql(spark, t1):
    # ref doctests feature_zero_def.cc:768-801
    out = sql(
        spark,
        "SELECT id, array_join(list_except_by_key(split('a:1,b:2,c:0', ','), 'a,c'), ' ') AS k, "
        "array_join(list_except_by_value(split('a:1,b:2,c:0', ','), '0,1'), ' ') AS v "
        "FROM t1 WHERE id = 1",
        {"t1": t1},
    )
    r = out.collect()[0]
    assert r["k"] == "b:2" and r["v"] == "b:2"


def test_split_array_and_array_combine_sql(spark, t1):
    # ref doctests array_def.cc:168-230, goldens udf_query.yaml:594-604
    out = sql(
        spark,
        "SELECT id, array_contains(split_array('2,1', ','), '1') AS c0, "
        "array_join(array_combine('-', split_array('1,2', ','), "
        "split_array('3,4', ',')), ',') AS c1 "
        "FROM t1 WHERE id = 1",
        {"t1": t1},
    )
    r = out.collect()[0]
    assert r["c0"] is True
    assert r["c1"] == "1-3,1-4,2-3,2-4"


def test_array_combine_nulls_dataframe(spark):
    # goldens udf_query.yaml:622-636: null elements skipped, null delim = ''
    from openmldb_spark.functions import scalar as SC

    df = spark.createDataFrame([(1,)], "id int")
    out = df.select(
        F.array_join(
            SC.array_combine(
                "-",
                F.array(F.lit(1), F.lit(None).cast("int")),
                F.array(F.lit(3), F.lit(4)),
            ),
            ",",
        ).alias("c0"),
        F.array_join(
            SC.array_combine(
                "-", F.array(F.lit(None).cast("int")), F.array(F.lit("9"), F.lit("8"))
            ),
            ",",
        ).alias("c1"),
        F.array_join(
            SC.array_combine(
                F.lit(None).cast("string"), F.array(F.lit(1)), F.array(F.lit("9"), F.lit("8"))
            ),
            ",",
        ).alias("c2"),
        F.array_join(
            SC.array_combine("|", F.array(F.lit("1"))), ","
        ).alias("c3"),
    ).collect()[0]
    assert out["c0"] == "1-3,1-4"
    assert out["c1"] == ""
    assert out["c2"] == "19,18"
    assert out["c3"] == "1"


# ---------------------------------------------------------------------------
# bounded window upper ends: BETWEEN x PRECEDING AND y PRECEDING
# (reference YAML cases/function/function/test_udaf_function.yaml:2724-2766)
# ---------------------------------------------------------------------------


def test_window_upper_bound_rows_native(spark):
    rows = [("a", i, float(i)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "pk string, ts long, v double")
    out = sql(
        spark,
        "SELECT ts, sum(v) OVER w AS s, count(v) OVER w AS c FROM t "
        "WINDOW w AS (PARTITION BY pk ORDER BY ts "
        "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)",
        {"t": df},
    )
    got = {r["ts"]: (r["s"], r["c"]) for r in out.collect()}
    # frame = rows [cur-3 .. cur-1]
    assert got[1] == (None, 0)
    assert got[2] == (1.0, 1)
    assert got[4] == (1.0 + 2 + 3, 3)
    assert got[6] == (3.0 + 4 + 5, 3)


def test_udaf_ratio_cate_yaml_case66_full(spark):
    # exact replica of reference YAML id=66 over the SQL surface
    rows = [
        (0, 1, 200, "a", 1000),
        (100, 1, 300, "b", 2000),
        (200, 1, 200, None, 3000),
        (300, 1, 10, "b", 4000),
        (400, 1, 101, "c", 5000),
        (500, 1, 101, "c", 6000),
    ]
    df = spark.createDataFrame(rows, "idx int, gp int, val int, cate string, ts long")
    out = sql(
        spark,
        "SELECT idx, "
        "top_n_value_ratio_cate(val, val > 100, cate, 2) OVER w AS rv, "
        "top_n_key_ratio_cate(val, val > 100, cate, 2) OVER w AS rk, "
        "top_n_value_ratio_cate(val, val > 100, cate, -1) OVER w AS rvf, "
        "top_n_key_ratio_cate(val, val > 100, cate, -2) OVER w AS rkf, "
        "top_n_value_ratio_cate(val, val > 100, cate, 0) OVER w AS rve "
        "FROM t WINDOW w AS (PARTITION BY gp ORDER BY ts "
        "ROWS_RANGE BETWEEN 10s PRECEDING AND 1s PRECEDING)",
        {"t": df},
    )
    got = {r["idx"]: (r["rv"], r["rk"], r["rvf"], r["rkf"], r["rve"]) for r in out.collect()}
    assert got[0] == ("", "", "", "", "")
    assert got[100] == ("a:1.000000",) * 4 + ("",)
    assert got[200] == ("b:1.000000,a:1.000000",) * 4 + ("",)
    assert got[300] == ("b:1.000000,a:1.000000",) * 4 + ("",)
    assert got[400] == (
        "a:1.000000,b:0.500000", "b:0.500000,a:1.000000",
        "a:1.000000,b:0.500000", "b:0.500000,a:1.000000", "",
    )
    assert got[500] == (
        "c:1.000000,a:1.000000", "c:1.000000,b:0.500000",
        "c:1.000000,a:1.000000,b:0.500000", "c:1.000000,b:0.500000,a:1.000000", "",
    )


def test_window_upper_bound_lag_partition_relative(spark):
    rows = [("a", i, float(i)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "pk string, ts long, v double")
    out = sql(
        spark,
        "SELECT ts, lag(v, 1) OVER w AS l1 FROM t "
        "WINDOW w AS (PARTITION BY pk ORDER BY ts "
        "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)",
        {"t": df},
    )
    got = {r["ts"]: r["l1"] for r in out.collect()}
    # lag ignores the frame entirely (reference compiles it to its own
    # ROWS(1..current) window): always the physically previous row
    assert got[1] is None
    assert got[2] == 1.0 and got[3] == 2.0 and got[5] == 4.0


# ---------------------------------------------------------------------------
# frame-nested UDAFs (r8): aggregate args referencing other aggregates
# over the same frame — reference test_udaf_function.yaml ids 43/47-49/53
# ---------------------------------------------------------------------------


def test_nested_udaf_arithmetic_matches_reference_goldens(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 1.0, 5), (2, 9.0, 2.0, 5), (3, 8.0, 3.0, 5),
         (4, 7.0, 4.0, 2), (5, 6.0, 5.0, 2)],
        "id long, c1 double, c2 float, c3 int",
    )
    out = sql(
        spark,
        """
        SELECT t.id,
          sum(c1 - count(c1)) OVER w1 AS r1,
          abs(sum(log(c1) - log(count(c1)))) OVER w1 AS r2,
          sum(c1 + sum(c2 * count(c3))) OVER w1 AS r3
        FROM t
        WINDOW w1 AS (PARTITION BY t.c3 ORDER BY t.id
                      ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
        """,
        {"t": df},
    ).collect()
    got = {r["id"]: (r["r1"], r["r2"], r["r3"]) for r in out}
    # reference goldens (test_udaf_function.yaml id 43): inner aggregates
    # are FRAME-FINAL constants — sum(c1 - count(c1)) over {10,9} = 15
    # = (10-2)+(9-2), not the prefix-count 16
    exp = {
        1: (9.0, 2.302585092994046, 11.0),
        2: (15.0, 3.1135153092103747, 31.0),
        3: (18.0, 3.283414346005772, 81.0),
        4: (6.0, 1.9459101490553132, 11.0),
        5: (9.0, 2.3513752571634776, 49.0),
    }
    for k, v in exp.items():
        for a, b in zip(got[k], v):
            assert abs(a - b) < 1e-9, (k, got[k], v)


def test_nested_udaf_count_where_lag_condition(spark):
    # count_where(id, c1 = lag(c1, 0)): count of frame rows whose c1
    # equals the CURRENT row's value (lag is a frame constant) — id 49's
    # shape over a simple partition
    df = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "a"), (3, 0, "b"), (4, 0, "a")],
        "id long, pk long, c1 string",
    )
    out = sql(
        spark,
        """
        SELECT t.id,
          count_where(id, c1 = lag(c1, 0)) OVER w1 AS cw
        FROM t
        WINDOW w1 AS (PARTITION BY t.pk ORDER BY t.id
                      ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
        """,
        {"t": df},
    ).collect()
    got = {r["id"]: r["cw"] for r in out}
    # frames: {1}->a:1, {1,2}->a:2, {1,2,3}->b:1, {1..4}->a:3
    assert got == {1: 1, 2: 2, 3: 1, 4: 3}


def test_nested_udaf_real_timestamp_condition(spark):
    # the original id 53 spelling over a REAL timestamp column (the YAML
    # harness adapts it to int64 ms — this pins the engine-level form)
    import datetime
    ts = lambda ms: datetime.datetime.utcfromtimestamp(ms / 1000.0)
    df = spark.createDataFrame(
        [(i, "A", i, ts(1590115410000 + i * 10000)) for i in range(1, 6)],
        "id int, pk string, col1 int, std_ts timestamp",
    )
    out = sql(
        spark,
        """
        SELECT t.id,
          sum(col1 + count(col1)) OVER w AS a1,
          sum_where(col1, std_ts > timestamp(1590115440000)) OVER w AS a3
        FROM t
        WINDOW w AS (PARTITION BY pk ORDER BY std_ts
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        {"t": df},
    ).collect()
    got = {r["id"]: (r["a1"], r["a3"]) for r in out}
    # reference id 53 goldens for a1/a3
    assert got == {1: (2, None), 2: (7, None), 3: (15, None),
                   4: (18, 4), 5: (21, 9)}


def test_backquoted_aggregate_lowers_as_window_agg(spark):
    # review finding (r8): `count`(c1) OVER w must lower exactly like
    # count(c1) OVER w (the dialect backquotes names that collide with
    # keywords), not fall through to a per-row projection
    df = spark.createDataFrame(
        [(1, "A", 10), (2, "A", 20), (3, "A", 30)], "id int, pk string, c1 int"
    )
    out = sql(
        spark,
        """
        SELECT t.id, `count`(c1) OVER w1 AS n, `sum`(c1) OVER w1 AS s
        FROM t
        WINDOW w1 AS (PARTITION BY t.pk ORDER BY t.id
                      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
        """,
        {"t": df},
    ).collect()
    got = {r["id"]: (r["n"], r["s"]) for r in out}
    assert got == {1: (1, 10), 2: (2, 30), 3: (2, 50)}
