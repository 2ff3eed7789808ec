"""LAST JOIN semantics (JOIN_CLAUSE.md:5-66; FIXTURES.md F4 shape)."""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.operators.last_join import last_join
from openmldb_spark.sql import sql


@pytest.fixture(scope="module")
def lj(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, col1 string"
    )
    # >=2 rows per key with distinct ts, one duplicated-ts pair, key 'c' missing
    right = spark.createDataFrame(
        [
            (10, "a", 100, 1),
            (11, "a", 200, 2),
            (12, "b", 150, 1),
            (13, "b", 150, 2),  # ts tie with rid=12
        ],
        "rid int, col1 string, std_ts long, seq int",
    )
    return left, right


def test_sorted_last_join_picks_max_ts(spark, lj):
    left, right = lj
    out = last_join(left, right, on="col1", order_by="std_ts", tiebreak="seq",
                    right_prefix="r_").orderBy("id")
    rows = out.collect()
    assert rows[0]["r_rid"] == 11           # a: max ts 200
    assert rows[1]["r_rid"] == 13           # b: ts tie -> max seq wins
    assert rows[2]["r_rid"] is None         # c: left preserved, NULL fill


def test_left_row_count_preserved(spark, lj):
    left, right = lj
    out = last_join(left, right, on="col1", order_by="std_ts", tiebreak="seq")
    assert out.count() == left.count()


def test_unsorted_requires_tiebreak(spark, lj):
    left, right = lj
    with pytest.raises(ValueError):
        last_join(left, right, on="col1")


def test_unsorted_with_tiebreak(spark, lj):
    left, right = lj
    out = last_join(left, right, on="col1", tiebreak="rid", right_prefix="r_").orderBy("id")
    rows = out.collect()
    assert rows[0]["r_rid"] == 11 and rows[1]["r_rid"] == 13


def test_condition_post_filter_plan(spark, lj):
    left, right = lj
    out = last_join(
        left,
        right,
        on="col1",
        order_by="std_ts",
        tiebreak="seq",
        condition=F.col("std_ts") < 200,
        right_prefix="r_",
    ).orderBy("id")
    rows = out.collect()
    assert rows[0]["r_rid"] == 10           # a: 200 filtered out, 100 remains
    assert rows[1]["r_rid"] == 13
    assert rows[2]["r_rid"] is None
    assert out.count() == 3


def test_right_only_condition_takes_dedupe_right_plan(spark, lj):
    """A condition referencing only right columns must NOT pay the fan-out
    post-filter plan (VERDICT r3 item 5): right is pre-filtered, then the
    dedupe-right plan runs — no per-left-row window, no
    monotonically_increasing_id in the physical plan."""
    left, right = lj
    out = last_join(
        left, right, on="col1", order_by="std_ts", tiebreak="seq",
        condition=F.col("std_ts") < 200, right_prefix="r_",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__omsk_left_id" not in plan
    assert "monotonically_increasing_id" not in plan


def test_two_sided_condition_keeps_post_filter_plan(spark, lj):
    """A genuinely two-sided condition still needs (and gets) the
    post-filter plan, with correct per-left-row semantics."""
    left, right = lj
    out = last_join(
        left, right, on="col1", order_by="std_ts", tiebreak="seq",
        condition=left["id"] * 100 >= right["std_ts"], right_prefix="r_",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__omsk_left_id" in plan
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["r_rid"] == 10   # a: only ts=100 satisfies 1*100 >= ts
    assert rows[2]["r_rid"] == 13   # b: both satisfy -> ts tie -> max seq
    assert rows[3]["r_rid"] is None


def test_colliding_condition_name(spark):
    """A column name that exists on BOTH sides: a plan-bound right["c"]
    condition is unambiguous (fails left-side analysis by attribute id) and
    takes the fast path; an unbound F.col("c") resolves on both sides, must
    NOT take the shortcut (it would silently bind right), and the general
    plan then correctly refuses the ambiguous reference."""
    left = spark.createDataFrame([(1, "a", 5)], "id int, col1 string, std_ts long")
    right = spark.createDataFrame(
        [(10, "a", 100, 1)], "rid int, col1 string, std_ts long, seq int"
    )
    out = last_join(
        left, right, on="col1", order_by=None, tiebreak="seq",
        condition=right["std_ts"] > 50, right_prefix="r_",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__omsk_left_id" not in plan
    assert out.collect()[0]["r_rid"] == 10
    with pytest.raises(Exception, match="AMBIGUOUS_REFERENCE"):
        last_join(
            left, right, on="col1", order_by=None, tiebreak="seq",
            condition=F.col("std_ts") > 50, right_prefix="r_",
        ).collect()


# ---------------------------------------------------------------------------
# one lowering: the SQL front end and the operator share the plan choice
# and the rank
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "on", ["l.k = r.rk", "l.k = r.rk AND l.lid < r.ts"], ids=["keys_only", "two_sided"]
)
def test_desc_string_rank_gives_one_answer(spark, on):
    """Three matches tie on ts; `r.name DESC` picks the smallest name
    whichever plan the ON clause selects. A string has no exact
    order-reversing long, so it never ranks inside the max_by struct."""
    tables = {
        "l": spark.createDataFrame([(1, "x")], "lid int, k string"),
        "r": spark.createDataFrame(
            [("x", 10, n) for n in "abc"], "rk string, ts long, name string"
        ),
    }
    out = sql(
        spark,
        f"SELECT r.name FROM l LAST JOIN r ORDER BY r.ts, r.name DESC ON {on}",
        tables,
    )
    assert [r["name"] for r in out.collect()] == ["a"]


def test_backquoted_right_key(spark):
    """A backquoted right key column names the same key as a bare one."""
    tables = {
        "l": spark.createDataFrame([(1, "x")], "lid int, k string"),
        "r": spark.createDataFrame([("x", 10, "a")], "rk string, ts long, name string"),
    }
    out = sql(
        spark, "SELECT r.name FROM l LAST JOIN r ORDER BY r.ts ON l.k = r.`rk`", tables
    )
    assert [r["name"] for r in out.collect()] == ["a"]


def test_right_only_conjunct_keeps_dedupe_plan(spark):
    """A right-only ON conjunct pre-filters the right side: the engine plans
    the max_by dedupe, with no Window node, as the operator does."""
    tables = {
        "l": spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "lid int, k string"),
        "r": spark.createDataFrame(
            [("a", 1, 50), ("a", 2, 70), ("a", 3, 55), ("b", 1, 40), ("c", 5, 61), ("c", 6, 90)],
            "rk string, ts long, v long",
        ),
    }
    out = sql(
        spark,
        "SELECT l.lid, r.ts, r.v FROM l LAST JOIN r ORDER BY r.ts "
        "ON l.k = r.rk AND r.v > 60",
        tables,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "max_by" in plan, plan
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2, 70), (2, None, None), (3, 6, 90)]


def test_sql_and_operator_pick_the_same_rows(spark):
    """Generated tables without NULL keys, NULLs and ties in every rank
    column but a unique last one: SQL `ORDER BY ts, tb1, tb2` and
    `last_join(order_by="ts", tiebreak=["tb1", "tb2"])` agree row for row."""
    import random

    rnd = random.Random(11)
    left = spark.createDataFrame(
        [(i, rnd.randrange(30)) for i in range(300)], "lid int, k int"
    )
    tb2 = list(range(2000))
    rnd.shuffle(tb2)
    right = spark.createDataFrame(
        [
            (rid, rnd.randrange(25), rnd.choice([None, 0, 1, 2, 3]),
             rnd.choice([None, 0, 1]), tb2[rid])
            for rid in range(2000)
        ],
        "rid int, k int, ts long, tb1 int, tb2 int",
    )
    via_sql = sql(
        spark,
        "SELECT l.lid, r.rid FROM l LAST JOIN r ORDER BY r.ts, r.tb1, r.tb2 "
        "ON l.k = r.k",
        {"l": left, "r": right},
    )
    via_op = last_join(
        left, right, on="k", order_by="ts", tiebreak=["tb1", "tb2"], right_prefix="r_"
    ).select("lid", "r_rid")
    want = sorted(tuple(r) for r in via_op.collect())
    assert len(want) == 300 and any(r[1] is None for r in want)
    assert sorted(tuple(r) for r in via_sql.collect()) == want


def test_null_keys_match_in_sql_only(spark):
    """The one difference between the entry points, by their key
    conditions: the dialect's index join matches NULL keys (null-safe
    struct equality), the operator's plain equality does not."""
    left = spark.createDataFrame([(1, None), (2, "a")], "lid int, k string")
    right = spark.createDataFrame([(None, 1, 10), ("a", 1, 20)], "k string, ts long, rid int")
    via_sql = sql(
        spark,
        "SELECT l.lid, r.rid FROM l LAST JOIN r ORDER BY r.ts ON l.k = r.k",
        {"l": left, "r": right},
    )
    assert sorted(tuple(r) for r in via_sql.collect()) == [(1, 10), (2, 20)]
    via_op = last_join(left, right, on="k", order_by="ts", right_prefix="r_")
    assert sorted(tuple(r) for r in via_op.select("lid", "r_rid").collect()) == [
        (1, None), (2, 20),
    ]


def _lj_tables(spark):
    return {
        "l": spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "lid int, k string"
        ),
        "r": spark.createDataFrame(
            [("a", 1, 50), ("a", 2, 70), ("a", 3, 55), ("b", 1, 40), ("c", 5, 61), ("c", 6, 90)],
            "rk string, ts long, v long",
        ),
    }


def test_between_in_on_clause(spark):
    """The AND of a BETWEEN is no conjunction: the ON clause joins whole."""
    out = sql(
        spark,
        "SELECT l.lid, r.ts, r.v FROM l LAST JOIN r ORDER BY r.ts "
        "ON l.k = r.rk AND r.ts BETWEEN 2 AND 5",
        _lj_tables(spark),
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 3, 55), (2, None, None), (3, 5, 61), (4, None, None),
    ]


def test_top_level_or_in_on_clause(spark):
    """`k AND v > 60 OR v < 45` is `(k AND v > 60) OR v < 45`: the row with
    v = 40 matches every left row, keyed or not."""
    out = sql(
        spark,
        "SELECT l.lid, r.ts, r.v FROM l LAST JOIN r ORDER BY r.ts "
        "ON l.k = r.rk AND r.v > 60 OR r.v < 45",
        _lj_tables(spark),
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 2, 70), (2, 1, 40), (3, 6, 90), (4, 1, 40),
    ]


def test_desc_timestamp_ntz_keeps_dedupe_plan(spark):
    """A timestamp_ntz column reverses exactly onto a long, so `ORDER BY
    ts DESC` over one still plans the max_by dedupe and picks the min."""
    tables = {
        "l": spark.createDataFrame([(1, "a"), (2, "b")], "lid int, k string"),
        "r": spark.sql(
            "SELECT * FROM VALUES "
            "('a', TIMESTAMP_NTZ'2024-03-10 02:30:00.000002', 1), "
            "('a', TIMESTAMP_NTZ'2024-03-10 02:30:00.000001', 2), "
            "('a', TIMESTAMP_NTZ'1960-01-01 00:00:00', 3), "
            "('b', TIMESTAMP_NTZ'2024-11-03 01:30:00', 4), "
            "('b', TIMESTAMP_NTZ'2024-11-03 01:30:00.5', 5) AS t(rk, ts, rid)"
        ),
    }
    out = sql(
        spark,
        "SELECT l.lid, r.rid FROM l LAST JOIN r ORDER BY r.ts DESC ON l.k = r.rk",
        tables,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "max_by" in plan, plan
    assert sorted(tuple(r) for r in out.collect()) == [(1, 3), (2, 4)]


def test_negated_equality_is_no_key_pair(spark):
    """`NOT l.k = r.rk` negates the comparison; it is no key equality."""
    out = sql(
        spark,
        "SELECT l.lid, r.ts, r.v FROM l LAST JOIN r ORDER BY r.ts "
        "ON NOT l.k = r.rk AND r.v < 60",
        _lj_tables(spark),
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 1, 40), (2, 3, 55), (3, 3, 55), (4, 3, 55),
    ]
