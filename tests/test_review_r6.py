"""Regression tests for the round-6 self-review findings:

1. Order-less window (`ROWS_RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
   ROW` with no ORDER BY) aggregates the WHOLE partition, not an arbitrary
   per-row prefix (ref query/window_query.yaml id 28).
2. run_batch_request falls back to the plain request path when the deploy
   SQL's WHERE depends on a non-common request column (the representative-
   row shortcut would otherwise empty the whole batch).
3. Subquery-FROM deployments bind window-union history THROUGH the
   subquery's filter, so request frames never see excluded rows.
4. Request-mode serving history is TTL-filtered, matching batch reads.
5. SELECT INTO OUTFILE honors OPTIONS(coalesce=1).
6. Long-window *_where accepts a negative constant (`c2 < -5`).
7. SHOW JOB / STOP JOB reject malformed ids with a clean error.
"""

import datetime
import os

import pytest

from openmldb_spark.engine import Engine
from openmldb_spark.sql import sql


@pytest.fixture()
def eng(spark):
    return Engine(spark)


def test_orderless_window_is_whole_partition(spark):
    df = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 20), (3, 400, 1), (4, 400, 2), (5, 400, 3)],
        "id int, gp int, v int",
    )
    out = sql(
        spark,
        "select id, count(v) over w as cv, sum(v) over w as sv from t "
        "window w as (partition by gp rows_range between unbounded preceding "
        "and current row)",
        tables={"t": df},
    )
    got = {r["id"]: (r["cv"], r["sv"]) for r in out.collect()}
    assert got == {1: (2, 30), 2: (2, 30), 3: (3, 6), 4: (3, 6), 5: (3, 6)}


def _mk_t1(eng):
    eng.execute(
        "create table t1 (id int, cc string, v int, ts timestamp, "
        "index(key=cc, ts=ts))"
    )
    eng.execute("insert into t1 values (1, 'a', 20, 1000), (2, 'a', 7, 2000)")


def test_batch_request_noncommon_where_falls_back(spark, eng):
    _mk_t1(eng)
    eng.execute(
        "deploy d1 select id, cc, sum(v) over w as sv from t1 where v > 0 "
        "window w as (partition by cc order by ts "
        "rows_range between 10s preceding and current row)"
    )
    dep = eng.deployments["d1"]
    t = datetime.datetime(1970, 1, 1, 0, 0, 3)
    reqs = spark.createDataFrame(
        [(10, "a", -5, t), (11, "a", 13, t)],
        "id int, cc string, v int, ts timestamp",
    )
    out = dep.run_batch_request(reqs, ["cc"]).collect()
    # the v=-5 request is dropped by the WHERE; the other one must survive
    assert len(out) == 1 and out[0]["id"] == 11


def test_subquery_from_history_is_filtered(spark, eng):
    eng.execute(
        "create table t2 (id int, cc string, v int, ts timestamp, "
        "index(key=cc, ts=ts))"
    )
    eng.execute("insert into t2 values (1, 'a', 5, 1000), (2, 'a', 1000, 1500)")
    eng.execute(
        "deploy d2 select id, sum(v) over w as sv from "
        "(select * from t2 where v < 100) x "
        "window w as (partition by cc order by ts "
        "rows_range between 10s preceding and current row)"
    )
    reqs = spark.createDataFrame(
        [(9, "a", 2, datetime.datetime(1970, 1, 1, 0, 0, 2))],
        "id int, cc string, v int, ts timestamp"
    )
    [row] = eng.deployments["d2"].run_request(reqs).collect()
    assert row["sv"] == 7  # 5 (history, kept) + 2 (request); 1000 excluded


@pytest.mark.slow
def test_request_mode_history_respects_ttl(spark, eng):
    eng.execute(
        "create table t3 (id int, cc string, v int, ts timestamp, "
        "index(key=cc, ts=ts, ttl=1, ttl_type=latest))"
    )
    eng.execute(
        "insert into t3 values (1, 'a', 1, 1000), (2, 'a', 2, 2000), "
        "(3, 'a', 4, 3000)"
    )
    eng.execute(
        "deploy d3 select id, count(v) over w as cv from t3 "
        "window w as (partition by cc order by ts "
        "rows_range between 10s preceding and current row)"
    )
    reqs = spark.createDataFrame(
        [(9, "a", 8, datetime.datetime(1970, 1, 1, 0, 0, 4))],
        "id int, cc string, v int, ts timestamp"
    )
    [row] = eng.deployments["d3"].run_request(reqs).collect()
    # TTL=1 latest keeps only the newest history row per key: frame =
    # that row + the request row — matching what batch SELECT exposes
    assert row["cv"] == 2


def test_select_into_coalesce(spark, eng, tmp_path):
    _mk_t1(eng)
    out_dir = str(tmp_path / "out")
    eng.execute(
        f"select id, v from t1 into outfile '{out_dir}' "
        "options (coalesce=1)"
    )
    parts = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    assert len(parts) == 1


@pytest.mark.slow
def test_long_window_where_negative_constant(spark, eng):
    eng.execute(
        "create table t4 (id int, cc string, v int, c2 int, ts timestamp, "
        "index(key=cc, ts=ts))"
    )
    eng.execute(
        "insert into t4 values (1, 'a', 10, -9, 1000), (2, 'a', 3, 4, 2000)"
    )
    eng.execute(
        "deploy d4 options(long_windows='w1:1s') "
        "select id, sum_where(v, c2 < -5) over w1 as sw from t4 "
        "window w1 as (partition by cc order by ts "
        "rows_range between 1d preceding and current row)"
    )
    dep = eng.deployments["d4"]
    reqs = spark.createDataFrame(
        [(9, "a", 7, -8, datetime.datetime(1970, 1, 1, 0, 0, 3))],
        "id int, cc string, v int, c2 int, ts timestamp"
    )
    [row] = dep.run_request(reqs).collect()
    assert row["sw"] == 17  # 10 (c2=-9) + 7 (request, c2=-8); c2=4 excluded


def test_job_statement_malformed_ids(spark, eng):
    with pytest.raises(ValueError):
        eng.execute("stop job")
    with pytest.raises(ValueError):
        eng.execute("stop job abc")
