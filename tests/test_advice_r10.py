"""Regression pins for the five r9 ADVICE findings:

1. stream-name scoping normalized through (db, bare) — core.py
2. long-window deploy over a set-op body gets the reference's
   'unsupported multi tables' error, not an AttributeError — deploy.py
3. '2min' bucket units rejected like the reference aggregator — deploy.py
4. the compiled request plan's key includes execute_mode — serving.py
5. budget_chunks eager materialization leaves no CacheManager entry —
   sampling.py
"""

import datetime

import pytest

from openmldb_spark.engine import Engine


def _stream(spark, tmp_path):
    src = tmp_path / "advice_src"
    src.mkdir(exist_ok=True)
    return (
        spark.readStream.schema("pk string, ts bigint, v double")
        .parquet(str(src))
    )


# -- 1: stream-name scoping ------------------------------------------------

def test_stream_scoping_qualified_registration_guards_bare_create(
    spark, tmp_path
):
    """A stream registered as 'db1.s' lives at (db1, s): CREATE TABLE
    db1.s is rejected, while CREATE TABLE s (current db 'default') and
    CREATE TABLE db2.s are fine — the old raw-name keying got all three
    wrong ways around."""
    eng = Engine(spark)
    eng.execute("CREATE DATABASE db1")
    eng.execute("CREATE DATABASE db2")
    eng.register_stream("db1.s", _stream(spark, tmp_path))
    with pytest.raises(ValueError, match="stream"):
        eng.execute("CREATE TABLE db1.s (id int)")
    eng.execute("CREATE TABLE s (id int)")       # default.s: no clash
    eng.execute("CREATE TABLE db2.s (id int)")   # db2.s: no clash


def test_stream_scoping_bare_registration_allows_other_db_create(
    spark, tmp_path
):
    eng = Engine(spark)
    eng.execute("CREATE DATABASE db3")
    eng.register_stream("s", _stream(spark, tmp_path))  # (default, s)
    with pytest.raises(ValueError, match="stream"):
        eng.execute("CREATE TABLE s (id int)")
    eng.execute("CREATE TABLE db3.s (id int)")  # different db: allowed
    # and the batch-shadow guard is loc-aware both ways
    with pytest.raises(ValueError, match="batch table"):
        eng.register_stream("db3.s", _stream(spark, tmp_path))


# -- 2 + 3: long-window deploy validation -----------------------------------

def test_long_window_setop_deploy_rejected_cleanly(spark):
    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
        " INDEX(KEY=(c1), TS=c7))"
    )
    with pytest.raises(ValueError, match="multi tables with long window"):
        eng.execute(
            "DEPLOY dsu OPTIONS(long_windows='w1:2s') "
            "SELECT id FROM t0 UNION ALL SELECT id FROM t0"
        )


def test_long_window_min_bucket_unit_rejected(spark):
    """The reference aggregator only accepts single-char units s/m/h/d
    (src/storage/aggregator.cc:1262-1280): '2min' fails creation there,
    so it must fail here too (the old regex accepted it)."""
    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
        " INDEX(KEY=(c1), TS=c7))"
    )
    sql = (
        "SELECT id, c1, sum(c4) OVER w1 as s FROM t0 WINDOW w1 AS "
        "(PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 2s "
        "PRECEDING AND CURRENT ROW)"
    )
    with pytest.raises(ValueError, match="create aggregator failed"):
        eng.execute(f"DEPLOY dmin OPTIONS(long_windows='w1:2min') {sql}")
    # the accepted single-char spelling still deploys
    eng.execute(f"DEPLOY dm OPTIONS(long_windows='w1:2m') {sql}")


# -- 4: the compiled plan's key carries execute_mode --------------------------

def test_execute_mode_switch_rebuilds_compiled_plan(spark):
    """online->offline drops the TTL filter from _serving_history, so a
    plan compiled online frames over different rows: the mode switch must
    rebuild it."""
    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
        " INDEX(KEY=(c1), TS=c7, TTL=2s, TTL_TYPE=absolute))"
    )
    eng.execute(
        "INSERT INTO t0 VALUES (1, 'aa', 30, 1590738991000),"
        " (2, 'aa', 31, 1590738995000)"
    )
    dep = eng.execute(
        "DEPLOY dmode OPTIONS(long_windows='w1:2s') "
        "SELECT id, c1, sum(c4) OVER w1 as s FROM t0 WINDOW w1 AS "
        "(PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 10s "
        "PRECEDING AND CURRENT ROW)"
    )
    req = [(9, "aa", 40, datetime.datetime.utcfromtimestamp(1590738996))]
    try:
        # online (TTL 2s from max ts): only the newest row survives
        assert dep.run_request_rows(req)[0]["s"] == 31 + 40
        online_plan = dep._compiled
        eng.execute("SET @@execute_mode = 'offline'")
        assert dep.run_request_rows(req)[0]["s"] == 30 + 31 + 40
        assert dep._compiled is not online_plan, "mode switch reused a stale plan"
    finally:
        eng.execute("SET @@execute_mode = 'online'")
        dep.release_serving()


# -- 5: budget_chunks leaves no CacheManager entry ---------------------------

def test_budget_chunks_no_cache_manager_entry(spark):
    from openmldb_spark.pipeline.sampling import budget_chunks

    spark.catalog.clearCache()
    df = spark.range(0, 1000).selectExpr(
        "id", "cast(10 as bigint) as toks"
    )
    out = budget_chunks(
        df, token_col="toks", order_col="id", budget=100
    )
    rows = {r["id"]: r["chunk_id"] for r in out.collect()}
    assert rows[0] == 0 and rows[999] == 99
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "budget_chunks left a persisted entry behind"
    )
