"""Every DROP path releases a deployment's serving state: the compiled
request plan's staged directory (and its indexes). DROP DEPLOYMENT is
pinned in tests/test_compiled_serving.py; save_bucketed orphan
resilience is pinned in tests/test_bucketed.py."""

import datetime
import os

import pytest

from openmldb_spark.engine import Engine


DDL = (
    "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
    " INDEX(KEY=(c1), TS=c7))"
)
ROWS = [
    (1, "aa", 30, 1590738991000),
    (2, "aa", 31, 1590738992000),
    (3, "bb", 32, 1590738993000),
]
SQL = (
    "SELECT id, c1, sum(c4) OVER w1 as w1_long FROM t0 WINDOW w1 AS "
    "(PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 2s "
    "PRECEDING AND CURRENT ROW)"
)
REQUEST = (9, "aa", 40, datetime.datetime.utcfromtimestamp(1590738993))


def _engine(spark):
    eng = Engine(spark)
    eng.execute(DDL)
    vals = ", ".join(
        "(%d, %r, %d, %d)" % r for r in ROWS
    )
    eng.execute(f"INSERT INTO t0 VALUES {vals}")
    return eng


def _staged_dir(dep) -> str:
    """Serve once (which compiles the plan) and return its staged dir."""
    [row] = dep.run_request_rows([REQUEST])
    assert row["w1_long"] == 30 + 31 + 40
    assert os.path.isdir(dep._compiled._dir)
    return dep._compiled._dir


@pytest.mark.parametrize(
    "drop_sql",
    ["DROP DEPLOYMENT d1", "DROP TABLE t0"],
    ids=["drop_deployment", "drop_table"],
)
def test_drop_releases_compiled_plan(spark, drop_sql):
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY d1 OPTIONS(long_windows='w1:2s') {SQL}")
    staged = _staged_dir(dep)
    eng.execute(drop_sql)
    assert not os.path.exists(staged), f"{drop_sql} leaked the staged dir"
    assert dep._compiled is None


def test_drop_procedure_releases_compiled_plan(spark):
    eng = _engine(spark)
    dep = eng.execute(
        "CREATE PROCEDURE p1(id int, c1 string, c4 bigint, c7 timestamp) "
        f"BEGIN {SQL}; END"
    )
    staged = _staged_dir(dep)
    eng.execute("DROP PROCEDURE p1")
    assert not os.path.exists(staged), "DROP PROCEDURE leaked the staged dir"
    assert dep._compiled is None


def test_drop_database_releases_compiled_plan(spark):
    eng = _engine(spark)  # creates t0 in 'default'
    eng.execute("CREATE DATABASE lwdb")
    eng.execute("USE lwdb")
    eng.execute(DDL)
    vals = ", ".join("(%d, %r, %d, %d)" % r for r in ROWS)
    eng.execute(f"INSERT INTO t0 VALUES {vals}")
    dep = eng.execute(f"DEPLOY d2 OPTIONS(long_windows='w1:2s') {SQL}")
    staged = _staged_dir(dep)
    eng.execute("USE default")
    eng.execute("DROP DATABASE lwdb")
    assert not os.path.exists(staged), "DROP DATABASE leaked the staged dir"
    assert dep._compiled is None
