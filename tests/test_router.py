"""The one statement router: ``Engine.execute`` runs the classifier that
``Engine.statement_kind`` reports, so the two accept and refuse the same
statements. These pin the cases where the two used to disagree, and the
refusals that live in the classifier's table."""

from __future__ import annotations

import pytest

from openmldb_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    e = Engine(spark)
    e.execute("CREATE TABLE t (k bigint, ts timestamp, INDEX(KEY=k, TS=ts))")
    return e


@pytest.mark.parametrize(
    "sql, name, value",
    [
        ("SET GLOBAL execute_mode = 'offline'", "execute_mode", "offline"),
        ("SET SESSION job_timeout = 5", "job_timeout", "5"),
        ("SET @@session.sync_job = 'false'", "sync_job", "false"),
        ("SET @@global.enable_trace = true", "enable_trace", "true"),
        ("SET @@ttl_now_ms = 1590738990000;", "ttl_now_ms", "1590738990000"),
    ],
)
def test_set_forms_the_classifier_accepts_set_the_variable(eng, sql, name, value):
    assert Engine.statement_kind(sql) == "kSetStmt"
    assert eng.execute(sql) is None
    assert eng.variables[name] == value


def test_set_value_must_be_one_literal(eng):
    with pytest.raises(ValueError, match="single literal"):
        eng.execute("SET @@ttl_now_ms = 1 + 2")
    assert "ttl_now_ms" not in eng.variables


def test_set_keeps_the_variable_checks(eng):
    with pytest.raises(ValueError, match="unsupported system variable"):
        eng.execute("SET GLOBAL no_such_var = 1")
    with pytest.raises(ValueError, match="execute_mode"):
        eng.execute("SET @@execute_mode = 'batch'")


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT INTO t (k) (1)",
        "INSERT INTO t foo VALUES (1, 1000)",
        "INSERT t VALUES (1, 1000)",
        "INSERT INTO t VALUES (9223372036854775808, 1000)",
        "CREATE TABLE u",
        "CREATE TABLE u foo (a int)",
        "CREATE TABLE IF NOT EXISTS u (a int)",
        "CREATE TABLE nodb.u (a int)",
    ],
)
def test_malformed_insert_or_create_table_raises_value_error(eng, sql):
    with pytest.raises(ValueError):
        eng.execute(sql)


def test_int64_range_holds_on_both_signs(eng):
    eng.execute("INSERT INTO t VALUES (-9223372036854775808, 1000)")
    eng.execute("INSERT INTO t VALUES (9223372036854775807, 2000)")
    assert sorted(r["k"] for r in eng.execute("SELECT k FROM t").collect()) == [
        -(1 << 63), (1 << 63) - 1,
    ]


@pytest.mark.parametrize(
    "sql, message",
    [
        ("CREATE GROUP g1", "CREATE GROUP is not supported"),
        ("DELETE JOB 1", "DELETE JOB is not supported"),
        ("STOP JOB abc", "numeric job id"),
        ("DROP DEPLOYMENT db.d1", "unqualified name"),
        ("CREATE TABLE t4", r"CREATE TABLE t \(<columns>\) expected"),
    ],
)
def test_parser_accepted_statements_the_engine_refuses(eng, sql, message):
    Engine.statement_kind(sql)  # the reference's parser accepts it
    with pytest.raises(ValueError, match=message):
        eng.execute(sql)


def test_exit_is_a_no_op(eng):
    assert Engine.statement_kind("EXIT;") == "CMD:exit"
    assert eng.execute("EXIT;") is None


def test_show_grammar_is_checked_before_running(eng):
    for sql in ("SHOW TABLES extra", "SHOW JOB", "SHOW JOB abc", "SHOW NOTHING"):
        with pytest.raises(ValueError):
            Engine.statement_kind(sql)
        with pytest.raises(ValueError):
            eng.execute(sql)
    assert [r[0] for r in eng.execute("SHOW TABLES;").collect()] == ["t"]
    assert eng.execute("SHOW CURRENT_USER").collect()[0][0] == "root"
    assert eng.execute("SHOW JOBS FROM NAMESERVER LIKE 'x'").count() == 0


def test_deployment_names_route_as_written(eng):
    eng.execute("CREATE DATABASE db2")
    eng.execute("USE db2")
    eng.execute("CREATE TABLE r (k bigint, ts timestamp, INDEX(KEY=k, TS=ts))")
    eng.execute(
        "DEPLOY d1 SELECT k, count(k) OVER w AS n FROM r "
        "WINDOW w AS (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    )
    eng.execute("USE default")
    assert eng.execute("SHOW DEPLOYMENT db2.d1").count() > 0
    with pytest.raises(ValueError, match="unqualified"):
        eng.execute("DROP DEPLOYMENT db2.d1")
    eng.execute("USE db2")
    assert eng.execute("DROP DEPLOYMENT d1") is None
    assert eng.execute("SHOW DEPLOYMENTS").count() == 0


def test_drop_table_forms(eng):
    """DROP TABLE t1 / DROP TABLE db1.t1 / DROP TABLE IF EXISTS t1 (plan
    corpus cmd.yaml ids 14-1..14-3): the IF EXISTS form drops t1, not a
    table named IF, and is a no-op once t1 is gone."""
    def tables():
        return [r[0] for r in eng.execute("SHOW TABLES").collect()]

    eng.execute("CREATE TABLE t1 (c1 int, ts timestamp, INDEX(KEY=c1, TS=ts))")
    assert eng.execute("DROP TABLE IF EXISTS t1;") is None
    assert tables() == ["t"]
    assert eng.execute("DROP TABLE IF EXISTS t1;") is None
    with pytest.raises(ValueError, match="does not exist"):
        eng.execute("DROP TABLE t1;")
    eng.execute("CREATE TABLE t1 (c1 int, ts timestamp, INDEX(KEY=c1, TS=ts))")
    eng.execute("DROP TABLE t1;")
    assert tables() == ["t"]
    eng.execute("CREATE DATABASE db1")
    eng.execute("CREATE TABLE db1.t1 (c1 int, ts timestamp, INDEX(KEY=c1, TS=ts))")
    eng.execute("DROP TABLE db1.t1;")
    eng.execute("USE db1")
    assert tables() == []


def test_deploy_if_not_exists(eng):
    """DEPLOY IF NOT EXISTS (plan corpus deploy_stmt_2 /
    deploy_stmt_options): the name after the guard is the deployment's,
    and an existing name is a no-op that returns the deployment."""
    eng.execute("CREATE TABLE t1 (col1 int, ts timestamp, INDEX(KEY=col1, TS=ts))")
    dep = eng.execute("DEPLOY IF NOT EXISTS foo2 SELECT col1 from t1;")
    assert dep.name == "foo2" and set(eng.deployments) == {"foo2"}
    assert eng.execute("DEPLOY IF NOT EXISTS foo2 SELECT col1 from t1;") is dep
    with pytest.raises(ValueError, match="already exists"):
        eng.execute("DEPLOY foo2 SELECT col1 from t1;")
    # the option is read in double quotes too: the corpus statement names
    # a window its SELECT does not use, which the deploy refuses
    with pytest.raises(ValueError, match="long_windows"):
        eng.execute(
            'DEPLOY IF NOT EXISTS foo_op OPTIONS(long_windows="w1:100") SELECT col1 from t1;'
        )
    windowed = (
        'DEPLOY IF NOT EXISTS foo_op OPTIONS(long_windows="w1:100") '
        "SELECT col1, sum(col1) OVER w1 AS s FROM t1 WINDOW w1 AS "
        "(PARTITION BY col1 ORDER BY ts ROWS_RANGE BETWEEN 1s PRECEDING AND CURRENT ROW)"
    )
    op = eng.execute(windowed)
    assert op.name == "foo_op" and op.long_windows == {"w1": "100"}
    assert eng.execute(windowed) is op
    assert set(eng.deployments) == {"foo2", "foo_op"}
