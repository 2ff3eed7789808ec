"""Engine facade: DDL/DML statement routing + DEPLOY request-mode
semantics (batch ≡ request consistency, the reference's north star)."""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    return Engine(spark)


def test_ddl_insert_select(eng):
    eng.execute("CREATE DATABASE db1")
    eng.execute("USE db1")
    eng.execute(
        "CREATE TABLE t1 (id int, pk string, v double, ts bigint, "
        "INDEX(KEY=pk, TS=ts, TTL=30d, TTL_TYPE=absolute))"
    )
    eng.execute(
        "INSERT INTO t1 VALUES (1, 'a', 1.5, 1000), (2, 'a', 2.5, 2000), "
        "(3, 'b', 10.0, 1000)"
    )
    out = eng.execute("SELECT pk, sum(v) AS s FROM t1 GROUP BY pk")
    assert {r["pk"]: r["s"] for r in out.collect()} == {"a": 4.0, "b": 10.0}
    idx = eng.table_defs["t1"].indexes[0]
    assert idx.keys == ["pk"] and idx.ts_col == "ts" and idx.ttl == "30d"
    assert [r["table_name"] for r in eng.execute("SHOW TABLES").collect()] == ["t1"]


def test_insert_column_list_and_nulls(eng):
    eng.execute("CREATE TABLE t2 (a int, b string, c double)")
    eng.execute("INSERT INTO t2 (c, a) VALUES (1.5, 7)")
    row = eng.execute("SELECT * FROM t2").collect()[0]
    assert row["a"] == 7 and row["b"] is None and row["c"] == 1.5


def test_load_and_select_into_roundtrip(eng, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("id,name\n1,x\n2,y\n")
    # the reference requires the target table to exist (test_out_in id 26)
    eng.execute("CREATE TABLE src (id int, name string)")
    eng.execute(f"LOAD DATA INFILE '{csv}' INTO TABLE src OPTIONS(format='csv', mode='append')")
    assert eng.execute("SELECT count(*) AS n FROM src").collect()[0]["n"] == 2
    out_dir = tmp_path / "out"
    eng.execute(
        f"SELECT id, ucase(name) AS un FROM src INTO OUTFILE '{out_dir}' "
        "OPTIONS(format='csv', mode='overwrite')"
    )
    eng.execute("CREATE TABLE back (id int, un string)")
    eng.execute(f"LOAD DATA INFILE '{out_dir}' INTO TABLE back OPTIONS(format='csv', mode='append')")
    assert {tuple(r) for r in eng.execute("SELECT * FROM back").collect()} == {
        (1, "X"), (2, "Y"),
    }


def test_deploy_batch_vs_request_consistency(eng, spark):
    """Train/serve consistency: a row's batch-mode features equal its
    request-mode features computed against the history that preceded it."""
    eng.execute("CREATE TABLE ev (pk string, ts bigint, v double)")
    rows = [("a", t * 1000, float(t)) for t in range(1, 9)] + [
        ("b", t * 1000, 10.0 * t) for t in range(1, 5)
    ]
    vals = ", ".join(f"('{p}', {t}, {v})" for p, t, v in rows)
    eng.execute(f"INSERT INTO ev VALUES {vals}")

    dep = eng.execute(
        "DEPLOY f1 SELECT pk, ts, sum(v) OVER w1 AS sv, count(v) OVER w1 AS cv "
        "FROM ev WINDOW w1 AS (PARTITION BY pk ORDER BY ts "
        "ROWS_RANGE BETWEEN 3s PRECEDING AND CURRENT ROW)"
    )
    batch = {(r["pk"], r["ts"]): (r["sv"], r["cv"]) for r in dep.run_batch().collect()}

    # request mode: replay each of the last rows against its true past
    ev = eng.tables["ev"]
    for pk, ts in [("a", 8000), ("b", 4000), ("a", 5000)]:
        req = ev.where((F.col("pk") == pk) & (F.col("ts") == ts))
        hist = ev.where(~((F.col("pk") == pk) & (F.col("ts") == ts)))
        got = dep.run_request(req, hist).collect()
        assert len(got) == 1
        assert (got[0]["sv"], got[0]["cv"]) == batch[(pk, ts)]


def test_execute_script(eng):
    results = eng.execute_script(
        """
        CREATE TABLE s1 (id int, v double);  -- comment with ; inside
        INSERT INTO s1 VALUES (1, 1.5), (2, 2.5);
        SELECT id, v FROM s1;
        SELECT 'a;b' AS s;
        """
    )
    assert results[0] is None and results[1] is None
    assert sorted(tuple(r) for r in results[2].collect()) == [(1, 1.5), (2, 2.5)]
    # a string literal containing ';' survives statement splitting
    assert results[3].collect()[0]["s"] == "a;b"


@pytest.mark.slow
def test_deploy_long_windows_preagg(eng, spark):
    """OPTIONS(long_windows=...): request mode serves the exact frame over
    raw history plus the request row."""
    eng.execute("CREATE TABLE lw (pk string, ts bigint, v double)")
    rows = [("a", t * 1000, float(t % 5) + 0.5) for t in range(1, 40)] + [
        ("b", t * 1000, 2.0 * t) for t in range(1, 20)
    ]
    vals = ", ".join(f"('{p}', {t}, {v})" for p, t, v in rows)
    eng.execute(f"INSERT INTO lw VALUES {vals}")
    dep = eng.execute(
        "DEPLOY lw1 OPTIONS(long_windows='w1:4s') "
        "SELECT pk, ts, sum(v) OVER w1 AS sv, avg(v) OVER w1 AS av, "
        "count(v) OVER w1 AS cv, max(v) OVER w1 AS xv "
        "FROM lw WINDOW w1 AS (PARTITION BY pk ORDER BY ts "
        "ROWS_RANGE BETWEEN 12s PRECEDING AND CURRENT ROW)"
    )
    reqs = spark.createDataFrame(
        [("a", 41000, 9.0), ("b", 21000, 1.0), ("c", 5000, 3.0)],
        "pk string, ts bigint, v double",
    )
    got = {
        (r["pk"], r["ts"]): (r["sv"], r["av"], r["cv"], r["xv"])
        for r in dep.run_request(reqs).collect()
    }
    # DEPLOY derives a 1min absolute TTL index on (pk, ts), and that TTL
    # reads the BIGINT ts as epoch seconds while the window reads epoch
    # ms: history keeps only ts > 39000 - 60 (the table's newest row, a's
    # t = 39, v 4.5). The raw-ms frames would read a 38.5 and b 309.0.
    want = {
        ("a", 41000): (13.5, 6.75, 2, 9.0),
        ("b", 21000): (1.0, 1.0, 1, 1.0),
        ("c", 5000): (3.0, 3.0, 1, 3.0),
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k]), (k, got[k], want[k])


def test_deploy_with_last_join_and_window(eng, spark):
    """The full serving shape: request row -> LAST JOIN dim enrich ->
    sliding window over history (batch ≡ request replay)."""
    eng.execute("CREATE TABLE tx (pk string, ts bigint, amt double)")
    eng.execute("CREATE TABLE dim (k string, seg string, dts bigint)")
    eng.execute(
        "INSERT INTO tx VALUES ('a', 1000, 1.0), ('a', 2000, 2.0), "
        "('a', 3000, 3.0), ('b', 1000, 5.0), ('b', 2000, 6.0)"
    )
    eng.execute(
        "INSERT INTO dim VALUES ('a', 'old', 10), ('a', 'gold', 20), ('b', 'base', 10)"
    )
    dep = eng.execute(
        "DEPLOY serve1 SELECT t1.pk, t1.ts, t2.seg, sum(t1.amt) OVER w1 AS sa "
        "FROM tx t1 LAST JOIN dim t2 ORDER BY t2.dts ON t1.pk = t2.k "
        "WINDOW w1 AS (PARTITION BY t1.pk ORDER BY t1.ts "
        "ROWS_RANGE BETWEEN 2s PRECEDING AND CURRENT ROW)"
    )
    batch = {(r["pk"], r["ts"]): (r["seg"], r["sa"]) for r in dep.run_batch().collect()}
    assert batch[("a", 3000)] == ("gold", 6.0)
    assert batch[("b", 2000)] == ("base", 11.0)

    tx = eng.tables["tx"]
    req = tx.where((F.col("pk") == "a") & (F.col("ts") == 3000))
    hist = tx.where(~((F.col("pk") == "a") & (F.col("ts") == 3000)))
    got = dep.run_request(req, hist).collect()
    assert len(got) == 1
    assert (got[0]["seg"], got[0]["sa"]) == batch[("a", 3000)]


def test_deploy_schema_contract(eng, spark):
    eng.execute("CREATE TABLE c1 (pk string, ts bigint, v double)")
    eng.execute("INSERT INTO c1 VALUES ('a', 1000, 1.0)")
    dep = eng.execute(
        "DEPLOY g1 SELECT pk, sum(v) OVER w1 AS s FROM c1 WINDOW w1 AS "
        "(PARTITION BY pk ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    )
    bad = spark.createDataFrame([("a", 1)], "pk string, ts int")
    with pytest.raises(ValueError, match="contract"):
        dep.run_request(bad)


def test_delete_from_where_roundtrip(eng):
    eng.execute("CREATE TABLE td (id int, pk string, v double)")
    eng.execute(
        "INSERT INTO td VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0)"
    )
    eng.execute("DELETE FROM td WHERE pk = 'a'")
    assert sorted(r["id"] for r in eng.execute("SELECT * FROM td").collect()) == [2]
    # NULL condition rows do not match -> kept
    eng.execute("CREATE TABLE td2 (id int, v double)")
    eng.execute("INSERT INTO td2 VALUES (1, NULL), (2, 5.0), (3, 1.0)")
    eng.execute("DELETE FROM td2 WHERE v > 2")
    assert sorted(r["id"] for r in eng.execute("SELECT * FROM td2").collect()) == [1, 3]


def test_load_options_preserve_value_case(eng, tmp_path):
    # null_value='NULL' must not be lowercased to 'null'
    p = str(tmp_path / "case.csv")
    with open(p, "w") as fh:
        fh.write("id,name\n1,NULL\n2,Alice\n")
    eng.execute("CREATE TABLE tc (id int, name string)")
    eng.execute(
        f"LOAD DATA INFILE '{p}' INTO TABLE tc "
        "OPTIONS(format='csv', header=true, null_value='NULL', mode='append')"
    )
    rows = {r["id"]: r["name"] for r in eng.execute("SELECT * FROM tc").collect()}
    assert rows == {1: None, 2: "Alice"}


def test_lag_past_frame_consistent_batch_vs_request(eng, spark):
    """lag is partition-relative and IGNORES frame bounds (reference
    compiles it to its own ROWS(offset..current) window, DIVERGENCES #11);
    batch and request mode must agree — regression for the
    native-vs-array path split."""
    eng.execute("CREATE TABLE ev2 (pk string, ts bigint, v double)")
    rows = [("a", t * 1000, float(t)) for t in range(1, 9)]
    vals = ", ".join(f"('{p}', {t}, {v})" for p, t, v in rows)
    eng.execute(f"INSERT INTO ev2 VALUES {vals}")

    dep = eng.execute(
        "DEPLOY flag SELECT pk, ts, lag(v, 4) OVER w1 AS l4 "
        "FROM ev2 WINDOW w1 AS (PARTITION BY pk ORDER BY ts "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    )
    batch = {(r["pk"], r["ts"]): r["l4"] for r in dep.run_batch().collect()}
    # offset 4 > frame of 3 rows: still the 4-rows-back value
    assert batch[("a", 8000)] == 4.0 and batch[("a", 4000)] is None

    ev = eng.tables["ev2"]
    req = ev.where(F.col("ts") == 8000)
    hist = ev.where(F.col("ts") != 8000)
    got = dep.run_request(req, hist).collect()
    assert len(got) == 1 and got[0]["l4"] == batch[("a", 8000)]


def test_lag_ignores_range_bound_and_attributes(spark):
    """Reference YAML window_attributes.yaml case 0: lag over a ROWS_RANGE
    window with EXCLUDE CURRENT_ROW still returns the physically previous
    row, even when the frame itself is empty."""
    from openmldb_spark.functions import aggregates as A
    from openmldb_spark.operators.window import WindowDef, window_agg

    rows = [("a", 1000, 1.0), ("a", 2000, 2.0), ("a", 9000, 9.0), ("a", 10000, 10.0)]
    df = spark.createDataFrame(rows, "pk string, ts long, v double")
    wd = WindowDef(partition_by=["pk"], order_by="ts", rows_range="3s",
                   exclude_current_time=True, maxsize=2)
    out = window_agg(df, wd, {"l1": A.lag("v", 1), "cnt": A.count_("v")})
    got = {r["ts"]: r["l1"] for r in out.collect()}
    # previous physical row regardless of the 3s range
    assert got[1000] is None and got[2000] == 1.0
    assert got[9000] == 2.0 and got[10000] == 9.0


def test_create_function_scalar_and_aggregate(eng, tmp_path):
    """CREATE FUNCTION loads a Python module and registers pandas UDFs
    (ref: docs/en/openmldb_sql/ddl/CREATE_FUNCTION.md — .so there, .py here)."""
    p = tmp_path / "fns.py"
    p.write_text(
        "def cut2(s):\n"
        "    return s.str.slice(0, 2)\n"
        "def special_sum(v):\n"
        "    return v.sum() + 1\n"
    )
    eng.execute("CREATE TABLE tf (id int, name string, v bigint)")
    eng.execute(
        "INSERT INTO tf VALUES (1, 'hello', 10), (2, 'world', 20), (3, 'hey', 5)"
    )
    eng.execute(f"CREATE FUNCTION cut2(x string) RETURNS string OPTIONS (FILE='{p}')")
    eng.execute(
        f"CREATE AGGREGATE FUNCTION special_sum(x bigint) RETURNS bigint "
        f"OPTIONS (FILE='{p}')"
    )
    out = eng.execute("SELECT id, cut2(name) AS c FROM tf")
    assert {r["id"]: r["c"] for r in out.collect()} == {1: "he", 2: "wo", 3: "he"}
    out2 = eng.execute("SELECT special_sum(v) AS s FROM tf GROUP BY id % 1")
    assert out2.collect()[0]["s"] == 36
    fns = {r["name"]: r["kind"] for r in eng.execute("SHOW FUNCTIONS").collect()}
    assert fns == {"cut2": "SCALAR", "special_sum": "AGGREGATE"}
    eng.execute("DROP FUNCTION cut2")
    assert "cut2" not in {r["name"] for r in eng.execute("SHOW FUNCTIONS").collect()}


def test_deploy_end_bound_batch_vs_request(eng, spark):
    """Bounded upper frame ends survive the request-mode window rewrite
    (UNION history + INSTANCE_NOT_IN_WINDOW) — batch == request."""
    eng.execute("CREATE TABLE eb (pk string, ts bigint, v double)")
    rows = [("a", t * 1000, float(t)) for t in range(1, 10)]
    vals = ", ".join(f"('{p}', {t}, {v})" for p, t, v in rows)
    eng.execute(f"INSERT INTO eb VALUES {vals}")
    dep = eng.execute(
        "DEPLOY fe SELECT pk, ts, sum(v) OVER w1 AS sv, count(v) OVER w1 AS cv "
        "FROM eb WINDOW w1 AS (PARTITION BY pk ORDER BY ts "
        "ROWS_RANGE BETWEEN 4s PRECEDING AND 2s PRECEDING)"
    )
    batch = {(r["pk"], r["ts"]): (r["sv"], r["cv"]) for r in dep.run_batch().collect()}
    # ts=9000: frame [5000, 7000] -> v 5+6+7 = 18
    assert batch[("a", 9000)] == (18.0, 3)
    ev = eng.tables["eb"]
    req = ev.where(F.col("ts") == 9000)
    hist = ev.where(F.col("ts") != 9000)
    got = dep.run_request(req, hist).collect()
    assert len(got) == 1
    assert (got[0]["sv"], got[0]["cv"]) == batch[("a", 9000)]


def test_statement_surface_misc(eng, spark):
    """TRUNCATE / DESC / SHOW CREATE TABLE / CREATE+DROP INDEX /
    SET+SHOW VARIABLES / CALL."""
    eng.execute("CREATE TABLE ms (pk string, ts bigint, v double, "
                "INDEX(KEY=pk, TS=ts, TTL=30d, TTL_TYPE=absolute))")
    eng.execute("INSERT INTO ms VALUES ('a', 1000, 1.0), ('a', 2000, 2.0)")

    desc = eng.execute("DESC ms").collect()
    fields = {r["field"]: r["type"] for r in desc}
    assert fields["pk"] == "string" and fields["v"] == "double"
    assert any(f.startswith("__index__") for f in fields)

    ddl = eng.execute("SHOW CREATE TABLE ms").collect()[0]["create_sql"]
    assert "CREATE TABLE ms" in ddl and "INDEX(KEY=pk" in ddl

    eng.execute("CREATE INDEX i2 ON ms (pk) OPTIONS (ts=ts, ttl='2', ttl_type='latest')")
    assert [i.name for i in eng.table_defs["ms"].indexes] == ["idx0", "i2"] or \
           len(eng.table_defs["ms"].indexes) == 2
    eng.execute("DROP INDEX ms.i2")
    assert all(i.name != "i2" for i in eng.table_defs["ms"].indexes)

    eng.execute("SET @@execute_mode = 'offline'")
    vs = {r["Variable_name"]: r["Value"] for r in eng.execute("SHOW VARIABLES").collect()}
    assert vs["execute_mode"] == "offline"
    # the reference's standard four are seeded (SHOW_VARIABLES_STATEMENT.md)
    assert vs["enable_trace"] == "false" and vs["job_timeout"] == "20000"
    vs2 = {r["Variable_name"]: r["Value"]
           for r in eng.execute("SHOW SESSION VARIABLES").collect()}
    assert vs2 == vs

    dep = eng.execute(
        "DEPLOY dcall SELECT pk, ts, sum(v) OVER w1 AS sv FROM ms "
        "WINDOW w1 AS (PARTITION BY pk ORDER BY ts "
        "ROWS_RANGE BETWEEN 5s PRECEDING AND CURRENT ROW)"
    )
    out = eng.execute("CALL dcall ('a', 3000, 9.0)").collect()
    assert len(out) == 1 and out[0]["sv"] == 1.0 + 2.0 + 9.0

    eng.execute("TRUNCATE TABLE ms")
    assert eng.execute("SELECT count(*) AS n FROM ms").collect()[0]["n"] == 0

def test_deploy_parameterized_request_and_batch(eng, spark):
    """`?` placeholders in a deployed SELECT bind per call (the reference's
    parameterized-query surface, cases/query/parameterized_query.yaml):
    same deployment, different parameter rows, both request and batch
    modes — and arity mismatches fail loudly."""
    eng.execute("CREATE TABLE pev (pk string, ts bigint, v double)")
    rows = [("a", t * 1000, float(t)) for t in range(1, 6)] + [
        ("b", t * 1000, 10.0 * t) for t in range(1, 4)
    ]
    vals = ", ".join(f"('{p}', {t}, {v})" for p, t, v in rows)
    eng.execute(f"INSERT INTO pev VALUES {vals}")

    dep = eng.execute(
        "DEPLOY pf SELECT pk, ts, sum(v) OVER w1 AS sv "
        "FROM pev WHERE v > ? WINDOW w1 AS (PARTITION BY pk ORDER BY ts "
        "ROWS_RANGE BETWEEN 3s PRECEDING AND CURRENT ROW)"
    )

    # batch: the param prunes rows before the window (v > 2 vs v > 0)
    b2 = {(r["pk"], r["ts"]): r["sv"] for r in dep.run_batch(parameters=[2.0]).collect()}
    b0 = {(r["pk"], r["ts"]): r["sv"] for r in dep.run_batch(parameters=[0.0]).collect()}
    assert ("a", 1000) not in b2 and ("a", 1000) in b0
    assert b2[("a", 5000)] == 3.0 + 4.0 + 5.0  # rows v<=2 pruned, 3s frame
    assert b0[("a", 5000)] == 2.0 + 3.0 + 4.0 + 5.0

    # request mode: same binding flows through the history-union rewrite
    ev = eng.tables["pev"]
    req = ev.where((F.col("pk") == "a") & (F.col("ts") == 5000))
    hist = ev.where(~((F.col("pk") == "a") & (F.col("ts") == 5000)))
    got2 = dep.run_request(req, hist, parameters=[2.0]).collect()
    got0 = dep.run_request(req, hist, parameters=[0.0]).collect()
    assert len(got2) == 1 and got2[0]["sv"] == b2[("a", 5000)]
    assert len(got0) == 1 and got0[0]["sv"] == b0[("a", 5000)]

    # arity mismatch fails loudly, both directions
    import pytest as _pt

    with _pt.raises(ValueError):
        dep.run_batch(parameters=[])
    with _pt.raises(ValueError):
        dep.run_batch(parameters=[1.0, 2.0])


def test_show_jobs_surface(eng, tmp_path):
    """SHOW JOBS / SHOW JOB <id> / STOP JOB <id> (SURVEY §3.3 — the
    reference's TaskManager surface; default sync_job=true so statements
    list FINISHED). Row contract = the reference JOB_INFO schema
    (cases/integration_test/out_in/test_job.yaml id 0); online-mode LOAD
    is an ImportOnlineData job (OpenmldbBatchjobManager.scala)."""
    assert eng.execute("SHOW JOBS").count() == 0
    csv = tmp_path / "j.csv"
    csv.write_text("id,name\n1,x\n")
    eng.execute("CREATE TABLE jsrc (id int, name string)")
    eng.execute(f"LOAD DATA INFILE '{csv}' INTO TABLE jsrc OPTIONS(format='csv', mode='append')")
    eng.execute(
        f"SELECT * FROM jsrc INTO OUTFILE '{tmp_path}/jout' OPTIONS(format='csv')"
    )
    rows = eng.execute("SHOW JOBS").collect()
    assert [r["id"] for r in rows] == [2, 1]  # newest first
    jobs = {r["id"]: (r["job_type"], r["state"]) for r in rows}
    assert jobs == {1: ("ImportOnlineData", "FINISHED"),
                    2: ("ExportOfflineData", "FINISHED")}
    assert rows[0]["start_time"] is not None and rows[0]["end_time"] is not None
    assert rows[0]["parameter"].upper().startswith("SELECT")
    assert eng.execute("SHOW JOB 2").collect()[0]["job_type"] == "ExportOfflineData"
    # STOP JOB returns the job row; the reference sets STOPPED even on an
    # already-finished non-YARN job (JobInfoManager.scala:117)
    stopped = eng.execute("STOP JOB 1").collect()[0]
    assert stopped["id"] == 1 and stopped["state"] == "STOPPED"
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.execute("SHOW JOB 99")
    with _pytest.raises(Exception):
        eng.execute("STOP JOB 99")
    with _pytest.raises(ValueError, match="not supported"):
        eng.execute("DELETE JOB 1")


def test_unique_expect_request_side(eng, spark):
    """The reference's one `unequalExpect` case
    (cases/function/ut_case/test_unique_expect.yaml id 0): with an
    out-of-order ts column and ROWS_RANGE ... MAXSIZE 3, request-mode
    replay in INSERTION order sees only already-stored history, so rows
    replayed before their ts-predecessors aggregate a smaller frame than
    batch. Batch golden lives in
    tests/cases/ref_ported_unique_expect_cases.yaml; this is the
    `request_expect` side."""
    eng.execute(
        "CREATE TABLE uq (id int, c1 string, c3 int, c4 bigint, "
        "c5 float, c6 double, c7 bigint, c8 date)"
    )
    dep = eng.execute(
        "DEPLOY uqd SELECT id, c1, sum(c4) OVER w1 AS w1_c4_sum FROM uq "
        "WINDOW w1 AS (PARTITION BY uq.c1 ORDER BY uq.c7 "
        "ROWS_RANGE BETWEEN 6 PRECEDING AND CURRENT ROW MAXSIZE 3)"
    )
    # reference insertion order: ids 4, 3, 1, 2, 5
    rows = [
        (4, "aa", 23, 33, 1590738990003),
        (3, "aa", 22, 32, 1590738990002),
        (1, "aa", 20, 30, 1590738990000),
        (2, "aa", 21, 31, 1590738990001),
        (5, "aa", 24, 34, 1590738990004),
    ]
    golden = {1: 30, 2: 61, 3: 32, 4: 33, 5: 99}
    ddl = ("`id` int, `c1` string, `c3` int, `c4` long, "
           "`c5` float, `c6` double, `c7` long, `c8` date")
    for i, (rid, c1, c3, c4, c7) in enumerate(rows):
        hist_rows = [
            (p, q, r, s, 1.0, 2.0, t, None) for p, q, r, s, t in rows[:i]
        ]
        hist = spark.createDataFrame(hist_rows, ddl)
        req = spark.createDataFrame(
            [(rid, c1, c3, c4, 1.0, 2.0, c7, None)], ddl
        )
        got = dep.run_request(req, hist).collect()
        assert len(got) == 1
        assert got[0]["w1_c4_sum"] == golden[rid], f"id {rid}"
