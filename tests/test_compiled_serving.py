"""The compiled request plan (engine/compiled.py CompiledRequestPlan): the
reference compiles a deployment's plan once per DEPLOY and binds rows per
call (hybridse/src/vm/engine.cc:453-496, src/sdk/sql_cluster_router.h:
116-190 CallProcedure), reading one in-memory pk segment per index
(src/storage/mem_table.cc); here the SQL is parsed, lowered and planned
once against staged sources, and each serve stages the request rows plus
their key segments from a driver-resident index."""

import os

import pytest
from pyspark.sql import functions as F

from openmldb_spark.engine import Engine
from openmldb_spark.sql.lowering import Lowerer


DDL = (
    "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
    " INDEX(KEY=(c1), TS=c7))"
)
ROWS = [
    (1, "aa", 30, 1590738991000),
    (2, "aa", 31, 1590738992000),
    (3, "bb", 50, 1590738993000),
]
SQL = (
    "SELECT id, c1, sum(c4) OVER w1 as s FROM t0 WINDOW w1 AS "
    "(PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 10s "
    "PRECEDING AND CURRENT ROW)"
)


def _engine(spark):
    eng = Engine(spark)
    eng.execute(DDL)
    vals = ", ".join("(%d, %r, %d, %d)" % r for r in ROWS)
    eng.execute(f"INSERT INTO t0 VALUES {vals}")
    return eng


def _ts(ms):
    import datetime

    return datetime.datetime.utcfromtimestamp(ms / 1000)


def _conv(rows):
    return [(i, c, v, _ts(ms)) for i, c, v, ms in rows]


def _req(spark, dep, rows):
    return spark.createDataFrame(_conv(rows), dep.input_schema)


def _per_call(dep, requests):
    """The per-call lowering every compiled serve must agree with."""
    return dep._run_request_on(dep._query_with_params(None), requests)


def test_lowering_runs_once_across_requests(spark, monkeypatch):
    """The compile-once pin: N run_request calls -> ONE Lowerer.query
    (the compile), not N."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc1 {SQL}")

    calls = []
    orig = Lowerer.query

    def counting(self, q, params):
        calls.append(1)
        return orig(self, q, params)

    monkeypatch.setattr(Lowerer, "query", counting)
    for i in range(3):
        got = dep.run_request(
            _req(spark, dep, [(9, "aa", 40, 1590738995000 + i)])
        ).collect()
        assert got[0]["s"] == 30 + 31 + 40
    assert sum(calls) == 1, f"lowering ran {sum(calls)} times for 3 requests"


def test_compiled_matches_uncached_path(spark):
    """Same requests through the compiled plan and the per-call build
    must agree row for row (including a fresh second request — re-serving
    must NOT reuse the first request's shuffle outputs)."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc2 {SQL}")
    reqs = [
        [(9, "aa", 40, 1590738995000)],
        [(10, "bb", 7, 1590738995000), (11, "aa", 1, 1590738996000)],
    ]
    for rows in reqs:
        compiled = sorted(map(tuple, dep.run_request(_req(spark, dep, rows)).collect()))
        plain = sorted(map(tuple, _per_call(dep, _req(spark, dep, rows)).collect()))
        assert compiled == plain, rows
    # second request's values are its own, not the first's (stale-shuffle
    # hazard the fresh-Dataset-per-serve design exists to avoid)
    got = {r["id"]: r["s"] for r in dep.run_request(_req(spark, dep, reqs[1])).collect()}
    assert got == {10: 50 + 7, 11: 30 + 31 + 1}


def test_dml_invalidates_compiled_plan(spark):
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc3 {SQL}")
    req = _req(spark, dep, [(9, "aa", 40, 1590738995000)])
    assert dep.run_request(req).collect()[0]["s"] == 30 + 31 + 40
    first = dep._compiled
    assert first is not None
    # an online INSERT into the request table is an index append: same plan
    eng.execute(
        "INSERT INTO t0 VALUES (4, 'aa', 100, 1590738994000)"
    )
    assert dep.run_request(req).collect()[0]["s"] == 30 + 31 + 100 + 40
    assert dep._compiled is first, "an appended INSERT recompiled"
    # any other write still recompiles
    eng.execute("DELETE FROM t0 WHERE id = 4")
    assert dep.run_request(req).collect()[0]["s"] == 30 + 31 + 40
    assert dep._compiled is not first, "epoch bump did not recompile"


def test_explicit_history_and_parameters_bypass_compiled(spark):
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc4 {SQL}")
    req = _req(spark, dep, [(9, "aa", 40, 1590738995000)])
    hist = eng.tables["t0"].where("id = 1")
    got = dep.run_request(req, history=hist).collect()
    assert got[0]["s"] == 30 + 40
    assert dep._compiled is None, "explicit history must not compile/stage"
    # parameterized deploys bind per call: also uncached
    dep2 = eng.execute(f"DEPLOY dc4p SELECT id, c1 FROM t0 WHERE id > ?")
    got2 = dep2.run_request(req, parameters=[2]).collect()
    assert {r["id"] for r in got2} == {9}
    assert dep2._compiled is None


def test_run_request_rows_matches_dataframe_path(spark):
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc5 {SQL}")
    rows = [(9, "aa", 40, 1590738995000), (10, "bb", 7, 1590738995000)]
    via_rows = sorted(map(tuple, dep.run_request_rows(_conv(rows))))
    via_df = sorted(map(tuple, dep.run_request(_req(spark, dep, rows)).collect()))
    assert via_rows == via_df
    assert dep.run_request_rows([]) == []


def test_drop_releases_staged_dir(spark):
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc6 {SQL}")
    dep.run_request(_req(spark, dep, [(9, "aa", 40, 1590738995000)])).collect()
    staged_dir = dep._compiled._dir
    assert os.path.isdir(staged_dir)
    eng.execute("DROP DEPLOYMENT dc6")
    assert not os.path.exists(staged_dir), "DROP leaked the staged request dir"


def test_ttl_pin_change_recompiles(spark):
    """SET @@ttl_now_ms reshapes serving history -> the compiled plan
    must rebuild (same machinery as the pre-agg cache key)."""
    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
        " INDEX(KEY=(c1), TS=c7, TTL=2s, TTL_TYPE=absolute))"
    )
    eng.execute(
        "INSERT INTO t0 VALUES (1, 'aa', 30, 1590738991000),"
        " (2, 'aa', 31, 1590738995000)"
    )
    dep = eng.execute(f"DEPLOY dc7 {SQL}")
    req = _req(spark, dep, [(9, "aa", 40, 1590738996000)])
    # default pin: max(ts)=...995000, TTL 2s -> only row 2 lives
    assert dep.run_request(req).collect()[0]["s"] == 31 + 40
    eng.execute("SET @@ttl_now_ms = 1590738992500")
    try:
        # pinned "now": row 1 (991000 > 992500-2000) lives, row 2 future
        # rows always live (ts > now - ttl)
        got = dep.run_request(req).collect()[0]["s"]
        assert got == 30 + 31 + 40
    finally:
        eng.variables.pop("ttl_now_ms", None)


@pytest.mark.slow
def test_concurrent_serve_rows_no_cross_talk(spark):
    """The RESTful server is a ThreadingHTTPServer: concurrent requests to
    one deployment must each get THEIR OWN result (the staged file is a
    shared slot — serve_rows serializes stage+collect under the plan
    lock, otherwise thread B's staging overwrites thread A's rows before
    A collects)."""
    import concurrent.futures

    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dc8 {SQL}")
    dep.run_request_rows(_conv([(0, "aa", 0, 1590738995000)]))  # compile

    def call(i):
        key = "aa" if i % 2 == 0 else "bb"
        rows = dep.run_request_rows(_conv([(100 + i, key, i, 1590738995000)]))
        assert len(rows) == 1
        return rows[0]["id"], rows[0]["s"], key, i

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(call, range(16)))
    for rid, s, key, i in results:
        hist = 30 + 31 if key == "aa" else 50
        assert rid == 100 + i and s == hist + i, (rid, s, key, i)


def test_parameterized_body_never_compiles_and_errors_cleanly(spark):
    """A deployed body that still holds `?` placeholders (r10 regression,
    caught by the advice-r8 RESTful family): every serving surface must
    take the per-call path — the compiled plan would freeze one binding —
    and serving WITHOUT parameters fails with the dialect contract error,
    not Spark's mid-analysis UNBOUND_SQL_PARAMETER."""
    import json

    from openmldb_spark.restful import ApiServer

    eng = _engine(spark)
    dep = eng.execute("DEPLOY dcp1 SELECT id, c1 FROM t0 WHERE id > ?")
    assert dep.has_params is True
    req = _req(spark, dep, [(9, "aa", 40, 1590738995000)])
    # bound parameters: per-call build, works, never caches a plan
    assert {r["id"] for r in dep.run_request(req, parameters=[2]).collect()} == {9}
    assert dep._compiled is None
    # unbound: the contract error on every surface
    with pytest.raises(ValueError, match="parameterized"):
        dep.run_request(req)
    with pytest.raises(ValueError, match="parameterized"):
        dep.run_batch()
    with pytest.raises(ValueError, match="parameterized"):
        dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)]))
    assert dep._compiled is None
    # RESTful exec surfaces it as a clean API error payload
    api = ApiServer(eng)
    r = api.handle(
        "POST",
        f"/dbs/{eng.current_db}/deployments/dcp1",
        json.dumps({"input": [[9, "aa", 40, 1590738995000]]}),
    )
    assert r["code"] != 0 and "parameterized" in r["msg"]


def test_custom_staging_dir_round_trips_a_serve(spark, tmp_path):
    """Engine(staging_dir=...) relocates the staged Arrow file (the
    cluster contract: a shared-filesystem path every executor can read)
    and serving still answers correctly through it."""
    root = str(tmp_path / "shared_staging")
    eng = Engine(spark, staging_dir=root)
    eng.execute(DDL)
    vals = ", ".join("(%d, %r, %d, %d)" % r for r in ROWS)
    eng.execute(f"INSERT INTO t0 VALUES {vals}")
    dep = eng.execute(f"DEPLOY dc9 {SQL}")
    got = dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)]))
    assert got[0]["s"] == 30 + 31 + 40
    staged_dir = dep._compiled._dir
    assert staged_dir.startswith(root), staged_dir
    eng.execute("DROP DEPLOYMENT dc9")
    assert not os.path.exists(staged_dir)
    assert os.path.isdir(root), "DROP must release the serve dir, not the root"


def test_staging_conf_key_is_honored(spark, tmp_path):
    from openmldb_spark.engine.compiled import STAGING_DIR_CONF

    root = str(tmp_path / "conf_staging")
    spark.conf.set(STAGING_DIR_CONF, root)
    try:
        eng = _engine(spark)
        dep = eng.execute(f"DEPLOY dc10 {SQL}")
        dep.run_request_rows(_conv([(9, "bb", 1, 1590738995000)]))
        assert dep._compiled._dir.startswith(root)
    finally:
        spark.conf.unset(STAGING_DIR_CONF)


def test_staging_dir_required_on_nonlocal_master():
    """The 100x-deployment guard: a non-local master with no explicit
    staging dir must refuse loudly, not serve empty results."""
    from openmldb_spark.engine.compiled import resolve_staging_dir

    assert resolve_staging_dir("local[32]", None) is None
    assert resolve_staging_dir("local", None) is None
    assert resolve_staging_dir("yarn", "/mnt/nfs/stage") == "/mnt/nfs/stage"
    with pytest.raises(RuntimeError, match="stagingDir"):
        resolve_staging_dir("yarn", None)
    with pytest.raises(RuntimeError, match="shared-filesystem"):
        resolve_staging_dir("spark://host:7077", None)


def test_jvm_staging_round_trips_every_simple_type(spark):
    """The JVM text staging (base64 cells + Catalyst casts) must agree
    with the uncompiled path bit-for-bit across the full simple-type
    surface, including nulls, empty strings, separator characters inside
    strings, non-finite doubles, binary, and sub-second timestamps."""
    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE tt (id int, b bool, s16 smallint, i64 bigint,"
        " f float, d double, s string, bin string, dt date, c7 timestamp,"
        " INDEX(KEY=(id), TS=c7))"
    )
    eng.execute(
        "INSERT INTO tt VALUES (1, true, 3, 40, 1.5, 2.5, 'x', 'y',"
        " '2024-01-02', 1590738991000)"
    )
    sql = (
        "SELECT id, b, s16, i64, f, d, s, bin, dt,"
        " count(i64) OVER w1 as c FROM tt WINDOW w1 AS"
        " (PARTITION BY id ORDER BY c7 ROWS BETWEEN 10 PRECEDING AND"
        " CURRENT ROW)"
    )
    dep = eng.execute(f"DEPLOY tjvm {sql}")
    assert dep._compiled is None
    import datetime

    ts = datetime.datetime(2020, 5, 29, 8, 1, 2, 345678)
    rows = [
        (2, False, -7, 9_007_199_254_740_993, float("nan"), float("inf"),
         "comma, \n tilde~ ünïcode", "", datetime.date(1999, 12, 31), ts),
        (3, None, None, None, None, float("-inf"), None, "~", None, ts),
        (4, True, 0, 0, -0.0, 1.7976931348623157e308, "~", "a,b", None, ts),
    ]
    got = dep.run_request_rows(rows)
    assert dep._compiled is not None
    want = dep._run_request_on(
        dep._query_with_params(None),
        spark.createDataFrame(rows, dep.input_schema),
        None,
    ).collect()

    def key(r):
        return tuple(str(v) for v in r)

    assert sorted(map(key, got)) == sorted(map(key, want))


def test_jvm_staging_rejects_oversized_batch(spark):
    from openmldb_spark.engine.compiled import STAGING_BYTES_CONF

    spark.conf.set(STAGING_BYTES_CONF, "256")
    try:
        eng = _engine(spark)
        dep = eng.execute(f"DEPLOY tjvm2 {SQL}")
        big = [(i, "x" * 50, i, 1590738995000 + i) for i in range(64)]
        with pytest.raises(Exception, match="stagingBytes"):
            dep.run_request_rows(_conv(big))
        # a fitting batch on the same compiled plan still serves
        assert len(dep.run_request_rows(_conv([(9, "aa", 1, 1590738995000)]))) == 1
    finally:
        spark.conf.unset(STAGING_BYTES_CONF)


def test_serving_session_isolated_from_batch_confs(spark):
    """Serves run on a newSession clone with the serving confs set ONCE;
    the engine session's AQE/shuffle confs are never touched — not even
    transiently (there is no swap to race with), so a batch query planned
    DURING an in-flight serve still plans with AQE on."""
    import threading

    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY tjvm3 {SQL}")
    dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)]))
    cp = dep._compiled
    assert cp is not None and cp._serve_spark is not None
    assert cp._serve_spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert cp._serve_spark.conf.get("spark.sql.shuffle.partitions") == "1"
    # the serve's own physical plan is non-AQE and clone-rooted...
    sdf = cp._fresh_serve_df()
    assert sdf.sparkSession is cp._serve_spark
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" not in plan
    # ...while batch queries planned concurrently with serves keep AQE:
    # hammer explains on the engine session during in-flight serves
    aqe_seen = []
    stop = threading.Event()

    def batch_explains():
        while not stop.is_set():
            p = (
                spark.range(100)
                .groupBy((F.col("id") % 3).alias("k"))
                .count()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            aqe_seen.append("AdaptiveSparkPlan" in p)

    t = threading.Thread(target=batch_explains)
    t.start()
    try:
        for i in range(3):
            dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000 + i)]))
    finally:
        stop.set()
        t.join()
    assert aqe_seen and all(aqe_seen), f"{aqe_seen.count(False)} AQE-off plans"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_nested_request_schema_serves_per_call(spark):
    """A nested input schema has no staged text source, so the deployment
    serves through the per-call path and never builds a compiled plan."""
    import datetime

    eng = Engine(spark)
    eng.register(
        "ta",
        spark.createDataFrame(
            [(1, ["a", "b"], datetime.datetime(2020, 5, 29, 8, 0, 0))],
            "id int, tags array<string>, c7 timestamp",
        ),
    )
    dep = eng.execute(
        "DEPLOY tarr SELECT id, tags, count(id) OVER w1 AS c FROM ta"
        " WINDOW w1 AS (PARTITION BY id ORDER BY c7 ROWS BETWEEN"
        " 10 PRECEDING AND CURRENT ROW)"
    )
    got = dep.run_request_rows(
        [(1, ["x", "y"], datetime.datetime(2020, 5, 29, 9, 0, 0))]
    )
    assert dep._compiled is None
    assert got[0]["tags"] == ["x", "y"] and got[0]["c"] == 2


def test_self_last_join_on_request_table_jvm_mode(spark):
    """The ADVICE r11 scenario: a deployment whose LAST JOIN right side
    IS the request table. Every reference to the request table binds to
    the staged request rows, so the right side is no indexed store and the
    compiled result equals the uncompiled path."""
    eng = _engine(spark)
    dep = eng.execute(
        "DEPLOY dself SELECT t0.id, t0.c1, r.c4 as rc4 FROM t0 "
        "LAST JOIN t0 AS r ORDER BY r.c7 ON t0.c1 = r.c1"
    )
    rows = [(9, "aa", 40, 1590738995000), (10, "bb", 7, 1590738996000)]
    compiled = sorted(
        map(tuple, dep.run_request(_req(spark, dep, rows)).collect())
    )
    assert dep._compiled is not None and dep._compiled.indexes == {}
    plain = sorted(map(tuple, _per_call(dep, _req(spark, dep, rows)).collect()))
    assert compiled == plain and len(compiled) == 2
    # the request rows themselves ARE the join's right side here
    assert {t[2] for t in compiled} == {40, 7}


def test_jvm_staging_timestamps_survive_non_utc_session(spark):
    """ADVICE r11: timestamps stage as epoch-micros (timezone-free on the
    wire, decoded by timestamp_micros), so a non-UTC session timezone no
    longer shifts every staged value. Pin: compiled JVM serving equals
    the uncompiled path under America/New_York for the same request
    DataFrame (the old wall-clock-string staging failed this by 4-5h)."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        eng = _engine(spark)
        dep = eng.execute(f"DEPLOY dtz {SQL}")
        req = _req(spark, dep, [(9, "aa", 40, 1590738995000)])
        compiled = sorted(map(tuple, dep.run_request(req).collect()))
        assert dep._compiled is not None
        # the serving clone inherited the engine session's timezone
        assert (
            dep._compiled._serve_spark.conf.get("spark.sql.session.timeZone")
            == "America/New_York"
        )
        plain = sorted(map(tuple, _per_call(dep, req).collect()))
        assert compiled == plain, (compiled, plain)
        # rows arm agrees with the DataFrame arm too
        via_rows = sorted(
            map(tuple, dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)])))
        )
        assert via_rows == compiled
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_empty_request_dataframe_serves_empty(spark):
    """An empty request DataFrame through the compiled JVM path stages an
    empty batch and returns zero rows (r12 code-review regression: the
    driver-side encode crashed on zero rows where toArrow staging did
    not)."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dempty {SQL}")
    empty = spark.createDataFrame([], dep.input_schema)
    assert dep.run_request(empty).collect() == []
    assert dep._compiled is not None
    # and a non-empty serve right after still works (staged file intact)
    got = dep.run_request(_req(spark, dep, [(9, "aa", 40, 1590738995000)]))
    assert got.collect()[0]["s"] == 30 + 31 + 40


def test_semantic_confs_resync_to_serving_clone(spark):
    """The clone's conf snapshot froze at compile; a post-deploy SET of a
    semantics-bearing conf (session timezone) must reach compiled serves
    like it reaches the uncompiled path."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dsync {SQL}")
    dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)]))
    cp = dep._compiled
    assert cp is not None and cp._serve_spark is not None
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        sdf = cp._fresh_serve_df()
        assert (
            cp._serve_spark.conf.get("spark.sql.session.timeZone")
            == "Asia/Tokyo"
        )
        assert sdf.sparkSession is cp._serve_spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


@pytest.mark.slow
def test_concurrent_serve_df_no_cross_talk(spark):
    """r13 (r12 verdict #3): the DataFrame serve arm now stages AND
    collects under the per-plan lock and returns an eager driver-local
    result, so two concurrent run_request(df) calls on one deployment
    each get THEIR OWN rows instead of interleaving stage/collect."""
    import concurrent.futures

    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dcdf {SQL}")
    dep.run_request(_req(spark, dep, [(0, "aa", 0, 1590738995000)])).collect()

    def call(i):
        key = "aa" if i % 2 == 0 else "bb"
        df = dep.run_request(
            _req(spark, dep, [(100 + i, key, i, 1590738995000)])
        )
        rows = df.collect()
        assert len(rows) == 1
        return rows[0]["id"], rows[0]["s"], key, i

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(call, range(16)))
    for rid, s, key, i in results:
        hist = 30 + 31 if key == "aa" else 50
        assert rid == 100 + i and s == hist + i, (rid, s, key, i)


def test_local_relation_requests_stage_without_a_job(spark):
    """r13 (r12 verdict #5): a driver-local request plan (arrow-table
    createDataFrame -> LocalRelation) stages job-free, so the whole serve
    runs exactly ONE Spark job (the serve itself); an RDD-backed request
    frame pays the extra toArrow evaluation job. Values are pinned equal
    across the local, RDD, and rows arms — including a timestamp."""
    import pyarrow as pa

    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dloc {SQL}")
    dep.run_request_rows(_conv([(0, "aa", 0, 1590738995000)]))  # compile

    row = (9, "aa", 40, 1590738995000)
    rdd_req = _req(spark, dep, [row])
    arrow_req = spark.createDataFrame(rdd_req.toArrow(), dep.input_schema)
    assert (
        arrow_req._jdf.queryExecution()
        .optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    )

    def jobs_during(fn):
        # job ids are monotone ints assigned per job; counting via
        # len(getJobIdsForGroup) breaks in a long-lived session because the
        # status store EVICTS old jobs under retention pressure (observed:
        # a -97 "delta" deep into a full-suite run). The max-id delta is
        # eviction-proof; the spark fixture is single-threaded so no
        # concurrent job can inflate it.
        sc = spark.sparkContext
        tracker = sc._jsc.sc().statusTracker()

        def max_id():
            ids = tracker.getJobIdsForGroup(None)
            return max(ids) if ids else -1

        before = max_id()
        out = fn()
        return out, max_id() - before

    got_local, n_local = jobs_during(
        lambda: dep.run_request(arrow_req).collect()
    )
    got_rdd, n_rdd = jobs_during(lambda: dep.run_request(rdd_req).collect())
    got_rows, n_rows = jobs_during(lambda: dep.run_request_rows(_conv([row])))
    as_tuples = lambda rows: sorted(tuple(r) for r in rows)
    assert as_tuples(got_local) == as_tuples(got_rdd) == as_tuples(got_rows)
    assert got_local[0]["s"] == 30 + 31 + 40
    # the serve plan itself may run >1 job (broadcast exchanges submit
    # their own); the pin is RELATIVE: the local-relation arm matches the
    # rows arm exactly (zero staging jobs, job-free result collect), and
    # the RDD-backed arm pays exactly one extra toArrow evaluation job
    assert n_local == n_rows, (n_local, n_rows)
    assert n_rdd == n_rows + 1, (n_rdd, n_rows)


def test_case_sensitivity_conf_reaches_compiled_serves(spark):
    """The broadened semantic-conf registry: a post-deploy SET of
    spark.sql.caseSensitive reaches the serving clone (the registry
    contract: semantics-bearing runtime confs re-sync per serve)."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dcase {SQL}")
    dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)]))
    cp = dep._compiled
    assert cp is not None and cp._serve_spark is not None
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        cp._fresh_serve_df()
        assert cp._serve_spark.conf.get("spark.sql.caseSensitive") == "true"
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


def test_exact_collect_plan_handles_dotted_and_nested_names(spark):
    """_exact_collect_plan must backtick-quote column names (a dotted
    name would otherwise resolve as a struct path and fail analysis) and
    decline schemas with nested timestamps or duplicate names (toArrow
    fallback)."""
    import datetime

    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from openmldb_spark.engine.compiled import _exact_collect_plan

    schema = StructType(
        [
            StructField("a.b", LongType()),
            StructField("t", TimestampType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, datetime.datetime(2020, 5, 29, 8, 0, 0))], schema
    )
    proj, ts_idx = _exact_collect_plan(df, schema)
    assert proj is not None and ts_idx == [1]
    rows = proj.collect()
    assert rows[0]["a.b"] == 1 and isinstance(rows[0]["t"], int)

    nested = StructType([StructField("ts_arr", ArrayType(TimestampType()))])
    assert _exact_collect_plan(spark.createDataFrame([], nested), nested) == (
        None,
        None,
    )
    dup = StructType([StructField("x", LongType()), StructField("x", LongType())])
    assert _exact_collect_plan(spark.createDataFrame([], dup), dup) == (None, None)


# -- the staged text format and the key-segment index ----------------------


def test_staged_file_pads_with_one_line(spark, tmp_path):
    """A staged file is exactly ``pad_bytes`` long, padded with ONE line
    of spaces (not one empty line per pad byte), and the source returns
    exactly the encoded rows — none, one, many, all-null — including when
    the rows fill the file exactly or leave one byte."""
    import datetime

    from pyspark.sql.conversion import LocalDataToArrowConversion

    from openmldb_spark.engine.compiled import _encode_rows, _jvm_source, _pad_staged

    schema = spark.createDataFrame([], "id int, s string, c7 timestamp").schema
    ts = datetime.datetime(2020, 5, 29, 8, 1, 2, 345678)
    cases = {
        "none": [],
        "one": [(1, "a,b", ts)],
        "many": [(i, "s%d" % i, ts) for i in range(40)],
        "null": [(None, None, None)],
    }
    for name, rows in cases.items():
        table = (
            LocalDataToArrowConversion.convert(rows, schema, False)
            if rows
            else spark.createDataFrame([], schema).toArrow()
        )
        enc = _encode_rows(table, schema)
        for pad in (4096, len(enc) + 1, max(len(enc), 1)):
            data = _pad_staged(enc, pad)
            path = tmp_path / f"{name}-{pad}.txt"
            path.write_bytes(data)
            assert os.path.getsize(path) == pad
            assert data.count(b"\n") <= len(rows) + 1
            got = [tuple(r) for r in _jvm_source(spark, str(path), schema).collect()]
            assert sorted(got, key=repr) == sorted(rows, key=repr), (name, pad)
    with pytest.raises(ValueError, match="stagingBytes"):
        _pad_staged(b"x,\n" * 4, 7)


SQL_JOIN = (
    "SELECT t0.id, t0.c1, sum(t0.c4) OVER w1 AS s, tj.tag AS tag FROM t0 "
    "LAST JOIN tj ORDER BY tj.c7 ON t0.c1 = tj.c1 WINDOW w1 AS "
    "(PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 10s "
    "PRECEDING AND CURRENT ROW)"
)


def _join_engine(spark):
    eng = _engine(spark)
    eng.execute(
        "CREATE TABLE tj (c1 string, tag bigint, c7 timestamp,"
        " INDEX(KEY=(c1), TS=c7))"
    )
    eng.execute(
        "INSERT INTO tj VALUES ('aa', 7, 1590738990000), ('bb', 8, 1590738990000)"
    )
    return eng


def _uncompiled(dep, rows):
    return sorted(map(tuple, _per_call(dep, _req(dep.engine.spark, dep, rows)).collect()))


def _served(dep, rows):
    return sorted(map(tuple, dep.run_request_rows(_conv(rows))))


# the request table t0, a WINDOW UNION table tu and a LAST JOIN right side
# tj: all three are indexed, and tj's key is named apart from t0's columns
SQL_ALL = (
    "SELECT t0.id, t0.c1, sum(t0.c4) OVER w1 AS s, count(t0.c4) OVER w2 AS n,"
    " tj.tag AS tag FROM t0 LAST JOIN tj ORDER BY tj.jt ON t0.c1 = tj.k"
    " WINDOW w1 AS (PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 10s"
    " PRECEDING AND CURRENT ROW), w2 AS (UNION tu PARTITION BY c1 ORDER BY c7"
    " ROWS_RANGE BETWEEN 10s PRECEDING AND CURRENT ROW)"
)


def _all_engine(spark):
    eng = _engine(spark)
    eng.execute(
        "CREATE TABLE tu (id int, c1 string, c4 bigint, c7 timestamp,"
        " INDEX(KEY=(c1), TS=c7))"
    )
    eng.execute(
        "INSERT INTO tu VALUES (50, 'aa', 5, 1590738993000),"
        " (51, 'bb', 6, 1590738993000)"
    )
    eng.execute(
        "CREATE TABLE tj (k string, tag bigint, jt timestamp, INDEX(KEY=(k), TS=jt))"
    )
    eng.execute(
        "INSERT INTO tj VALUES ('aa', 7, 1590738990000), ('bb', 8, 1590738990000)"
    )
    return eng


def _batch_row(eng, dep, row):
    """The batch (offline) result row of ``row`` over the stored tables."""
    hist = eng.tables[dep.request_table].unionByName(
        eng.spark.createDataFrame(_conv([row]), dep.input_schema)
    )
    got = [tuple(r) for r in dep.run_batch(history=hist).collect() if r["id"] == row[0]]
    assert len(got) == 1, got
    return got[0]


def _check_serves(eng, dep, reqs):
    """Each request served alone equals its batch row and the per-call
    path; returns the served rows."""
    out = []
    for row in reqs:
        got = _served(dep, [row])
        assert got == [_batch_row(eng, dep, row)], row
        assert got == _uncompiled(dep, [row]), row
        out.append(got[0])
    return out


def test_index_follows_appends_without_recompiling(spark, monkeypatch):
    """An online INSERT into the request table, the UNION table or the LAST
    JOIN right side, and a REST PUT, each become an index append: the same
    plan object serves next, no CompiledRequestPlan is built, and every
    serve equals its batch row. The plan is planned once throughout."""
    import json

    from openmldb_spark.engine import compiled
    from openmldb_spark.restful import ApiServer

    eng = _all_engine(spark)
    dep = eng.execute(f"DEPLOY dix1 {SQL_ALL}")
    reqs = [(9, "aa", 40, 1590738995000), (10, "bb", 7, 1590738995000)]
    assert [r[2:] for r in _check_serves(eng, dep, reqs)] == [
        (30 + 31 + 40, 1 + 2 + 1, 7), (50 + 7, 1 + 1 + 1, 8)
    ]
    plan = dep._compiled
    assert plan.replan_node is None
    planned = plan._fresh_serve_df()
    builds = []
    orig = compiled.CompiledRequestPlan.__init__

    def counting(self, *a, **kw):
        builds.append(1)
        orig(self, *a, **kw)

    monkeypatch.setattr(compiled.CompiledRequestPlan, "__init__", counting)
    eng.execute("INSERT INTO t0 VALUES (20, 'aa', 100, 1590738993500)")
    eng.execute("INSERT INTO tu VALUES (52, 'aa', 9, 1590738994000)")
    eng.execute("INSERT INTO tj VALUES ('aa', 70, 1590738991000)")
    r = ApiServer(eng).handle(
        "PUT",
        f"/dbs/{eng.current_db}/tables/t0",
        json.dumps({"value": [[21, "bb", 200, 1590738994500]]}),
    )
    assert r == {"code": 0, "msg": "ok"}
    got = _check_serves(eng, dep, reqs)
    assert [r[2:] for r in got] == [
        (30 + 31 + 100 + 40, 1 + 2 + 2 + 1, 70), (50 + 200 + 7, 1 + 1 + 1 + 1, 8)
    ]
    assert dep._compiled is plan and builds == []
    assert plan._fresh_serve_df() is planned
    assert plan.indexes["__history"][1].rows.num_rows == 5
    # a NULL-key row is a segment of its own
    eng.execute("INSERT INTO t0 VALUES (23, NULL, 5, 1590738994600)")
    assert _served(dep, [(11, None, 1, 1590738995000)])[0][2] == 5 + 1
    assert dep._compiled is plan and builds == []


def test_rewrites_rebuild_index_and_plan(spark, tmp_path):
    """DELETE, TRUNCATE and LOAD DATA are no appends: each makes the next
    serve rebuild index and plan, which then equals the batch row."""
    eng = _all_engine(spark)
    dep = eng.execute(f"DEPLOY dix2 {SQL_ALL}")
    req = [(9, "aa", 40, 1590738995000)]
    csv = tmp_path / "tu.csv"
    csv.write_text("id,c1,c4,c7\n60,aa,11,1590738994000\n")
    for stmt, want in [
        ("DELETE FROM t0 WHERE id = 2", (30 + 40, 1 + 1 + 1, 7)),
        ("TRUNCATE TABLE tj", (30 + 40, 1 + 1 + 1, None)),
        (f"LOAD DATA INFILE '{csv}' INTO TABLE tu"
         " OPTIONS(format='csv', mode='append')", (30 + 40, 1 + 2 + 1, None)),
    ]:
        _served(dep, req)
        plan = dep._compiled
        eng.execute(stmt)
        got = _check_serves(eng, dep, req)
        assert dep._compiled is not plan, stmt
        assert got[0][2:] == want, stmt


def test_offline_insert_leaves_the_index_untouched(spark):
    """An offline-mode INSERT writes the offline store only: online serving
    never sees the row."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dix3 {SQL}")
    req = [(9, "aa", 40, 1590738995000)]
    assert _served(dep, req)[0][2] == 30 + 31 + 40
    eng.execute("SET @@execute_mode = 'offline'")
    try:
        eng.execute("INSERT INTO t0 VALUES (4, 'aa', 100, 1590738994000)")
    finally:
        eng.execute("SET @@execute_mode = 'online'")
    assert _served(dep, req)[0][2] == 30 + 31 + 40
    assert dep._compiled.indexes["__history"][1].rows.num_rows == 3


@pytest.mark.parametrize(
    "sql",
    [
        # no key equality: the right side stays a store read, joined by a
        # broadcast nested-loop join
        "SELECT t0.id, tj.tag AS tag FROM t0 LAST JOIN tj ORDER BY tj.jt"
        " ON t0.c4 > tj.tag",
        # an expression key: history stays a store read, shuffled together
        # with the staged request rows
        "SELECT id, sum(c4) OVER w1 AS s FROM t0 WINDOW w1 AS (PARTITION BY"
        " substr(c1, 1, 1) ORDER BY c7 ROWS_RANGE BETWEEN 10s PRECEDING AND"
        " CURRENT ROW)",
    ],
    ids=["keyless-last-join", "expression-key"],
)
def test_plans_with_store_reads_are_planned_per_serve(spark, sql):
    """A plan that keeps an Exchange or broadcast is never re-collected:
    two consecutive serves for different keys each return their own batch
    row, from two Datasets."""
    eng = _all_engine(spark)
    dep = eng.execute(f"DEPLOY dix4 {sql}")
    reqs = [(9, "aa", 40, 1590738995000), (10, "bb", 7, 1590738996000)]
    got = _check_serves(eng, dep, reqs)
    assert got[0] != got[1]
    plan = dep._compiled
    assert plan.replan_node is not None and plan.store_reads
    assert plan._fresh_serve_df() is not plan._fresh_serve_df()


def _perfbench_engine(spark, tmp_path):
    """The benchmark's tables (perfbench/gen.py) at 3k events, its feature
    SQL and four request rows after the history."""
    import datetime
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    import features
    import gen

    paths = gen.generate(str(tmp_path / "data"), 3, rows=3000, users=40)
    eng = Engine(spark)
    for name in ("events", "views", "customer"):
        eng.register(name, spark.read.parquet(paths[name]))
    end = eng.tables["events"].agg(F.max("ts")).collect()[0][0]
    end_ms = (end - datetime.datetime(1970, 1, 1)) // datetime.timedelta(milliseconds=1)
    return eng, features.SQL, gen.request_rows(3, 4, 40, end_ms, 10**9)


def test_perfbench_shaped_deployment_is_planned_once(spark, tmp_path):
    """The benchmark's feature SQL (three windows over events, one UNION
    views window, LAST JOIN customer) serves from three indexes through a
    plan with no Exchange or broadcast, planned at compile time: every
    serve collects the same Dataset, and each response equals the per-call
    path. History is not sent through the LAST JOIN, which no frame reads."""
    eng, sql, reqs = _perfbench_engine(spark, tmp_path)
    dep = eng.execute(f"DEPLOY dpb {sql}")
    first = dep.run_request_rows([reqs[0]])
    plan = dep._compiled
    df = plan._fresh_serve_df()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in executed and "Broadcast" not in executed, executed
    assert plan.replan_node is None and plan.store_reads == {}
    assert [i.table for _, i, _, _ in plan.indexes.values()] == [
        "events", "views", "customer"
    ]
    assert executed.count("SortMergeJoin") == 1, executed
    for row in reqs[1:]:
        got = dep.run_request_rows([row])
        assert plan._fresh_serve_df() is df
        assert got == _per_call(dep, spark.createDataFrame([row], dep.input_schema)).collect()
    assert len(first) == 1


def test_show_deployment_reports_the_serving_path(spark):
    """SHOW DEPLOYMENT's serving rows: the path, indexed tables with their
    keys, store reads with why, and the index's rows and Arrow bytes."""
    eng = _all_engine(spark)
    eng.execute(f"DEPLOY dsh1 {SQL_ALL}")
    eng.execute(
        "DEPLOY dsh2 SELECT t0.id, tj.tag AS tag FROM t0 LAST JOIN tj"
        " ORDER BY tj.jt ON t0.c4 > tj.tag"
    )
    eng.execute("DEPLOY dsh3 SELECT id, c1 FROM t0 WHERE id > ?")

    def serving(name):
        rows = eng.execute(f"SHOW DEPLOYMENT {name}").collect()
        return {
            r["column_name"]: r["column_type"]
            for r in rows
            if r["section"] == "serving"
        }

    one = serving("dsh1")
    assert one["path"] == "planned once"
    assert one["indexed"] == "t0(c1), tu(c1), tj(k)"
    assert one["store_reads"] == ""
    assert one["index_rows"] == "7" and int(one["index_arrow_bytes"]) > 0
    two = serving("dsh2")
    assert two["path"].startswith("re-planned per serve: ")
    assert "Exchange" in two["path"]
    assert two["indexed"] == ""
    assert two["store_reads"] == "tj: not a LAST JOIN keyed on request columns"
    assert serving("dsh3") == {"path": "per call: parameterized body"}


def test_hot_key_segment_over_the_staging_size_fails_loudly(spark):
    """A key segment that does not fit the fixed staged file fails that
    serve with the stagingBytes instructions; other keys still serve."""
    from openmldb_spark.engine.compiled import STAGING_BYTES_CONF

    spark.conf.set(STAGING_BYTES_CONF, "2048")
    try:
        eng = _engine(spark)
        vals = ", ".join(
            f"({100 + i}, 'aa', {i}, {1590738980000 + i})" for i in range(60)
        )
        eng.execute(f"INSERT INTO t0 VALUES {vals}")
        dep = eng.execute(f"DEPLOY dhot {SQL}")
        with pytest.raises(ValueError, match="stagingBytes"):
            dep.run_request_rows(_conv([(9, "aa", 1, 1590738995000)]))
        assert _served(dep, [(10, "bb", 7, 1590738995000)])[0][2] == 50 + 7
    finally:
        spark.conf.unset(STAGING_BYTES_CONF)


@pytest.mark.parametrize(
    "ttl,want",
    [
        # latest 2 per key: the two inserted rows displace both stored ones
        ("TTL=2, TTL_TYPE=latest", 7 + 8 + 40),
        # absolute 2s from max(ts): the inserted 1590738994000 row moves
        # the bound past both stored rows
        ("TTL=2s, TTL_TYPE=absolute", 7 + 8 + 40),
    ],
)
def test_absorbed_rows_expire_like_stored_rows(spark, ttl, want):
    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE t0 (id int, c1 string, c4 bigint, c7 timestamp,"
        f" INDEX(KEY=(c1), TS=c7, {ttl}))"
    )
    eng.execute(
        "INSERT INTO t0 VALUES (1, 'aa', 30, 1590738990000),"
        " (2, 'aa', 31, 1590738991000)"
    )
    dep = eng.execute(f"DEPLOY dttl {SQL}")
    req = [(9, "aa", 40, 1590738995000)]
    assert _served(dep, req)[0][2] == 30 + 31 + 40
    plan = dep._compiled
    eng.execute("INSERT INTO t0 VALUES (3, 'aa', 7, 1590738993500)")
    eng.execute("INSERT INTO t0 VALUES (4, 'aa', 8, 1590738994000)")
    got = _served(dep, req)
    assert dep._compiled is plan
    assert got == _uncompiled(dep, req)
    assert got[0][2] == want


def test_insert_racing_a_serving_thread(spark):
    """A thread serves in a loop while the main thread INSERTs: every
    serve that starts after an INSERT returns sees that row (and all
    earlier ones)."""
    import threading
    import time

    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dwt5 {SQL}")
    req = _conv([(9, "aa", 40, 1590738995000)])
    dep.run_request_rows(req)  # compile
    stop = threading.Event()
    seen = []
    errors = []

    def serve_loop():
        try:
            while not stop.is_set():
                t = time.perf_counter()
                seen.append((t, dep.run_request_rows(req)[0]["s"]))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    th = threading.Thread(target=serve_loop)
    th.start()
    done = []  # (time the INSERT returned, history sum it completes)
    total = 30 + 31
    try:
        for i in range(3):
            time.sleep(0.3)
            eng.execute(
                "INSERT INTO t0 VALUES (%d, 'aa', %d, %d)"
                % (40 + i, 10 ** i, 1590738993000 + i)
            )
            total += 10 ** i
            done.append((time.perf_counter(), total))
        deadline = time.perf_counter() + 120
        while not [t for t, _ in seen if t > done[-1][0]] and not errors:
            assert time.perf_counter() < deadline, "no serve after the last INSERT"
            time.sleep(0.05)
    finally:
        stop.set()
        th.join(timeout=120)
    assert not th.is_alive()
    assert not errors, errors
    for t, s in seen:
        floor = max([tot for at, tot in done if at <= t], default=30 + 31)
        assert s - 40 >= floor, (t, s, done)


def test_rest_put_writes_through_like_insert(spark):
    """A REST one-row PUT into the request table takes the INSERT path:
    the live plan absorbs the row (same plan object, no recompile) and
    the next serve equals the uncompiled path over the grown store."""
    import json

    from openmldb_spark.restful import ApiServer

    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dput {SQL}")
    req = [(9, "aa", 40, 1590738995000)]
    assert _served(dep, req)[0][2] == 30 + 31 + 40
    plan = dep._compiled
    r = ApiServer(eng).handle(
        "PUT",
        f"/dbs/{eng.current_db}/tables/t0",
        json.dumps({"value": [[20, "aa", 100, 1590738993500]]}),
    )
    assert r == {"code": 0, "msg": "ok"}
    got = _served(dep, req)
    assert dep._compiled is plan
    assert got == _uncompiled(dep, req)
    assert got[0][2] == 30 + 31 + 100 + 40


SQL_CATE = (
    "SELECT id, c1, count_cate(c4, c1) OVER w1 as cc FROM t0 WINDOW w1 AS "
    "(PARTITION BY t0.c1 ORDER BY t0.c7 ROWS_RANGE BETWEEN 10s "
    "PRECEDING AND CURRENT ROW)"
)


def test_cate_window_plans_have_no_python_stage(spark):
    """The *_cate reduction stays inside the JVM: neither the executed
    serve plan nor the batch plan of a count_cate deployment carries a
    Python evaluation node."""
    eng = _engine(spark)
    dep = eng.execute(f"DEPLOY dcate {SQL_CATE}")
    got = dep.run_request_rows(_conv([(9, "aa", 40, 1590738995000)]))
    assert got[0]["cc"] == "aa:3"
    plans = {
        "serve": dep._compiled._fresh_serve_df(),
        "batch": dep.run_batch(),
    }
    for mode, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, f"{mode} plan has {node}:\n{plan}"
