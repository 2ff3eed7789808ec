"""SQL surface for event-time streaming windows (streaming/sqlsurface.py):
tumble + hop + session_window driven through ``Engine.execute`` over a
``register_stream`` table — the YAML family in
tests/streaming_cases/stream_sql_cases.yaml (ported-STYLE: no reference
corpus exists, the reference has no streaming SQL; semantics mirror the
Python-API pins in test_streaming_eventtime.py)."""

import os
import time

import pytest

try:
    import yaml
except ImportError:
    yaml = None

CASES_PATH = os.path.join(
    os.path.dirname(__file__), "streaming_cases", "stream_sql_cases.yaml"
)


def _load():
    if yaml is None:
        return []
    doc = yaml.safe_load(open(CASES_PATH))
    # the two heaviest stream cases (~10s of micro-batch waits each) are
    # slow-marked for the default gate (r14 test-gate budget)
    heavy = {"tumble_append_drops_beyond_watermark", "tumble_sum_per_key"}
    return [
        pytest.param(
            c,
            id=c["id"],
            marks=[pytest.mark.slow] if c["id"] in heavy else [],
        )
        for c in doc["cases"]
    ]


def _drain(q, seconds=20):
    deadline = time.time() + seconds
    while time.time() < deadline:
        q.processAllAvailable()
        time.sleep(0.3)
        if not q.status["isDataAvailable"]:
            return


@pytest.mark.parametrize("case", _load())
def test_stream_sql_case(spark, tmp_path, case):
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    src = tmp_path / "src"
    src.mkdir()
    stream = (
        spark.readStream.schema("pk string, ts bigint, v double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    eng.register_stream("s", stream)

    if case.get("error"):
        # a seed file so the plan can analyze if it gets that far
        spark.createDataFrame(
            [("a", 0, 0.0)], "pk string, ts bigint, v double"
        ).coalesce(1).write.parquet(str(src / "b0"))
        with pytest.raises(Exception):
            df = eng.execute(case["sql"])
            df.writeStream.format("noop").start().stop()
        return

    out = eng.execute(case["sql"])
    assert out.isStreaming
    got: list = []
    q = (
        out.writeStream.outputMode(case["mode"])
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for i, rows in enumerate(case["batches"]):
            spark.createDataFrame(
                [tuple(r) for r in rows], "pk string, ts bigint, v double"
            ).coalesce(1).write.parquet(str(src / f"b{i}"))
            _drain(q)
    finally:
        q.stop()

    rows = [tuple(r) for r in got]
    if case.get("final"):
        # update mode re-emits windows as they grow: last write wins per
        # (leading identity columns) — identity = all but the aggregates,
        # here the first len(expect[0]) - n_aggs columns; key on the first
        # two output columns (pk/window or pk), enough for these cases
        final = {}
        for r in rows:
            final[r[: max(1, len(r) - 2)]] = r
        rows = list(final.values())
    if case.get("final_by_window"):
        final = {}
        for r in rows:
            final[r[0]] = r
        rows = list(final.values())
    if "expect" in case:
        assert sorted(rows) == sorted(tuple(e) for e in case["expect"]), rows
    for e in case.get("contains", []):
        assert tuple(e) in rows, (e, rows)
    for e in case.get("never", []):
        assert tuple(e) not in rows, (e, rows)

    # batch≡streaming consistency (r9 verdict #6; SURVEY §0 north star):
    # the SAME sql over a BATCH table holding the union of all batches
    # (minus the rows the watermark provably dropped — `dropped`) must
    # reproduce the final streaming state. Update-mode cases compare
    # exactly (last-write-wins state == batch); append-mode cases compare
    # as a subset (streaming only emits windows the watermark FINALIZED;
    # still-open windows live only in the batch result).
    dropped = {tuple(r) for r in case.get("dropped", [])}
    union = [
        tuple(r)
        for b in case["batches"]
        for r in b
        if tuple(r) not in dropped
    ]
    eng_b = Engine(spark)
    eng_b.register(
        "s", spark.createDataFrame(union, "pk string, ts bigint, v double")
    )
    bdf = eng_b.execute(case["sql"])
    assert not bdf.isStreaming
    batch_rows = sorted(map(tuple, bdf.collect()))
    if case["mode"] == "update":
        assert sorted(rows) == batch_rows, (rows, batch_rows)
    else:
        assert set(rows) <= set(batch_rows), (rows, batch_rows)


def test_stream_batch_name_collision_rejected_both_ways(spark):
    """The SELECT router consults streams before batch tables, so BOTH
    registration orders of a name collision must reject (r9 review):
    stream-then-table and table-then-stream."""
    from openmldb_spark.engine import Engine

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    eng = Engine(spark)
    eng.register_stream("s1", stream)
    with pytest.raises(ValueError, match="registered stream"):
        eng.execute("CREATE TABLE s1 (id int)")
    with pytest.raises(ValueError, match="registered stream"):
        eng.register("s1", spark.createDataFrame([(1,)], "id int"))

    eng2 = Engine(spark)
    eng2.execute("CREATE TABLE t1 (id int)")
    with pytest.raises(ValueError, match="batch table"):
        eng2.register_stream("t1", stream)
    # and a non-streaming frame is rejected outright
    with pytest.raises(ValueError, match="streaming DataFrame"):
        eng2.register_stream("s2", spark.createDataFrame([(1,)], "id int"))


def test_window_sql_over_batch_table(spark):
    """The tumble/hop/session SQL surface runs over plain BATCH tables
    (r10: the router dispatches GROUP BY window-calls to the event-time
    lowering in both modes — one query text, batch≡streaming), while a
    plain GROUP BY over the same table still goes to the batch Lowerer."""
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.register(
        "ev",
        spark.createDataFrame(
            [("a", 1000, 1.0), ("a", 4000, 2.0), ("a", 12000, 5.0),
             ("b", 2000, 7.0)],
            "pk string, ts bigint, v double",
        ),
    )
    out = eng.execute(
        "SELECT pk, window_start, sum(v) AS sv, count(*) AS cnt FROM ev "
        "GROUP BY tumble(ts, '10s'), pk"
    )
    assert not out.isStreaming
    got = sorted(map(tuple, out.collect()))
    assert got == [("a", 0, 3.0, 2), ("a", 10000, 5.0, 1), ("b", 0, 7.0, 1)]
    # session windows in batch mode
    ses = eng.execute(
        "SELECT pk, window_start, count(*) AS cnt FROM ev "
        "GROUP BY session_window(ts, '5s'), pk"
    )
    assert sorted(map(tuple, ses.collect())) == [
        ("a", 1000, 2), ("a", 12000, 1), ("b", 2000, 1)
    ]
    # plain GROUP BY still routes to the batch dialect (no window call)
    plain = eng.execute("SELECT pk, sum(v) AS sv FROM ev GROUP BY pk")
    assert sorted(map(tuple, plain.collect())) == [("a", 8.0), ("b", 7.0)]


# -- the window-SQL surface over a batch table vs a pure-Python model ------

#: (pk, ts, v): v values are binary fractions, so every sum/avg is exact in
#: any summation order; no ts sits on a tumble/hop bound or a session gap
_EV_ROWS = [
    ("a", 1000, 1.0), ("a", 4000, 2.0), ("a", 11500, -3.0),
    ("a", 13000, 5.0), ("a", 31000, 4.0),
    ("b", 2000, 7.0), ("b", 6500, 0.5), ("b", 26000, 2.5),
]

_WINDOW_SQL = {
    "tumble": "tumble(ts, '10s')",
    "hop": "hop(ts, '5s', '10s')",
    "session": "session_window(ts, '4s')",
}


def _model_windows(kind, rows):
    """{(pk, start, end): [v, ...]} for the windows of ``_WINDOW_SQL``."""
    out: dict = {}
    if kind == "session":
        by_pk: dict = {}
        for pk, ts, v in sorted(rows):
            by_pk.setdefault(pk, []).append((ts, v))
        for pk, evs in by_pk.items():
            cur = []
            for ts, v in evs:
                if cur and ts >= cur[-1][0] + 4000:
                    out[(pk, cur[0][0], cur[-1][0] + 4000)] = [x for _, x in cur]
                    cur = []
                cur.append((ts, v))
            out[(pk, cur[0][0], cur[-1][0] + 4000)] = [x for _, x in cur]
        return out
    size, slide = (10000, 10000) if kind == "tumble" else (10000, 5000)
    for pk, ts, v in rows:
        start = ts // slide * slide
        while start > ts - size:
            out.setdefault((pk, start, start + size), []).append(v)
            start -= slide
    return out


_MODEL_AGGS = {
    "sum": sum,
    "count": len,
    "avg": lambda vs: sum(vs) / len(vs),
    "min": min,
    "max": max,
}


@pytest.fixture(scope="module")
def ev_engine(spark):
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.register("ev", spark.createDataFrame(_EV_ROWS, "pk string, ts bigint, v double"))
    return eng


@pytest.mark.parametrize("agg", list(_MODEL_AGGS))
@pytest.mark.parametrize("kind", list(_WINDOW_SQL))
def test_window_sql_batch_matches_model(ev_engine, kind, agg):
    """Each window kind x each aggregate over a batch table equals the
    Python model of Spark's window assignment (tumble/hop: half-open
    [start, start + size) at multiples of the slide; session: events
    closer than the gap merge, end = last event + gap)."""
    out = ev_engine.execute(
        f"SELECT pk, window_start, window_end, {agg}(v) AS x FROM ev "
        f"GROUP BY {_WINDOW_SQL[kind]}, pk"
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        (pk, s, e, _MODEL_AGGS[agg](vs))
        for (pk, s, e), vs in _model_windows(kind, _EV_ROWS).items()
    )
    assert got == want


@pytest.mark.parametrize("size", ["'10s'", "'10000'", "10000", "'10 seconds'"])
def test_window_sql_interval_spellings_agree(ev_engine, size):
    """Dialect interval spellings ('10s', bare ms, quoted or not) and
    Spark's own ('10 seconds') name the same tumble size."""
    out = ev_engine.execute(
        f"SELECT pk, window_start, count(*) AS n FROM ev "
        f"GROUP BY tumble(ts, {size}), pk"
    )
    want = sorted(
        (pk, s, len(vs)) for (pk, s, _), vs in _model_windows("tumble", _EV_ROWS).items()
    )
    assert sorted(map(tuple, out.collect())) == want


@pytest.mark.parametrize(
    "sql, match",
    [
        ("SELECT pk, sum(v) AS s FROM ev GROUP BY tumble(ts, '10s'), pk "
         "HAVING sum(v) > 1", "no joins/OVER/HAVING/LIMIT"),
        ("SELECT pk, sum(v) AS s FROM ev GROUP BY tumble(ts, '10s'), pk "
         "LIMIT 1", "no joins/OVER/HAVING/LIMIT"),
        ("SELECT pk, sum(v) AS s FROM ev "
         "GROUP BY tumble(ts, '10s'), hop(ts, '5s', '10s'), pk",
         "one window call per GROUP BY"),
        ("SELECT pk, sum(v) AS s FROM ev GROUP BY hop(ts, '10s'), pk",
         "hop takes 3 arguments"),
        ("SELECT sum(v) AS s FROM ev GROUP BY tumble(ts, '10s'), upper(pk)",
         "GROUP BY key must be a plain column"),
        ("SELECT v, sum(v) AS s FROM ev GROUP BY tumble(ts, '10s'), pk",
         "non-aggregate item 'v'"),
        ("SELECT * FROM ev GROUP BY tumble(ts, '10s'), pk",
         "explicit items"),
        ("SELECT pk, stddev(v) AS s FROM ev GROUP BY tumble(ts, '10s'), pk",
         "unsupported streaming select item"),
    ],
    ids=["having", "limit", "two_windows", "hop_arity", "expr_key",
         "non_key_item", "star", "unsupported_agg"],
)
def test_window_sql_rejects_unsupported_shapes(ev_engine, sql, match):
    with pytest.raises(ValueError, match=match):
        ev_engine.execute(sql)
