"""Event-time windowed aggregation (streaming/eventtime.py): tumbling and
hopping windows over a file-source stream, watermark late-data semantics —
in-watermark late rows fold into their window; beyond-watermark rows drop."""

import time

import pytest
from pyspark.sql import functions as F

from openmldb_spark.streaming.eventtime import event_time_window_agg


def _drain(q, seconds=20):
    deadline = time.time() + seconds
    while time.time() < deadline:
        q.processAllAvailable()
        time.sleep(0.3)
        if not q.status["isDataAvailable"]:
            return


def _run_stream(spark, tmp_path, batches, *, mode, watermark="5 seconds"):
    """Feed batches (lists of (pk, ts_ms, v)) as sequential files; return
    collected output rows of a per-pk 10s tumbling sum."""
    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    stream = (
        spark.readStream.schema("pk string, ts bigint, v double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = event_time_window_agg(
        stream,
        ts_col="ts",
        window="10 seconds",
        aggs={"sv": F.sum("v"), "cnt": F.count(F.lit(1))},
        keys=["pk"],
        watermark=watermark,
    )
    got: list = []
    q = (
        out.writeStream.outputMode(mode)
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{mode}"))
        .start()
    )
    try:
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "pk string, ts bigint, v double"
            ).coalesce(1).write.parquet(str(src / f"b{i}"))
            _drain(q)
    finally:
        q.stop()
    return got


@pytest.mark.slow
def test_tumbling_update_mode_folds_late_in_watermark_rows(spark, tmp_path):
    batches = [
        [("a", 1_000, 1.0), ("a", 4_000, 2.0)],       # window [0,10s): 3
        [("a", 12_000, 5.0)],                          # advances max event time
        [("a", 8_000, 10.0)],                          # late but within 5s wm
    ]
    got = _run_stream(spark, tmp_path, batches, mode="update")
    final = {}
    for r in got:
        final[(r["pk"], r["window_start"])] = (r["sv"], r["cnt"])
    assert final[("a", 0)] == (13.0, 3)      # late row folded in
    assert final[("a", 10_000)] == (5.0, 1)


@pytest.mark.slow
def test_tumbling_append_mode_drops_beyond_watermark(spark, tmp_path):
    batches = [
        [("a", 1_000, 1.0)],
        # jump far ahead: watermark = 60s - 5s = 55s >> window [0,10s) end
        [("a", 60_000, 2.0)],
        # 5s is now WAY behind the watermark: dropped, never re-emitted
        [("a", 5_000, 100.0)],
        # push event time further so more windows could finalize
        [("a", 80_000, 3.0)],
    ]
    got = _run_stream(spark, tmp_path, batches, mode="append")
    emitted = {(r["pk"], r["window_start"]): r["sv"] for r in got}
    # the [0,10s) window finalized with ONLY the pre-watermark row
    assert emitted.get(("a", 0)) == 1.0
    assert all(not (ws == 0 and sv == 101.0) for (_, ws), sv in emitted.items())


def test_hopping_window_memberships(spark, tmp_path):
    src = tmp_path / "hop"
    src.mkdir()
    spark.createDataFrame(
        [("a", 7_000, 1.0)], "pk string, ts bigint, v double"
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema("pk string, ts bigint, v double")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = event_time_window_agg(
        stream,
        ts_col="ts",
        window="10 seconds",
        slide="5 seconds",
        aggs={"sv": F.sum("v")},
        keys=["pk"],
    )
    got: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_hop"))
        .start()
    )
    try:
        _drain(q)
    finally:
        q.stop()
    # a 10s window sliding by 5s: ts=7s belongs to [0,10) and [5,15)
    starts = sorted(r["window_start"] for r in got)
    assert starts == [0, 5_000]


def _run_session_stream(spark, tmp_path, batches, *, mode, gap="5 seconds",
                        watermark="5 seconds"):
    """Feed batches as sequential files; return collected rows of a per-pk
    session-window sum with the given gap."""
    from openmldb_spark.streaming.eventtime import session_window_agg

    src = tmp_path / "ssrc"
    src.mkdir(exist_ok=True)
    stream = (
        spark.readStream.schema("pk string, ts bigint, v double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = session_window_agg(
        stream,
        ts_col="ts",
        gap=gap,
        aggs={"sv": F.sum("v"), "cnt": F.count(F.lit(1))},
        keys=["pk"],
        watermark=watermark,
    )
    got: list = []
    q = (
        out.writeStream.outputMode(mode)
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / f"sckpt_{mode}"))
        .start()
    )
    try:
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "pk string, ts bigint, v double"
            ).coalesce(1).write.parquet(str(src / f"b{i}"))
            _drain(q)
    finally:
        q.stop()
    return got


@pytest.mark.slow
def test_session_window_gap_merge_and_split(spark, tmp_path):
    # gap 5s: rows at 1s/4s chain into one session; 20s starts another
    batches = [
        [("a", 1_000, 1.0), ("a", 4_000, 2.0), ("a", 20_000, 4.0)],
        # 40s pushes the watermark (35s) past both sessions' end+gap:
        # both finalize in append mode
        [("a", 40_000, 8.0)],
        [("a", 60_000, 0.0)],
    ]
    got = _run_session_stream(spark, tmp_path, batches, mode="append")
    final = {(r["pk"], r["window_start"]): (r["window_end"], r["sv"], r["cnt"])
             for r in got}
    # session 1: [1s, 4s+gap) sum 3, two rows
    assert final[("a", 1_000)] == (9_000, 3.0, 2)
    # session 2: [20s, 25s) single row
    assert final[("a", 20_000)] == (25_000, 4.0, 1)


@pytest.mark.slow
def test_session_window_late_row_bridges_sessions(spark, tmp_path):
    # two sessions 1s and 9s (8s apart > gap 5s keeps them separate), then
    # a late 5s row inside the watermark is within gap of BOTH: the state
    # store merges them into ONE [1s, 14s) session
    batches = [
        [("a", 1_000, 1.0), ("a", 9_000, 2.0)],
        [("a", 5_000, 4.0)],                       # late, within watermark
        [("a", 60_000, 0.0)], [("a", 120_000, 0.0)],  # finalize
    ]
    got = _run_session_stream(
        spark, tmp_path, batches, mode="append", gap="5 seconds",
        watermark="30 seconds",
    )
    rows = {(r["window_start"], r["window_end"]): (r["sv"], r["cnt"])
            for r in got if r["window_start"] < 60_000}
    assert rows == {(1_000, 14_000): (7.0, 3)}


@pytest.mark.slow
def test_session_window_drops_beyond_watermark(spark, tmp_path):
    batches = [
        [("a", 1_000, 1.0)],
        [("a", 60_000, 2.0)],        # watermark -> 55s, closes session 1
        [("a", 2_000, 100.0)],       # way beyond watermark: dropped
        [("a", 120_000, 0.0)],
    ]
    got = _run_session_stream(spark, tmp_path, batches, mode="append")
    by_start = {r["window_start"]: r["sv"] for r in got}
    assert by_start.get(1_000) == 1.0   # finalized without the late row
    assert 2_000 not in by_start        # the dropped row never re-emits


