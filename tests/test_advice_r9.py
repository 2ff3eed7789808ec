"""Regression pin for a round-8 ADVICE finding fixed in round 9:
lowering.py's no-aggregate-inside-OVER fallback — Spark-native aggregate
heads keep the dialect error instead of reaching per-row projection.
(The budget_chunks(by=None) finding is pinned in tests/test_sampling.py::
test_budget_chunks_global_one_physical_assignment.)
"""

import pytest


# -- Spark aggregate heads rejected by the OVER fallback -------------------
def test_spark_aggregate_over_window_keeps_dialect_error(spark):
    from openmldb_spark.sql import parser as P
    from openmldb_spark.sql.lowering import Lowerer

    df = spark.createDataFrame(
        [(1, "a", 1000), (2, "a", 2000)], "id long, k string, ts long"
    )
    sql_t = (
        "SELECT id, {fn} OVER w1 AS x FROM t WINDOW w1 AS (PARTITION BY k "
        "ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)"
    )
    for fn in ("collect_list(id)", "corr(id, ts)", "max_by(id, ts)",
               "skewness(id)"):
        with pytest.raises(ValueError, match="not a window function"):
            Lowerer(spark, {"t": df}).query(P.parse(sql_t.format(fn=fn)), {})
    # the legitimate fallback is untouched: a deterministic row scalar
    # under OVER is window-invariant and evaluates per row
    out = Lowerer(spark, {"t": df}).query(
        P.parse(sql_t.format(fn="ucase(k)")), {}
    ).collect()
    assert {r["x"] for r in out} == {"A"}


# -- #2: color JPEGs defer to PIL when importable ---------------------------
def _sof3_jpeg() -> bytes:
    """SOI + 3-component SOF0 header (no scan — only the marker walk
    reads it)."""
    import struct

    body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes(
        [3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    return (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", len(body) + 2) + body
        + b"\xff\xd9"
    )


