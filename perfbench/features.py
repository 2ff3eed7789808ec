"""The benchmark's feature SQL and an engine-independent reference for it.

One SELECT serves all three workloads: two native windows (``ROWS_RANGE
1d``, ``ROWS 100``), a ``WINDOW ... UNION views`` window (``ROWS_RANGE 1h``),
an array-path window (``MAXSIZE`` with a ``*_cate`` aggregate) and ``LAST
JOIN customer``.

:func:`reference_checksum` computes the training set's checksum from the
generated parquet files with NumPy alone, so the offline check does not
trust the engine it measures. The generator's timestamp lattice
(``gen.py``) keeps every frame bound strict, so no tie rule is needed.
"""

from __future__ import annotations

import zlib

import numpy as np

SQL = """SELECT event_id, user_id,
  sum(amount) OVER w_1d AS amt_1d, count(amount) OVER w_1d AS cnt_1d,
  avg(amount) OVER w_100 AS avg_100, max(amount) OVER w_100 AS max_100,
  count(amount) OVER w_views AS n_1h, sum(amount) OVER w_views AS amt_1h,
  count_cate(amount, event_type) OVER w_cap AS type_mix,
  customer.c_acctbal AS acctbal, customer.c_segment AS segment
FROM events LAST JOIN customer ON events.user_id = customer.c_custkey
WINDOW
  w_1d AS (PARTITION BY user_id ORDER BY ts
    ROWS_RANGE BETWEEN 1d PRECEDING AND CURRENT ROW),
  w_100 AS (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN 100 PRECEDING AND CURRENT ROW),
  w_views AS (UNION views PARTITION BY user_id ORDER BY ts
    ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW),
  w_cap AS (PARTITION BY user_id ORDER BY ts
    ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW MAXSIZE 10)"""

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
ROWS_PRECEDING = 100
MAXSIZE = 10
#: checksum row weight modulus: keeps every bigint sum far from overflow
WEIGHT_MOD = 1021

#: exact (integer) checksum terms, then the one floating term
EXACT_TERMS = ("rows", "id", "amt_1d", "cnt_1d", "max_100", "n_1h", "amt_1h",
               "type_mix", "acctbal", "segment")
FLOAT_TERMS = ("avg_100",)


def spark_checksum(df) -> dict:
    """Order-independent checksum of the engine's training set: per-row
    weighted sums of every column, money columns in whole cents and
    strings as CRC-32, computed by one Spark aggregation."""
    from pyspark.sql import functions as F

    w = F.col("event_id") % WEIGHT_MOD + 1

    def cents(c):
        return F.round(F.col(c) * 100).cast("long")

    def crc(c):
        return F.crc32(F.col(c).cast("binary"))

    terms = {
        "rows": F.count(F.lit(1)),
        "id": F.sum("event_id"),
        "amt_1d": F.sum(w * cents("amt_1d")),
        "cnt_1d": F.sum(w * F.col("cnt_1d")),
        "max_100": F.sum(w * cents("max_100")),
        "n_1h": F.sum(w * F.col("n_1h")),
        "amt_1h": F.sum(w * cents("amt_1h")),
        "type_mix": F.sum(w * crc("type_mix")),
        "acctbal": F.sum(w * cents("acctbal")),
        "segment": F.sum(w * crc("segment")),
        "avg_100": F.sum(w * F.col("avg_100")),
    }
    row = df.select(*[v.alias(k) for k, v in terms.items()]).collect()[0]
    return {k: row[k] for k in terms}


def _sliding_max(values: np.ndarray, lo: np.ndarray) -> np.ndarray:
    """``max(values[lo[i]..i])`` for every ``i`` by a sparse table."""
    n = len(values)
    table = [values]
    span = 1
    while span * 2 <= n:
        prev = table[-1]
        table.append(np.maximum(prev[:-span], prev[span:]))
        span *= 2
    hi = np.arange(n)
    length = hi - lo + 1
    k = np.floor(np.log2(length)).astype(np.int64)
    out = np.empty(n, dtype=values.dtype)
    for level in np.unique(k):
        sel = k == level
        t = table[level]
        out[sel] = np.maximum(t[lo[sel]], t[hi[sel] - (1 << level) + 1])
    return out


def reference_checksum(paths: dict) -> dict:
    """The checksum :func:`spark_checksum` must return, computed from the
    generated ``events``, ``views`` and ``customer`` parquet files."""
    import pyarrow.parquet as pq

    ev = pq.read_table(paths["events"]).to_pandas()
    vw = pq.read_table(paths["views"]).to_pandas()
    cu = pq.read_table(paths["customer"]).to_pandas()

    ev = ev.sort_values(["user_id", "ts"], kind="stable").reset_index(drop=True)
    vw = vw.sort_values(["user_id", "ts"], kind="stable").reset_index(drop=True)
    base = min(ev["ts"].min(), vw["ts"].min())
    shift = 1 << 34

    def keys(df):
        ms = (df["ts"] - base).values.astype("timedelta64[ms]").astype(np.int64)
        return df["user_id"].values.astype(np.int64) * shift + ms

    ek, vk = keys(ev), keys(vw)
    users = ev["user_id"].values.astype(np.int64)
    n = len(ev)
    idx = np.arange(n)
    first = np.searchsorted(ek, users * shift, "left")
    cents = np.rint(ev["amount"].values * 100).astype(np.int64)
    cs = np.concatenate(([0], np.cumsum(cents)))

    lo_1d = np.maximum(first, np.searchsorted(ek, ek - DAY_MS, "left"))
    cnt_1d = idx - lo_1d + 1
    amt_1d = cs[idx + 1] - cs[lo_1d]

    lo_100 = np.maximum(first, idx - ROWS_PRECEDING)
    avg_100 = (cs[idx + 1] - cs[lo_100]) / 100.0 / (idx - lo_100 + 1)
    max_100 = _sliding_max(cents, lo_100)

    lo_1h = np.maximum(first, np.searchsorted(ek, ek - HOUR_MS, "left"))
    vcents = np.rint(vw["amount"].values * 100).astype(np.int64)
    vcs = np.concatenate(([0], np.cumsum(vcents)))
    v_first = np.searchsorted(vk, users * shift, "left")
    v_lo = np.maximum(v_first, np.searchsorted(vk, ek - HOUR_MS, "left"))
    v_hi = np.maximum(v_lo, np.searchsorted(vk, ek, "right"))
    n_1h = (idx - lo_1h + 1) + (v_hi - v_lo)
    amt_1h = (cs[idx + 1] - cs[lo_1h]) + (vcs[v_hi] - vcs[v_lo])

    lo_cap = np.maximum(lo_1h, idx - (MAXSIZE - 1))
    types = ev["event_type"].values
    names = sorted(set(types))
    counts = []
    for name in names:
        c = np.concatenate(([0], np.cumsum(types == name)))
        counts.append(c[idx + 1] - c[lo_cap])
    mix = [
        ",".join(f"{name}:{cnt[i]}" for name, cnt in zip(names, counts) if cnt[i])
        for i in range(n)
    ]

    bal = dict(zip(cu["c_custkey"].tolist(), np.rint(cu["c_acctbal"].values * 100).astype(np.int64).tolist()))
    seg = dict(zip(cu["c_custkey"].tolist(), cu["c_segment"].tolist()))
    ids = ev["event_id"].values.astype(np.int64)
    w = ids % WEIGHT_MOD + 1
    ulist = users.tolist()
    wlist = w.tolist()
    crc = zlib.crc32
    return {
        "rows": n,
        "id": int(ids.sum()),
        "amt_1d": int((w * amt_1d).sum()),
        "cnt_1d": int((w * cnt_1d).sum()),
        "max_100": int((w * max_100).sum()),
        "n_1h": int((w * n_1h).sum()),
        "amt_1h": int((w * amt_1h).sum()),
        "type_mix": sum(wi * crc(m.encode()) for wi, m in zip(wlist, mix)),
        "acctbal": sum(wi * bal[u] for wi, u in zip(wlist, ulist) if u in bal),
        "segment": sum(wi * crc(seg[u].encode()) for wi, u in zip(wlist, ulist) if u in seg),
        "avg_100": float((w * avg_100).sum()),
    }


def checksum_mismatches(got: dict, want: dict) -> list[str]:
    """Names of the checksum terms that differ: exact terms must be equal,
    the floating term may differ by summation order only."""
    bad = [k for k in EXACT_TERMS if got.get(k) != want[k]]
    for k in FLOAT_TERMS:
        g, e = got.get(k), want[k]
        if g is None or abs(g - e) > 1e-9 * max(1.0, abs(e)):
            bad.append(k)
    return bad
