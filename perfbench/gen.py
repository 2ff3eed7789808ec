"""Seeded input generator for the benchmark.

Writes three parquet tables into one directory:

- ``events``: the event log (``event_id, user_id, event_type, amount, ts``),
  three event types, user keys drawn from a Zipf-like law whose top key
  holds about 3% of rows;
- ``views``: the ``WINDOW ... UNION views`` side table, same schema, same
  key law;
- ``customer``: the ``LAST JOIN`` dimension table (``c_custkey,
  c_segment, c_acctbal``); one user in ten has no customer row.

Timestamps are unique per table and sit on a lattice chosen so that no
difference between two rows ever equals a window bound exactly: every
``events`` ts is 1 mod 11 and every ``views`` ts is 5 mod 11, while 1h,
1d and 7d are not multiples of 11 and 1h is not 4 or 7 mod 11. Frame
membership therefore never depends on how a bound is closed, and a
reference computed outside the engine needs no tie rule.

The same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np

LATTICE = 11
EVENT_RESIDUE = 1
VIEW_RESIDUE = 5
BASE_MS = 1_700_000_000_000 // LATTICE * LATTICE  # 2023-11-14, on the lattice
SPAN_MS = 30 * 86_400_000
EVENT_TYPES = ("view", "click", "buy")
EVENT_TYPE_P = (0.6, 0.3, 0.1)
SEGMENTS = ("AUTO", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TOP_KEY_SHARE = 0.03


def zipf_weights(n_users: int, top_share: float = TOP_KEY_SHARE) -> np.ndarray:
    """Weights ``k**-s`` over ``n_users`` ranks, with ``s`` solved by
    bisection so the top rank carries ``top_share`` of the mass."""
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    lo, hi = 0.0, 3.0
    for _ in range(60):
        s = (lo + hi) / 2
        w = ranks ** -s
        if w[0] / w.sum() < top_share:
            lo = s
        else:
            hi = s
    return w / w.sum()


def _unique_ts(rng: np.random.Generator, n: int, residue: int, start_ms: int, span_ms: int) -> np.ndarray:
    """``n`` distinct lattice timestamps in ``[start, start + span)``."""
    slots = span_ms // LATTICE
    step = slots // n
    idx = rng.permutation(n).astype(np.int64) * step + rng.integers(0, step, n)
    return start_ms + idx * LATTICE + residue


def draw_users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    """User ids for ``n`` rows; the Zipf rank is shuffled over the ids so the
    hot key is not always user 0."""
    ranks = rng.choice(n_users, size=n, p=zipf_weights(n_users))
    return rng.permutation(n_users).astype(np.int64)[ranks]


def _event_table(rng, n: int, n_users: int, first_id: int, residue: int, types=None):
    import pyarrow as pa

    users = draw_users(rng, n, n_users)
    ts = _unique_ts(rng, n, residue, BASE_MS, SPAN_MS)
    if types is None:
        types = np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)]
    amount = np.round(rng.lognormal(3.0, 1.0, n), 2)
    order = np.lexsort((ts, users))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "user_id": pa.array(users[order]),
        "event_type": pa.array(np.asarray(types)[order].tolist(), pa.string()),
        "amount": pa.array(amount[order]),
        "ts": pa.array(ts[order].astype("datetime64[ms]"), pa.timestamp("ms")),
    })


def generate(out_dir: str, seed: int, rows: int, users: int) -> dict:
    """Write ``events``, ``views`` and ``customer`` parquet files for one
    seed; returns ``{table: path}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    events = _event_table(rng, rows, users, 0, EVENT_RESIDUE)
    views = _event_table(rng, rows // 4, users, 10 * rows, VIEW_RESIDUE, types=["view"] * (rows // 4))
    keys = rng.permutation(users)[: users - users // 10]
    customer = pa.table({
        "c_custkey": pa.array(np.sort(keys).astype(np.int64)),
        "c_segment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, len(SEGMENTS), len(keys))].tolist(), pa.string()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, len(keys)), 2)),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (("events", events), ("views", views), ("customer", customer)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def request_rows(seed: int, n: int, n_users: int, after_ms: int, first_id: int) -> list[tuple]:
    """``n`` new event rows for seeded users, each later than ``after_ms``
    and than the row before it, in the ``events`` column order."""
    import datetime

    rng = np.random.default_rng([seed, 1])
    users = draw_users(rng, n, n_users)
    types = np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)]
    amount = np.round(rng.lognormal(3.0, 1.0, n), 2)
    gaps = rng.integers(1, 1000, n).cumsum()
    start = (after_ms // LATTICE + 1) * LATTICE + EVENT_RESIDUE
    epoch = datetime.datetime(1970, 1, 1)
    return [
        (first_id + i, int(users[i]), str(types[i]), float(amount[i]),
         epoch + datetime.timedelta(milliseconds=int(start + gaps[i] * LATTICE)))
        for i in range(n)
    ]

