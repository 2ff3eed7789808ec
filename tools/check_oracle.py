"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given sf, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import from their environment, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as entry
from openmldb_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0  # fold IEEE -0.0 into +0.0 (repr-sort key)
    if isinstance(v, (int, str, bool)):
        return v
    return str(v)


def run(sf_dir: str, only: list[str]) -> int:
    spark = get_spark(cpus=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, qfn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = qfn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        dcols = sorted(ddf.column_names)
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} != {dcols}")
            failures += 1
            continue
        if len(srows) != ddf.num_rows:
            print(f"FAIL {name}: rows {len(srows)} != {ddf.num_rows}")
            failures += 1
            continue
        key = lambda t: tuple(repr(v) for v in t)
        sset = sorted(
            (tuple(norm(r[c]) for c in scols) for r in srows), key=key
        )
        dpy = ddf.to_pylist()
        dset = sorted(
            (tuple(norm(r[c]) for c in dcols) for r in dpy), key=key
        )
        if sset != dset:
            bad = next(
                (i for i, (a, b) in enumerate(zip(sset, dset)) if a != b), None
            )
            print(f"FAIL {name}: values differ at sorted-row {bad}:")
            print(f"  spark : {sset[bad] if bad is not None else '?'}")
            print(f"  duckdb: {dset[bad] if bad is not None else '?'}")
            failures += 1
            continue
        print(f"PASS {name}: {len(srows)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]
    sys.exit(1 if run(sf, only) else 0)
