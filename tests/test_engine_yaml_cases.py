"""Engine-statement golden cases — the reference's DML/DDL case corpora
(``cases/function/dml/*.yaml``: inputs are CREATE/INSERT statements, the
assertion is a subsequent SELECT) executed through
:class:`openmldb_spark.engine.Engine`.

Files live under tests/engine_cases/; format mirrors the SELECT harness
(tests/test_yaml_cases.py) plus a ``statements:`` list run first.
"""

import glob
import os

import pytest

try:
    import yaml
except ImportError:
    yaml = None

from test_yaml_cases import _eq, _parse_rows, _parse_schema, shard_files, smoke_stride

CASE_DIR = os.path.join(os.path.dirname(__file__), "engine_cases")
#: input files the cases load, as ``{casedata}/...`` (each one written out
#: from the expected rows of the cases that load it)
CASE_DATA = os.path.join(CASE_DIR, "data")


def _load_cases():
    if yaml is None:
        return []
    paths = sorted(glob.glob(os.path.join(CASE_DIR, "*.yaml")))
    docs = {p: yaml.safe_load(open(p)) for p in paths}
    paths = shard_files(paths, [len(docs[p]["cases"]) for p in paths])
    stride = smoke_stride(6)
    out = []
    for path in paths:
        for i, case in enumerate(docs[path]["cases"]):
            if i % stride:
                continue
            out.append(pytest.param(path, case, id=f"{os.path.basename(path)}:{case['id']}"))
    return out


@pytest.mark.parametrize("path,case", _load_cases())
def test_engine_yaml_case(spark, path, case, tmp_path):
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    exp = case["expect"]

    import re
    import time

    now_ms = int(time.time() * 1000)

    def _sub(stmt: str) -> str:
        stmt = stmt.replace("{tmpdir}", str(tmp_path))
        stmt = stmt.replace("{casedata}", CASE_DATA)
        # reference {currentTime}[-offset] row values: one `now` per case
        return re.sub(
            r"\{currentTime\}(?:-(\d+))?",
            lambda m: str(now_ms - int(m.group(1) or 0)),
            stmt,
        )

    def run_all():
        for stmt in case.get("statements", []):
            if isinstance(stmt, dict):
                # prepared statement: {sql: "... ? ...", parameters: [...]}
                eng.execute(_sub(stmt["sql"]), parameters=stmt["parameters"])
            elif stmt.strip() == "{waitJobs}":
                # async-job families: block until every submitted job is
                # final (the CLI-side poll loop the reference user runs
                # after @@sync_job=false; asserted states stay real)
                for j in eng.jobman.jobs.values():
                    j.wait(180)
            else:
                eng.execute(_sub(stmt))
        return eng.execute(_sub(case["sql"]))

    if exp.get("error"):
        with pytest.raises(Exception):
            df = run_all()
            if df is not None:
                df.collect()
        return
    got_df = run_all()
    if "idxs" in exp:
        # DESC index expectations (delete_index corpus): compare the
        # __index__ summary rows. Reference ttl spellings normalize
        # (100min == 100m; a 0min/absent ttl == None) and ttlType names
        # map from the proto enums.
        _TTLT = {
            "kAbsoluteTime": "absolute", "kLatestTime": "latest",
            "kAbsAndLat": "absandlat", "kAbsOrLat": "absorlat",
        }

        def _norm_ttl(v):
            v = str(v).replace("min", "m").strip()
            return None if v in ("0m", "0", "None", "") else v

        rows = [r for r in got_df.collect() if r["field"].startswith("__index__")]
        assert len(rows) == len(exp["idxs"]), (rows, exp["idxs"])
        for r, want in zip(rows, exp["idxs"]):
            kv = dict(p.split("=", 1) for p in r["type"].split())
            assert kv["keys"] == ",".join(want["keys"]), (kv, want)
            if "ts" in want:
                assert kv["ts"] == want["ts"], (kv, want)
            if "ttl" in want:
                assert _norm_ttl(kv["ttl"]) == _norm_ttl(want["ttl"]), (kv, want)
            if "ttlType" in want:
                assert kv["ttl_type"] == _TTLT[want["ttlType"]], (kv, want)
        return
    if exp.get("success") is True:
        # a DEPLOY returns a SqlDeployment (already compile-validated)
        if got_df is not None and hasattr(got_df, "collect"):
            got_df.collect()
        return
    if "count" in exp and "schema" not in exp:
        assert got_df.count() == exp["count"]
        return
    if "deployment" in exp:
        # SHOW DEPLOYMENT detail: one row per input/output column. The
        # reference's `sql:` text golden (its own formatter output) is not
        # compared — name/db/in-out column contracts are.
        d = exp["deployment"]
        rows = got_df.collect()
        assert rows, "SHOW DEPLOYMENT returned no rows"
        assert rows[0]["deployment"] == d["name"]
        if "dbName" in d:
            assert rows[0]["db"] == d["dbName"]
        for section, key in (("input", "inColumns"), ("output", "outColumns")):
            if key not in d:
                continue
            got_cols = [
                (r["idx"], r["column_name"], r["column_type"])
                for r in rows
                if r["section"] == section
            ]
            exp_cols = []
            for line in d[key]:
                i, nm, tp = [s.strip() for s in str(line).split(",")][:3]
                exp_cols.append((int(i), nm, tp))
            assert got_cols == exp_cols, f"{section}: {got_cols} != {exp_cols}"
        return
    exp_schema = _parse_schema(exp["schema"])
    exp_rows = _parse_rows(exp["data"], exp_schema)
    assert got_df.columns == [n for n, _ in exp_schema], (
        f"columns {got_df.columns} != {[n for n, _ in exp_schema]}"
    )
    got = [tuple(r) for r in got_df.collect()]
    order_col = exp.get("order")
    if order_col:
        idx = [n for n, _ in exp_schema].index(order_col)
        key = lambda r: (r[idx] is None, r[idx])
        got.sort(key=key)
        exp_rows.sort(key=key)
    assert len(got) == len(exp_rows), f"{len(got)} rows != {len(exp_rows)}"
    for g, e in zip(got, exp_rows):
        for gv, ev, (name, typ) in zip(g, e, exp_schema):
            assert _eq(gv, ev, typ), (
                f"case {case['id']}: column {name}: {gv!r} != {ev!r}\n"
                f"got row: {g}\nexp row: {e}"
            )
