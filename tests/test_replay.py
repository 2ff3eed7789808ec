"""Batch ≡ request replay over the golden SELECT corpus (``tests/cases``):
the paper's central guarantee, that offline training features equal
online serving features, checked case by case.

Each golden SELECT the engine's own ``DEPLOY`` accepts is deployed over
its inputs with the main table empty. Every main-table input row is then
served through ``run_request_rows`` against the rows before it in input
order, and appended to the store afterwards (the online ``INSERT`` path,
so the compiled plan's index follows). The served rows must equal the
batch ``expect`` rows under the corpus comparison (``test_yaml_cases``).

- A refused DEPLOY passes only with a known reason (:data:`REFUSALS`).
- A mismatch is either fixed or pinned in :data:`PINNED` to a numbered
  DIVERGENCES.md entry; a pinned case must still mismatch.

The default gate runs every ``smoke_stride(25)``-th candidate;
``SPARK_GRAFT_FULL_TESTS=1`` replays them all. Run this file as a script
(``PYTHONPATH=.:tests python tests/test_replay.py [case id substring ...]``)
for the replayed / refused / diverged counts and the serving paths of the
deployments that served.
"""

import collections
import glob
import os
import re

import pytest

try:
    import yaml
except ImportError:
    yaml = None

from test_yaml_cases import _SPARK_TYPES, _eq, _parse_rows, _parse_schema, smoke_stride

CASE_DIR = os.path.join(os.path.dirname(__file__), "cases")

#: refusal messages of the engine's DEPLOY checks the replay accepts, by
#: reason
REFUSALS = {
    "no named main table": "DEPLOY needs a SELECT with a named main table",
    "not a SELECT": "DEPLOY requires a SELECT statement",
    "cross-database": "DEPLOY SQL must not reference other databases",
    "main table is a WITH name": "is a WITH table",
}

#: DIVERGENCES.md entries a replay mismatch is pinned to
LATER_ROWS = "#26 request replay sees only the rows stored before it"
GROUPED_REQUEST = "#27 GROUP BY over the request table aggregates the request alone"

#: "<file>:<id>" -> the DIVERGENCES.md entry its mismatch is pinned to
PINNED = {
    **dict.fromkeys(
        [f"ref_ported_current_row_cases.yaml:{i}" for i in (2, 6)]
        + [f"ref_ported_current_row_fn_cases.yaml:{i}" for i in (3, 7, 9)]
        + [
            f"ref_ported_exclude_current_time_fn_cases.yaml:{i}"
            for i in (5, 6, 7, 9, 10, 11, 12, 14, 16)
        ]
        + [f"ref_ported_test_window_cases.yaml:11-{k}" for k in ("ROWS", "ROWS_RANGE")]
        + [f"ref_ported_window_attributes_fn_cases.yaml:{i}" for i in (0, 9)]
        + [f"ref_ported_window_cases.yaml:{i}" for i in (7, 15, 16)]
        + [
            "ref_ported_unique_expect_cases.yaml:0",
            "ref_ported_window_row_cases.yaml:13-1",
            "ref_ported_window_row_range_cases.yaml:16-1",
        ],
        LATER_ROWS,
    ),
    "ref_ported_groupby_v040_cases.yaml:22": GROUPED_REQUEST,
}


def _candidates():
    """(path, case) of every golden SELECT with expected rows that
    request mode may accept: a window or a LAST JOIN, no parameters."""
    if yaml is None:
        return []
    out = []
    for path in sorted(glob.glob(os.path.join(CASE_DIR, "*.yaml"))):
        for case in yaml.safe_load(open(path))["cases"]:
            exp = case.get("expect", {})
            sql = case.get("sql", "")
            if (
                "data" in exp
                and "parameters" not in case
                and re.search(r"\bOVER\b|\bLAST\s+JOIN\b", sql, re.IGNORECASE)
            ):
                out.append((path, case))
    return out


def _params():
    stride = smoke_stride(25)
    return [
        pytest.param(path, case, id=f"{os.path.basename(path)}:{case['id']}")
        for i, (path, case) in enumerate(_candidates())
        if i % stride == 0
    ]


def replay(spark, case) -> tuple[str, str]:
    """``(outcome, detail)`` of replaying one case: ``("refused",
    reason)``, ``("error", message)``, ``("diverged", first difference)``
    or ``("replayed", serving path)``."""
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    rows_of = {}
    for inp in case.get("inputs", []):
        schema = _parse_schema(inp["schema"])
        ddl = ", ".join(f"`{n}` {_SPARK_TYPES[t]}" for n, t in schema)
        rows_of[inp["name"]] = _parse_rows(inp["data"], schema)
        eng.register(inp["name"], spark.createDataFrame(rows_of[inp["name"]], ddl))
    try:
        dep = eng.execute(f"DEPLOY replay {case['sql']}")
    except Exception as e:  # a refusal is an outcome; its reason is checked
        return "refused", f"{type(e).__name__}: {e}"
    main = dep.request_table
    db, bare = eng._loc(main)
    eng.register(main, eng.tables[main].limit(0))
    served = []
    try:
        for row in rows_of[main]:
            served += [tuple(r) for r in dep.run_request_rows([row])]
            eng._append_rows(db, bare, [list(row)])
    except Exception as e:
        return "error", f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    path = dict(dep.serving_info())["path"]
    exp = case["expect"]
    exp_schema = _parse_schema(exp["schema"])
    want = _parse_rows(exp["data"], exp_schema)
    if exp.get("order"):
        i = [n for n, _ in exp_schema].index(exp["order"])
        key = lambda r: (r[i] is None, r[i])  # noqa: E731
        served.sort(key=key)
        want.sort(key=key)
    if len(served) != len(want):
        return "diverged", f"{len(served)} rows served, {len(want)} expected"
    for g, e in zip(served, want):
        for gv, ev, (name, typ) in zip(g, e, exp_schema):
            if not _eq(gv, ev, typ):
                return "diverged", f"{name}: served {gv!r}, batch {ev!r} (row {e})"
    return "replayed", path


@pytest.mark.parametrize("path,case", _params())
def test_replay_equals_batch(spark, path, case):
    cid = f"{os.path.basename(path)}:{case['id']}"
    outcome, detail = replay(spark, case)
    if outcome == "refused":
        assert any(m in detail for m in REFUSALS.values()), f"{cid}: {detail}"
    elif cid in PINNED:
        assert outcome in ("diverged", "error"), f"{cid} is pinned to {PINNED[cid]}: unpin it"
    else:
        assert outcome == "replayed", f"{cid} ({case['desc']}): {outcome}: {detail}"


if __name__ == "__main__":
    import sys

    from openmldb_spark.session import get_spark

    spark = get_spark("replay")
    counts: collections.Counter = collections.Counter()
    details: dict = collections.defaultdict(list)
    picked = _candidates()
    if len(sys.argv) > 1:
        picked = [pc for pc in picked if any(a in f"{os.path.basename(pc[0])}:{pc[1]['id']}" for a in sys.argv[1:])]
    for path, case in picked:
        cid = f"{os.path.basename(path)}:{case['id']}"
        outcome, detail = replay(spark, case)
        if cid in PINNED and outcome in ("diverged", "error"):
            outcome, detail = "pinned", PINNED[cid]
        short = re.sub(r"\d+", "N", detail)[:120] if outcome != "replayed" else detail
        counts[outcome] += 1
        details[(outcome, short)].append(cid)
        print(f"\n{outcome:9s} {cid} {detail[:160]}", flush=True)
    print(dict(counts))
    for (outcome, short), ids in sorted(details.items(), key=lambda kv: -len(kv[1])):
        print(f"{len(ids):5d} {outcome} {short} e.g. {ids[:3]}")
    spark.stop()
