"""Statement-kind acceptance corpus — the reference's parser/plan
regressions (``cases/plan/*.yaml``) re-expressed as classification asserts
over ``Engine.statement_kind`` (see ``tests/plan_cases/`` header for the
porting contract and exclusions). No SparkSession needed: classification
is catalog-free. ``Engine.execute`` routes through the same classifier, so
every case the corpus marks as an error must also be refused there."""

from __future__ import annotations

import pathlib
import zlib

import pytest
import yaml

from openmldb_spark.engine import Engine

_CASES_DIR = pathlib.Path(__file__).parent / "plan_cases"


def _load_cases(errors_only: bool = False):
    out = []
    for f in sorted(_CASES_DIR.glob("*.yaml")):
        data = yaml.safe_load(f.read_text())
        for c in (data or {}).get("cases", []):
            if errors_only and not c["expect"].get("error"):
                continue
            out.append(pytest.param(c, id=f"{f.stem}-{c['id']}-{zlib.crc32(c['sql'].encode()) & 0xffff:04x}"))
    return out


@pytest.mark.parametrize("case", _load_cases())
def test_plan_case(case):
    exp = case["expect"]
    if exp.get("error"):
        with pytest.raises(Exception):
            Engine.statement_kind(case["sql"])
        return
    kind = Engine.statement_kind(case["sql"])
    if not exp.get("accept"):
        assert kind == exp["kind"], f"{case['desc']}: got {kind!r}"


@pytest.mark.parametrize("case", _load_cases(errors_only=True))
def test_plan_error_case_refused_by_execute(spark, case):
    with pytest.raises(Exception):
        Engine(spark).execute(case["sql"])
