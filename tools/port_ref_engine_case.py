"""Porter for reference DML/DDL-style cases (inputs carry `create:` /
`insert:` STATEMENTS instead of schema+rows) into the engine-case YAML
format run by tests/test_engine_yaml_cases.py.

Usage: python tools/port_ref_engine_case.py REF_FILE [id ...] > out.yaml
"""

import os
import sys

import yaml

from port_ref_function_case import TYPES, conv_cols, conv_rows, indent


def main() -> None:
    ref = sys.argv[1]
    only = set(sys.argv[2:])
    doc = yaml.safe_load(open(ref))
    seen: dict = {}
    for case in doc["cases"]:
        # a file-level `db:` is every case's default database
        if doc.get("db") and not case.get("db"):
            case["db"] = doc["db"]
        cid = str(case["id"])
        seen[cid] = seen.get(cid, 0) + 1
        if seen[cid] > 1:
            cid = f"{cid}~{seen[cid]}"
        if only and cid not in only:
            continue
        if "batch-unsupport" in case.get("mode", ""):
            continue
        # dataProvider (single-dimension): expand d[0] over its values,
        # one emitted case per value (the reference runner's expansion)
        variants = [(cid, case)]
        dp = case.get("dataProvider")
        if dp:
            import copy as _copy

            variants = []
            for vi, val in enumerate(dp[0]):
                c2 = _copy.deepcopy(case)
                for key in ("sql", "sqls", "tearDown"):
                    if key not in c2:
                        continue
                    if isinstance(c2[key], list):
                        c2[key] = [s.replace("d[0]", str(val)) for s in c2[key]]
                    else:
                        c2[key] = c2[key].replace("d[0]", str(val))
                variants.append((f"{cid}_{vi}", c2))
        for vcid, vcase in variants:
            try:
                _emit(ref, vcase, vcid)
            except Exception as ex:
                print(f"SKIP {vcid}: {type(ex).__name__}: {ex}", file=sys.stderr)


def _emit(ref, case, cid) -> None:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        inputs = case.get("inputs", [])
        names = [inp.get("name") or f"t{i}" for i, inp in enumerate(inputs)]

        def sub(text: str) -> str:
            import re as _re

            for i, nm in enumerate(names):
                text = text.replace("{" + str(i) + "}", nm)
            text = text.replace("{auto}", f"auto_{cid.replace('~', '_').replace('-', '_')}")
            # relative file paths (INFILE/OUTFILE) -> per-case tmpdir; the
            # harness substitutes {tmpdir} with pytest's tmp_path
            text = _re.sub(
                r"'(?!/|\{tmpdir\})([^']*\.(?:csv|parquet|txt|json))'",
                r"'{tmpdir}/\1'",
                text,
            )
            return text

        print(f'  - id: "{cid}"')
        desc = str(case.get("desc", "")).replace('"', "'").strip()
        print(f'    desc: "{desc} (ported {ref.split("/cases/")[-1]} id {cid})"')
        has_stmts = any(
            ("create" in inp or "columns" in inp) for inp in inputs
        ) or case.get("sqls")
        # multi-database cases: a case-level db is the CURRENT db for the
        # final sql; per-input dbs get created + populated under USE
        case_db = case.get("db")
        input_dbs = [inp.get("db") for inp in inputs]
        multi_db = case_db is not None or any(d for d in input_dbs)
        if multi_db or has_stmts:
            print("    statements:")
        made: set = set()
        cur_db = [None]

        def use_db(db):
            if db is None:
                db = case_db or "default"
            if db not in made and db != "default":
                print(f"      - CREATE DATABASE IF NOT EXISTS {db}")
                made.add(db)
            if cur_db[0] != db:
                print(f"      - USE {db}")
                cur_db[0] = db
        if multi_db:
            use_db(case_db or "default")
        for nm, inp in zip(names, inputs):
            if multi_db:
                use_db(inp.get("db"))
            if "create" in inp:
                print("      - |")
                print(indent(sub(inp["create"].strip()), "        "))
                for key in ("insert", "inserts"):
                    if key in inp:
                        stmts = inp[key] if isinstance(inp[key], list) else [inp[key]]
                        for st in stmts:
                            st = sub(st.strip().rstrip(";"))
                            if "?" in st and inp.get("rows"):
                                # prepared insert: one bound execution per row
                                for r in inp["rows"]:
                                    vals = [
                                        None if v is None else
                                        (str(v) if not isinstance(v, (int, float, bool)) else v)
                                        for v in r
                                    ]
                                    import json as _json

                                    print(f"      - sql: {_json.dumps(st)}")
                                    print(
                                        "        parameters: "
                                        + _json.dumps(vals)
                                    )
                                continue
                            print("      - |")
                            print(indent(st, "        "))
            elif "columns" in inp:
                # schema+rows input: synthesize CREATE + INSERTs
                cols = []
                for c in inp["columns"]:
                    n, t = c.rsplit(None, 1)
                    t = {"int": "int", "bool": "bool"}.get(t, t)
                    cols.append(f"{n.strip()} {t.strip()}")
                # "name:keys:ts[:ttl[:type]]" index specs -> INDEX clauses
                # (keys may be composite "c1|c3")
                for ix in inp.get("indexs") or []:
                    p = str(ix).split(":")
                    clause = f"INDEX(KEY=({p[1].replace('|', ',')})"
                    if len(p) > 2 and p[2]:
                        clause += f", TS={p[2]}"
                    if len(p) > 3 and p[3]:
                        clause += f", TTL={p[3]}"
                    if len(p) > 4 and p[4]:
                        clause += f", TTL_TYPE={p[4]}"
                    cols.append(clause + ")")
                print("      - |")
                print(f"        CREATE TABLE {nm} ({', '.join(cols)})")
                for r in inp.get("rows") or []:
                    vals = []
                    for v in r:
                        if v is None:
                            vals.append("NULL")
                        elif isinstance(v, bool):
                            vals.append("true" if v else "false")
                        elif isinstance(v, str) and v.startswith("{currentTime}"):
                            # runtime-substituted ms literal (harness _sub)
                            vals.append(v)
                        elif isinstance(v, str):
                            vals.append("'" + v.replace("'", "''") + "'")
                        else:
                            vals.append(str(v))
                    print("      - |")
                    print(f"        INSERT INTO {nm} VALUES ({', '.join(vals)})")
        if multi_db:
            use_db(case_db or "default")
        sqls = [sub(st.strip().rstrip(";")) for st in case.get("sqls") or []]
        final = sub(case["sql"].strip().rstrip(";")) if "sql" in case else sqls.pop()
        for st in sqls:
            print("      - |")
            print(indent(st, "        "))
        print("    sql: |")
        print(indent(final, "      "))
        exp = case.get("expect", {})
        print("    expect:")
        if exp.get("success") is False:
            print("      error: true")
        elif "columns" in exp:
            print(f"      schema: {conv_cols(exp['columns'])}")
            if exp.get("order"):
                print(f"      order: {exp['order']}")
            print("      data: |")
            print(indent(conv_rows(exp.get("rows") or []), "        "))
        elif "idxs" in exp:
            import json as _json

            print("      idxs:")
            for ix in exp["idxs"]:
                print(f"        - keys: {_json.dumps(ix['keys'])}")
                for k in ("ts", "ttl", "ttlType"):
                    if k in ix:
                        print(f"          {k}: {_json.dumps(str(ix[k]))}")
        elif "count" in exp:
            print(f"      count: {exp['count']}")
        elif "deploymentCount" in exp:
            print(f"      count: {exp['deploymentCount']}")
        elif "deployment" in exp:
            dep = exp["deployment"]
            print("      deployment:")
            print(f"        name: {sub(dep['name'])}")
            if "dbName" in dep:
                print(f"        dbName: {dep['dbName']}")
            for key in ("inColumns", "outColumns"):
                if key in dep:
                    print(f"        {key}:")
                    for line in dep[key]:
                        print(f"          - {sub(str(line))}")
        else:
            print("      success: true")
        print()
    print(buf.getvalue(), end="")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
