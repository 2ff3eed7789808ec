"""Porter for the reference's query-corpus files (``cases/query/*.yaml`` —
inputs already carry schema/data strings, optionally via ``resource:``
refs) into this repo's tests/cases format.

Usage: python tools/port_ref_query_case.py REF_FILE [id ...] > out.yaml
"""

import os
import sys

import yaml

from port_ref_function_case import conv_cols, conv_data_str, conv_rows, indent

REF_ROOT = "/root/reference"

#: query-corpus schema strings already use repo type names, EXCEPT these
_TYPE_FIX = {"int:": "int32:", "bigint:": "int64:", "smallint:": "int16:"}


def _fix_schema(s: str) -> str:
    out = []
    for part in s.split(","):
        name, typ = part.strip().rsplit(":", 1)
        typ = {"int": "int32", "bigint": "int64", "smallint": "int16"}.get(
            typ.strip(), typ.strip()
        )
        out.append(f"{name.strip()}:{typ}")
    return ", ".join(out)


def _load_input(inp: dict) -> dict:
    if "resource" in inp:
        res = yaml.safe_load(open(os.path.join(REF_ROOT, inp["resource"])))
        table = res.get("table", res)
        merged = dict(table)
        merged.update({k: v for k, v in inp.items() if k != "resource"})
        return merged
    return inp


def main() -> None:
    ref = sys.argv[1]
    only = set(sys.argv[2:])
    doc = yaml.safe_load(open(ref))
    seen: dict = {}
    for case in doc["cases"]:
        cid = str(case["id"])
        seen[cid] = seen.get(cid, 0) + 1
        if seen[cid] > 1:
            cid = f"{cid}~{seen[cid]}"
        if only and cid not in only:
            continue
        if "batch-unsupport" in str(case.get("mode", "")):
            continue
        try:
            _emit(ref, case, cid)
        except Exception as ex:
            print(f"SKIP {cid}: {type(ex).__name__}: {ex}", file=sys.stderr)


def _emit(ref, case, cid) -> None:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        names = [
            inp.get("name") or f"t{i}" for i, inp in enumerate(case.get("inputs", []))
        ]
        sql = case["sql"].strip().rstrip(";")
        for ni, nm in enumerate(names):
            sql = sql.replace("{" + str(ni) + "}", nm)
        print(f'  - id: "{cid}"')
        desc = str(case.get("desc", "")).replace('"', "'").strip()
        print(f'    desc: "{desc} (ported {ref.split("/cases/")[-1]} id {cid})"')
        print("    sql: |")
        print(indent(sql, "      "))
        if "parameters" in case:
            print("    parameters:")
            print(f"      columns: {case['parameters']['columns']}")
            print(f"      rows: {case['parameters']['rows']}")
        inputs = [_load_input(i) for i in case.get("inputs", [])]
        if inputs:
            print("    inputs:")
        for i, inp in enumerate(inputs):
            name = inp.get("name") or f"t{i}"
            print(f"      - name: {name}")
            if "schema" in inp:
                print(f"        schema: {_fix_schema(inp['schema'])}")
                print("        data: |")
                print(indent(conv_data_str(inp.get("data", "")), "          "))
            elif "columns" in inp:
                print(f"        schema: {conv_cols(inp['columns'])}")
                print("        data: |")
                if "data" in inp:
                    print(indent(conv_data_str(inp["data"]), "          "))
                else:
                    print(indent(conv_rows(inp.get("rows") or []), "          "))
        exp = case.get("expect", {})
        print("    expect:")
        if exp.get("success") is False:
            print("      error: true")
        elif "schema" in exp:
            print(f"      schema: {_fix_schema(exp['schema'])}")
            if exp.get("order"):
                print(f"      order: {exp['order']}")
            print("      data: |")
            print(indent(conv_data_str(exp.get("data", "")), "        "))
        elif "columns" in exp:
            cols = exp["columns"]
            if cols and ":" in cols[0]:
                # "name:type" colon style (query corpus) — already ours
                print(f"      schema: {_fix_schema(', '.join(cols))}")
            else:
                print(f"      schema: {conv_cols(cols)}")
            if exp.get("order"):
                print(f"      order: {exp['order']}")
            print("      data: |")
            if "data" in exp:
                print(indent(conv_data_str(exp["data"]), "        "))
            else:
                print(indent(conv_rows(exp.get("rows") or []), "        "))
        else:
            print("      success: true")
        print()
    print(buf.getvalue(), end="")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
