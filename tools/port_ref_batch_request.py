"""Porter for the reference's batch-request corpus
(cases/function/test_batch_request.yaml) into the harness run by
tests/test_batch_request_cases.py: inputs become CREATE/INSERT statements,
the SQL is DEPLOYed, and the `batch_request` block becomes the request
batch with its common-column names.

Usage: python tools/port_ref_batch_request.py REF_FILE [id ...] > out.yaml
"""

import os
import sys

import yaml

from port_ref_function_case import conv_cols, conv_rows, indent


def main() -> None:
    ref = sys.argv[1]
    only = set(sys.argv[2:])
    doc = yaml.safe_load(open(ref))
    for case in doc["cases"]:
        cid = str(case["id"])
        if only and cid not in only:
            continue
        _emit(ref, case, cid)


def _emit(ref, case, cid) -> None:
    inputs = case.get("inputs", [])
    names = [inp.get("name") or f"t{i}" for i, inp in enumerate(inputs)]

    def sub(text: str) -> str:
        for i, nm in enumerate(names):
            text = text.replace("{" + str(i) + "}", nm)
        return text

    print(f'  - id: "{cid}"')
    desc = str(case.get("desc", "")).replace('"', "'").strip()
    print(f'    desc: "{desc} (ported {ref.split("/cases/")[-1]} id {cid})"')
    print("    statements:")
    for nm, inp in zip(names, inputs):
        cols = []
        for c in inp["columns"]:
            n, t = c.rsplit(None, 1)
            cols.append(f"{n.strip()} {t.strip()}")
        print("      - |")
        print(f"        CREATE TABLE {nm} ({', '.join(cols)})")
        repeat = int(inp.get("repeat", 1))
        for r in inp.get("rows") or []:
            vals = []
            for v in r:
                if v is None:
                    vals.append("NULL")
                elif isinstance(v, bool):
                    vals.append("true" if v else "false")
                elif isinstance(v, str):
                    vals.append("'" + v.replace("'", "''") + "'")
                else:
                    vals.append(str(v))
            for _ in range(repeat):
                print("      - |")
                print(f"        INSERT INTO {nm} VALUES ({', '.join(vals)})")
    print("    deploy: |")
    print(indent(sub(case["sql"].strip().rstrip(";")), "      "))
    br = case["batch_request"]
    bcols = br["columns"]
    colnames = [c.rsplit(None, 1)[0].strip() for c in bcols]
    print("    request:")
    print(f"      schema: {conv_cols(bcols)}")
    cci = br.get("common_column_indices") or []
    if cci:
        print(f"      common: [{', '.join(colnames[i] for i in cci)}]")
    print("      data: |")
    print(indent(conv_rows(br["rows"]), "        "))
    exp = case["expect"]
    print("    expect:")
    if "columns" in exp:
        print(f"      schema: {conv_cols(exp['columns'])}")
        if exp.get("order"):
            print(f"      order: {exp['order']}")
        print("      data: |")
        print(indent(conv_rows(exp["rows"]), "        "))
    else:
        print("      success: true")
    print()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
