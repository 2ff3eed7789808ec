"""HTTP/JSON API surface — the reference's APIServer, Spark-first.

The reference ships an API server exposing the engine over HTTP/JSON
(``src/apiserver/api_server_impl.cc``; route registration at ``:85-94``,
test corpus ``cases/restful/``). This module re-expresses that surface over
:class:`openmldb_spark.engine.Engine`:

====== ================================== ==================================
method path                               semantics (reference impl)
====== ================================== ==================================
GET    /dbs                               list databases        (``:652``)
GET    /dbs/{db}/tables                   list tables           (``:676``)
GET    /dbs/{db}/tables/{t}               table metadata        (``:676``)
POST   /dbs/{db}                          execute SQL           (``:141``)
PUT    /dbs/{db}/tables/{t}               insert one row        (``:375``)
POST   /dbs/{db}/procedures/{sp}          exec procedure        (``:452``)
POST   /dbs/{db}/deployments/{name}       exec deployment       (``:446``)
GET    /dbs/{db}/procedures/{sp}          procedure info        (``:594``)
GET    /dbs/{db}/deployments/{name}       deployment info       (``:623``)
POST   /refresh                           refresh catalog       (``:750``)
====== ================================== ==================================

Anything else answers ``{"code": -1, "msg": "no match method"}`` (the
interface provider's no-route answer, ``interface_provider.cc``).

Design notes (Spark-first, serving-shaped):

- :meth:`ApiServer.handle` is a pure (method, path, body) -> dict function;
  the socket layer (:meth:`ApiServer.serve`) is a thin
  ``ThreadingHTTPServer`` wrapper around it, so the whole contract is
  testable without ports and the HTTP layer stays trivial.
- One HTTP request = one SMALL batch of request rows (the reference's
  serving shape). Procedure/deployment execution therefore runs the
  engine's request path per input row — preserving the response's input
  order — while large-batch serving stays on the SDK surface
  (``SqlDeployment.run_batch_request``), which vectorizes and applies the
  common-column optimization.
- Output-side constant flags (which columns land in ``common_cols_data``)
  come from the SAME classifier the batch-request optimizer uses
  (``SqlDeployment._classify_common``), mirroring the reference where
  ``sdk::Schema::IsConstant`` is set by BatchRequestOptimize.
- The engine is single-catalog/single-session; ``handle`` serializes on a
  lock and pins/restores ``current_db`` + execution variables per request.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from openmldb_spark.engine import Engine
from openmldb_spark.operators.window import parse_interval_ms

NO_MATCH = {"code": -1, "msg": "no match method"}


def _ok(**extra) -> dict:
    out = {"code": 0, "msg": "ok"}
    out.update(extra)
    return out


def _err(msg: str, code: int = -1) -> dict:
    return {"code": code, "msg": msg}


# -- type naming ------------------------------------------------------------
#: Spark simpleString -> table column_desc "type" (openmldb type.proto
#: DataType names; string surfaces as varchar — cases/restful test_desc)
TBL_TYPES = {
    "string": "varchar", "smallint": "smallint", "short": "smallint",
    "int": "int", "integer": "int", "bigint": "bigint", "long": "bigint",
    "float": "float", "double": "double", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp", "date": "date", "boolean": "bool",
}
#: Spark simpleString -> procedure schema "type" (hybridse DataTypeName)
SP_TYPES = {
    "string": "string", "smallint": "int16", "short": "int16",
    "int": "int32", "integer": "int32", "bigint": "int64", "long": "int64",
    "float": "float", "double": "double", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp", "date": "date", "boolean": "bool",
}
#: Spark simpleString -> query-route schema naming (QueryResp, ``:1281``)
QUERY_TYPES = {
    "string": "String", "smallint": "Int16", "short": "Int16",
    "int": "Int32", "integer": "Int32", "bigint": "Int64", "long": "Int64",
    "float": "Float", "double": "Double", "timestamp": "Timestamp",
    "timestamp_ntz": "Timestamp", "date": "Date", "boolean": "Bool",
}

#: POST /dbs/{db} execution modes (``mode_map``, api_server_impl.cc:135)
MODE_MAP = {
    "offsync": ("offline", True),
    "offasync": ("offline", False),
    # the reference's mode_map is {"online", {true, false}}: online is
    # ASYNC; only "onsync" is online+sync (api_server_impl.cc:134-139)
    "online": ("online", False),
    "onsync": ("online", True),
}


def _json_value(v, spark_type: str):
    """Encode one result cell the way the reference's ``WriteValue``
    (api_server_impl.cc:960) does: timestamps as epoch ms, dates as
    unpadded ``Y-M-D`` strings, everything else native JSON."""
    if v is None:
        return None
    if spark_type in ("timestamp", "timestamp_ntz"):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    if spark_type == "date":
        return f"{v.year}-{v.month}-{v.day}"
    if spark_type in ("float", "double") and isinstance(v, float):
        return float(v)
    return v


def _from_json_value(v, spark_type: str, not_null: bool, col: str):
    """Decode one request cell per the declared column type — the
    reference's ``AppendJsonValue`` (api_server_impl.cc:246): strict type
    checks, timestamps from epoch ms, dates from ``YYYY-MM-DD``. Raises
    ValueError with the offending column name."""
    if v is None:
        if not_null:
            raise ValueError(f"col {col} can't be null")
        return None
    is_num = isinstance(v, (int, float)) and not isinstance(v, bool)
    if spark_type == "string":
        if not isinstance(v, str):
            raise ValueError(f"value is not string for col {col}")
        return v
    if spark_type in ("smallint", "short", "int", "integer", "bigint", "long"):
        if not isinstance(v, int) or isinstance(v, bool):
            raise ValueError(f"conversion failed on col {col}")
        return v
    if spark_type in ("float", "double"):
        if not is_num:
            raise ValueError(f"conversion failed on col {col}")
        return float(v)
    if spark_type in ("timestamp", "timestamp_ntz"):
        if isinstance(v, int) and not isinstance(v, bool):
            return _dt.datetime.fromtimestamp(v / 1000.0, _dt.timezone.utc).replace(
                tzinfo=None
            )
        raise ValueError(f"conversion failed on col {col}")
    if spark_type == "date":
        if isinstance(v, str):
            m = re.match(r"^(\d{4})-(\d{1,2})-(\d{1,2})$", v)
            if m:
                return _dt.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        raise ValueError(f"conversion failed on col {col}")
    if spark_type == "boolean":
        if not isinstance(v, bool):
            raise ValueError(f"conversion failed on col {col}")
        return v
    raise ValueError(f"conversion failed on col {col}")


def _nan_to_null(x):
    return None if isinstance(x, float) and (math.isnan(x) or math.isinf(x)) else x


class ApiServer:
    """The reference APIServer re-expressed over one :class:`Engine`."""

    def __init__(self, engine: Engine):
        self.engine = engine
        self._lock = threading.Lock()
        self._httpd: Optional[ThreadingHTTPServer] = None
        # (method, [segment...], handler); ":name" segments capture
        self._routes = [
            ("GET", ["dbs"], self._get_dbs),
            ("GET", ["dbs", ":db", "tables"], self._get_tables),
            ("GET", ["dbs", ":db", "tables", ":t"], self._get_table),
            ("POST", ["dbs", ":db"], self._query),
            ("PUT", ["dbs", ":db", "tables", ":t"], self._put_row),
            ("POST", ["dbs", ":db", "procedures", ":sp"], self._exec_sp),
            ("POST", ["dbs", ":db", "deployments", ":sp"], self._exec_dep),
            ("GET", ["dbs", ":db", "procedures", ":sp"], self._get_sp),
            ("GET", ["dbs", ":db", "deployments", ":sp"], self._get_dep),
            ("POST", ["refresh"], self._refresh),
        ]

    # -- routing ------------------------------------------------------------
    def handle(self, method: str, path: str, body: Optional[str] = None) -> dict:
        path = path.split("?")[0]
        segs = [s for s in path.split("/") if s != ""]
        with self._lock:
            for m, pat, fn in self._routes:
                if m != method.upper() or len(pat) != len(segs):
                    continue
                params = {}
                for p, s in zip(pat, segs):
                    if p.startswith(":"):
                        params[p[1:]] = s
                    elif p != s:
                        break
                else:
                    try:
                        return fn(params, body)
                    except ValueError as e:
                        return _err(str(e))
            return dict(NO_MATCH)

    # -- db / table metadata -------------------------------------------------
    def _get_dbs(self, params: dict, body) -> dict:
        # the engine's built-in "default" db is a single-session artifact
        # (the reference has no implicit database) — not listed
        dbs = sorted(self.engine.databases - {"default"})
        return _ok(dbs=dbs)

    def _check_db(self, db: str) -> Optional[dict]:
        if db not in self.engine.databases:
            return _err("DB not found")
        return None

    def _get_tables(self, params: dict, body) -> dict:
        if (e := self._check_db(params["db"])) is not None:
            return e
        names = sorted(self.engine._db_defs.get(params["db"], {}))
        # tables created straight from DataFrames (no DDL) still list
        names = sorted(set(names) | set(self.engine._dbs.get(params["db"], {})))
        return _ok(tables=[self._table_info(params["db"], n) for n in names])

    def _get_table(self, params: dict, body) -> dict:
        if (e := self._check_db(params["db"])) is not None:
            return e
        if params["t"] not in self.engine._dbs.get(params["db"], {}):
            return _err("Table not found")
        return _ok(table=self._table_info(params["db"], params["t"]))

    def _table_info(self, db: str, name: str) -> dict:
        """nameserver::TableInfo JSON (api_server_impl.cc:1234): column_desc
        with proto type names, column_key with parsed TTL (abs minutes /
        latest count)."""
        eng = self.engine
        td = eng._db_defs.get(db, {}).get(name)
        df = eng._dbs[db][name]
        nn = td.not_null if td else set()
        col_desc = [
            {
                "name": f.name,
                "type": TBL_TYPES.get(f.dataType.simpleString(),
                                      f.dataType.simpleString()),
                "not_null": f.name in nn or not f.nullable,
            }
            for f in df.schema.fields
        ]
        keys = []
        for idx in (td.indexes if td else []):
            ttl_type = idx.ttl_type.lower()
            abs_ttl = lat_ttl = 0

            def _abs_minutes(s: str) -> int:
                s = s.strip()
                if not s or not any(c.isalpha() for c in s):
                    # bare numbers are minutes in the reference's TTL DDL
                    return int(s or 0)
                return parse_interval_ms(s) // 60000

            if idx.ttl:
                parts = [p.strip() for p in re.split(r"\|\||&&", idx.ttl)]
                if ttl_type == "latest":
                    lat_ttl = int(parts[0])
                elif ttl_type in ("absandlat", "absorlat") and len(parts) == 2:
                    abs_ttl, lat_ttl = _abs_minutes(parts[0]), int(parts[1])
                else:
                    abs_ttl = _abs_minutes(parts[0])
            keys.append(
                {
                    "index_name": idx.name,
                    "col_name": list(idx.keys),
                    **({"ts_name": idx.ts_col} if idx.ts_col else {}),
                    "ttl": {
                        "ttl_type": ttl_type,
                        "abs_ttl": abs_ttl,
                        "lat_ttl": lat_ttl,
                    },
                }
            )
        return {
            "name": name,
            "table_partition_size": 1,
            "partition_num": 1,
            "replica_num": 1,
            "column_desc": col_desc,
            "column_key": keys,
            "added_column_desc": [],
            "db": db,
            "partition_key": [],
            "schema_versions": [],
            "format_version": 1,
        }

    # -- POST /dbs/{db}: execute SQL -----------------------------------------
    def _query(self, params: dict, body) -> dict:
        try:
            req = json.loads(body or "")
        except (json.JSONDecodeError, TypeError) as e:
            return _err(f"Json parse failed, {e}")
        sql = req.get("sql", "")
        mode = str(req.get("mode", "offsync")).lower()
        if mode not in MODE_MAP:
            return _err(f"Invalid mode {mode}")
        exec_mode, sync = MODE_MAP[mode]
        nan_null = bool(req.get("write_nan_and_inf_null", False))
        eng = self.engine
        db = params["db"]
        is_create_db = re.match(r"\s*CREATE\s+DATABASE\b", sql, re.IGNORECASE)
        if db not in eng.databases and not is_create_db:
            return _err("DB not found")
        saved = (eng.current_db, eng.variables.get("execute_mode"),
                 eng.variables.get("sync_job"))
        try:
            if db in eng.databases:
                eng.current_db = db
            eng.variables["execute_mode"] = exec_mode
            eng.variables["sync_job"] = "true" if sync else "false"
            try:
                res = eng.execute(sql, req.get("parameter"))
                if res is None or not hasattr(res, "schema"):
                    return _ok()
                types = [f.dataType.simpleString() for f in res.schema.fields]
                collected = res.collect()
            except Exception as e:  # any engine/analysis error -> API error
                return _err(str(e).splitlines()[0][:300])
            rows = []
            for r in collected:
                vals = [
                    _json_value(v, t) for v, t in zip(r, types)
                ]
                if nan_null:
                    vals = [_nan_to_null(v) for v in vals]
                rows.append(vals)
            return _ok(
                data={
                    "schema": [QUERY_TYPES.get(t, "Unknown") for t in types],
                    "data": rows,
                }
            )
        finally:
            eng.current_db, em, sj = saved[0], saved[1], saved[2]
            if em is not None:
                eng.variables["execute_mode"] = em
            if sj is not None:
                eng.variables["sync_job"] = sj

    # -- PUT /dbs/{db}/tables/{t}: insert one row ----------------------------
    def _put_row(self, params: dict, body) -> dict:
        """Error-message contract pinned by cases/restful test_insert.yaml:
        rapidjson-style parse codes (1 = empty document, 7 = bad value),
        ``column size != schema size``, and the bare ``Translate to insert
        row failed`` for value-conversion errors (the reference logs the
        detail server-side only)."""
        if body is None or not str(body).strip():
            return _err("Json parse failed, error code: 1")
        try:
            req = json.loads(body)
        except json.JSONDecodeError:
            return _err("Json parse failed, error code: 7")
        if not isinstance(req, dict):
            return _err("Json parse failed, error code: 1")
        value = req.get("value")
        if (
            not isinstance(value, list)
            or len(value) != 1
            or not isinstance(value[0], list)
        ):
            return _err("Invalid value in body, only support to put one row")
        db, t = params["db"], params["t"]
        eng = self.engine
        store = eng._dbs.get(db, {}).get(t)
        if store is None:
            # the reference surfaces GetInsertRow's resolution error here,
            # not the table-info route's "DB/Table not found"
            return _err(f"table [{db}.{t}] does not exist")
        td = eng._db_defs.get(db, {}).get(t)
        nn = td.not_null if td else set()
        fields = store.schema.fields
        arr = value[0]
        if len(arr) != len(fields):
            return _err("column size != schema size")
        row = []
        try:
            for v, f in zip(arr, fields):
                row.append(
                    _from_json_value(
                        v,
                        f.dataType.simpleString(),
                        f.name in nn or not f.nullable,
                        f.name,
                    )
                )
        except ValueError:
            return _err("Translate to insert row failed")
        # PUT is an ONLINE insert (the reference's ExecuteInsert writes the
        # tablet store regardless of session execute_mode), through the
        # same path as INSERT: epoch bump and compiled-plan write-through
        eng._append_rows(db, t, [row])
        return _ok()

    # -- procedures / deployments --------------------------------------------
    def _lookup(self, db: str, sp: str, kind: Optional[str] = None):
        """Procedure/deployment lookup with the reference's message contract
        (cases/restful: a missing db OR name both answer ``procedure not
        found, msg: <name> does not exist in <db>``; a name of the WRONG
        kind answers the short form — api_server_impl.cc:614,643)."""
        dep = self.engine._db_deps.get(db, {}).get(sp)
        if dep is None:
            raise ValueError(
                f"procedure not found, msg: {sp} does not exist in {db}"
            )
        if kind is not None and dep.kind != kind:
            raise ValueError(f"{kind} not found")
        return dep

    @staticmethod
    def _common_out_names(dep) -> set:
        """Output columns the reference flags constant
        (``sdk::Schema::IsConstant`` via BatchRequestOptimize,
        ``hybridse/src/vm/batch_request_optimize.cc``): node-level dataflow
        — a join whose request-side keys aren't all const makes EVERY
        downstream output non-common (cases/restful test_get_procedure id 7
        pins this for a bare const column selected after a LAST JOIN);
        otherwise an item is common iff all its inputs (expr + window
        keys/order/args) are const, and ``SELECT *`` expands to the request
        columns' own const flags."""
        if (
            not dep.const_cols
            or dep.output_schema is None
            or dep.input_schema is None
        ):
            return set()
        body = dep.query.body
        const = set(dep.const_cols)
        req_cols = {f.name for f in dep.input_schema.fields}
        for j in body.joins:
            jtoks = list(j.on or [])
            for ob in j.order_by or []:
                jtoks += list(ob)
            need = {
                t.text for t in jtoks if t.kind == "name" and t.text in req_cols
            }
            if not need <= const:
                return set()
        cls = dep._classify_common(const)
        if cls is None:
            return set()
        out = set()
        if (
            any(it.star for it in body.items)
            and not body.joins
            and not body.windows
        ):
            out |= const
        for i in cls[0]:
            out.add(dep._item_out_name(body.items[i]))
        out_names = {f.name for f in dep.output_schema.fields}
        return out & out_names

    def _exec_sp(self, params: dict, body) -> dict:
        return self._exec(params, body, has_common_col=True)

    def _exec_dep(self, params: dict, body) -> dict:
        return self._exec(params, body, has_common_col=False)

    def _exec(self, params: dict, body, has_common_col: bool) -> dict:
        """ExecuteProcedure (api_server_impl.cc:452): build full request
        rows from common (const) + per-row inputs, run the request path per
        row (input order preserved), split outputs into data vs
        common_cols_data by the batch-request classifier."""
        try:
            doc = json.loads(body or "")
        except (json.JSONDecodeError, TypeError):
            return _err("Json parse failed")
        try:
            # exec doesn't type-check the target (the reference's
            # CallSQLBatchRequestProcedure serves both kinds)
            dep = self._lookup(params["db"], params["sp"])
        except ValueError as e:
            return _err(str(e))
        common_v = doc.get("common_cols", []) if has_common_col else []
        if not isinstance(common_v, list):
            return _err("common_cols is not array")
        rows_in = doc.get("input")
        if not isinstance(rows_in, list) or not rows_in:
            return _err("Invalid input")
        nan_null = bool(doc.get("write_nan_and_inf_null", False))
        if dep.input_schema is None:
            return _err(f"unknown request table {dep.request_table!r}")
        fields = dep.input_schema.fields
        const_cols = set(dep.const_cols) if has_common_col else set()
        const_idx = [i for i, f in enumerate(fields) if f.name in const_cols]
        if has_common_col and len(common_v) != len(const_idx):
            return _err("Invalid common cols size")
        expected_input = len(fields) - len(const_idx)

        full_rows = []
        json_result = isinstance(rows_in[0], dict)
        for i, rin in enumerate(rows_in):
            vals: list = [None] * len(fields)
            try:
                if isinstance(rin, list):
                    if len(rin) != expected_input:
                        return _err("Invalid input data row")
                    it = iter(rin)
                    ci = iter(common_v)
                    for k, f in enumerate(fields):
                        src = next(ci) if k in const_idx else next(it)
                        vals[k] = _from_json_value(
                            src, f.dataType.simpleString(), False, f.name
                        )
                elif isinstance(rin, dict):
                    ci = iter(common_v)
                    for k, f in enumerate(fields):
                        if k in const_idx:
                            src = next(ci)
                        elif f.name in rin:
                            src = rin[f.name]
                        else:
                            return _err(
                                f"Translate to request row failed in map row "
                                f"{i}, can't find col {f.name}"
                            )
                        vals[k] = _from_json_value(
                            src, f.dataType.simpleString(), False, f.name
                        )
                else:
                    return _err(f"Must be array or map, row {i}")
            except ValueError as e:
                return _err(
                    f"Translate to request row failed in "
                    f"{'map' if isinstance(rin, dict) else 'array'} row {i}, {e}"
                )
            full_rows.append(tuple(vals))

        # one output row per request row, in input order: the serving
        # contract. HTTP batches are small (the reference's APIServer also
        # decodes row-by-row); big-batch serving is run_batch_request on
        # the SDK surface.
        out_rows = []
        try:
            for r in full_rows:
                # rows-native serving: no per-request createDataFrame job —
                # the row stages into the deployment's compiled plan on the
                # driver (SqlDeployment.run_request_rows)
                out_rows.extend(dep.run_request_rows([r]))
        except Exception as e:  # lowering/execution errors -> API error
            return _err(str(e).splitlines()[0][:300])
        if dep.output_schema is None and out_rows:
            out_fields = out_rows[0].__fields__
            out_types = ["string"] * len(out_fields)
        elif dep.output_schema is None:
            # parameterized body + every request row filtered out: no
            # schema and no rows to infer one from — empty payload, not an
            # AttributeError the handler can't serialize (ADVICE r7)
            out_fields, out_types = [], []
        else:
            out_fields = [f.name for f in dep.output_schema.fields]
            out_types = [
                f.dataType.simpleString() for f in dep.output_schema.fields
            ]

        # output constant flags = the batch-request optimizer's verdict
        common_out = self._common_out_names(dep) if has_common_col else set()

        def enc(row, positions):
            # positional access: outputs may carry duplicate names (the
            # reference's v030 deployment corpus selects two `c4`s)
            out = []
            for i in positions:
                v = _json_value(row[i], out_types[i])
                out.append(_nan_to_null(v) if nan_null else v)
            return out

        non_common_pos = [
            i for i, n in enumerate(out_fields) if n not in common_out
        ]
        common_pos = [i for i, n in enumerate(out_fields) if n in common_out]
        data: dict = {}
        if doc.get("need_schema") is True:
            data["schema"] = [
                {"name": n, "type": SP_TYPES.get(t, t)}
                for n, t in zip(out_fields, out_types)
            ]
        if json_result:
            data["data"] = [
                {
                    out_fields[i]: v
                    for i, v in zip(non_common_pos, enc(r, non_common_pos))
                }
                for r in out_rows
            ]
        else:
            data["data"] = [enc(r, non_common_pos) for r in out_rows]
        data["common_cols_data"] = (
            enc(out_rows[0], common_pos) if out_rows else []
        )
        return _ok(data=data)

    def _sp_info(self, dep) -> dict:
        """ProcedureInfo JSON (api_server_impl.cc:1100)."""
        in_fields = dep.input_schema.fields if dep.input_schema else []
        out_fields = dep.output_schema.fields if dep.output_schema else []
        common_out = self._common_out_names(dep)
        tables = [dep.request_table] + [
            j.table.name for j in dep.query.body.joins if j.table.name
        ]
        return {
            "name": dep.name,
            "procedure": dep.create_sql,
            "input_schema": [
                {"name": f.name, "type": SP_TYPES.get(f.dataType.simpleString(),
                                                      f.dataType.simpleString())}
                for f in in_fields
            ],
            "input_common_cols": [
                f.name for f in in_fields if f.name in dep.const_cols
            ],
            "output_schema": [
                {"name": f.name, "type": SP_TYPES.get(f.dataType.simpleString(),
                                                      f.dataType.simpleString())}
                for f in out_fields
            ],
            "output_common_cols": [
                f.name for f in out_fields if f.name in common_out
            ],
            "dbs": [dep.db_name],
            "tables": tables,
        }

    def _get_sp(self, params: dict, body) -> dict:
        try:
            dep = self._lookup(params["db"], params["sp"], "procedure")
        except ValueError as e:
            return _err(str(e))
        return _ok(data=self._sp_info(dep))

    def _get_dep(self, params: dict, body) -> dict:
        try:
            dep = self._lookup(params["db"], params["sp"], "deployment")
        except ValueError as e:
            return _err(str(e))
        return _ok(data=self._sp_info(dep))

    def _refresh(self, params: dict, body) -> dict:
        # single-process engine: the catalog is always current
        return _ok()

    # -- socket layer --------------------------------------------------------
    def serve(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start serving on a daemon thread; returns the bound port."""
        api = self

        class Handler(BaseHTTPRequestHandler):
            def _respond(self):
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n).decode("utf-8") if n else None
                out = api.handle(self.command, self.path.split("?")[0], body)
                payload = json.dumps(out).encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            do_GET = do_PUT = do_POST = do_DELETE = _respond

            def log_message(self, *a):  # quiet
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        threading.Thread(target=self._httpd.serve_forever, daemon=True).start()
        return self._httpd.server_address[1]

    def close(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
