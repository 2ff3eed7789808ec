"""Deployment DDL: DEPLOY, auto-indexing, CREATE PROCEDURE, SHOW/DROP
DEPLOYMENT — the serving object itself (SqlDeployment: request mode,
batch-request optimization, compiled request plan) lives in
:mod:`openmldb_spark.engine.serving`. DEPLOY's ``long_windows`` option is
validated like the reference's; those windows serve exactly from raw
history through the same compiled plan as any other."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from openmldb_spark.catalog import IndexDef
from openmldb_spark.sql import parser as P
from openmldb_spark.sql.lowering import Lowerer
from openmldb_spark.sql.parser import Tok, tokenize

from openmldb_spark.engine.serving import SqlDeployment


class DeployMixin:

    # -- DEPLOY ---------------------------------------------------------------
    def _deploy(self, name: str, if_not_exists: bool, sql_text: str):
        # DEPLOY [IF NOT EXISTS] name [OPTIONS(long_windows='w1:1d,...')] SELECT ...
        if name in self.deployments:
            if if_not_exists:
                return self.deployments[name]
            # the reference rejects a duplicate deployment name
            # (test_create_deploy id 8)
            raise ValueError(f"deployment {name!r} already exists")
        sql_text = self._mangle_sql(sql_text)[1]
        if self._DBM in sql_text:
            # the reference rejects DEPLOY over db-qualified (cross-db)
            # tables (test_create_deploy ids 6/18) — the deployed procedure
            # is bound to ONE database
            raise ValueError("DEPLOY SQL must not reference other databases")
        om = re.search(
            r"OPTIONS\s*\(\s*long_windows\s*=\s*(['\"])([^'\"]*)\1\s*\)", sql_text, re.IGNORECASE
        )
        long_windows: dict[str, str] = {}
        if om:
            for part in om.group(2).split(","):
                wname, bucket = part.split(":")
                long_windows[wname.strip()] = bucket.strip()
        m = re.search(r"\b(SELECT|WITH)\b", sql_text, re.IGNORECASE)
        if not m:
            # e.g. `DEPLOY name INSERT ...` (test_create_deploy id 10)
            raise ValueError("DEPLOY requires a SELECT statement")
        select_sql = sql_text[m.start():]
        dep = SqlDeployment(self, name, select_sql, long_windows=long_windows)
        if long_windows:
            # cluster-router deploy-time validation
            # (src/sdk/sql_cluster_router.cc:4477-4480): every long_windows
            # name must be used by a windowed select item. The function-tier
            # corpus golden tolerating unknown names (long_window.yaml ids
            # 13/14) predates this check — resolved toward the cluster
            # behavior (DIVERGENCES #25).
            used = {
                it.over.window
                for it in dep.query.body.items
                if it.over is not None
            }
            if not set(long_windows) <= used:
                raise ValueError(
                    "long_windows option doesn't match window in sql"
                )
            for bucket in long_windows.values():
                # aggregator bucket units are the SINGLE-CHAR s/m/h/d or a
                # bare row count (src/storage/aggregator.cc:1262-1280);
                # anything else — the corpus pins '2y', and the reference
                # also rejects '2min' — fails aggregator creation
                # (integration_test/long_window id 0; r9 ADVICE)
                if not re.fullmatch(r"\d+(s|m|h|d)?", bucket):
                    raise ValueError(
                        f"create aggregator failed: bad bucket size "
                        f"{bucket!r} (want <n>[s|m|h|d])"
                    )
        # compile-time validation, like the reference's deploy-time plan
        # build: lower the SELECT against the current catalog (no action
        # runs); unknown tables/columns or bad SQL fail the DEPLOY itself,
        # and the analyzed schema becomes the output contract. Parameterized
        # deploys (`?` placeholders) bind per-execution, so their schema is
        # resolved at first run instead.
        if not any(t.text == "?" for t in tokenize(select_sql)):
            dep.output_schema = Lowerer(self.spark, self._table_view()).query(
                P.parse(select_sql), {}
            ).schema
        self._auto_index(dep)
        self.deployments[name] = dep
        return dep

    def _auto_index(self, dep: "SqlDeployment") -> None:
        """DEPLOY creates the serving indexes its windows need (reference
        DEPLOY_STATEMENT.md "Index Requirements"; TTL derivation
        ``UpdateTTLByWindow``, ``src/base/ddl_parser.cc:530-562``):

        - ROWS frame -> latest-N index (N = |lower bound|, 0 -> 1). The
          reference expires latest-N lazily at GC, and reads see
          un-collected rows (its own deploy corpus pins this:
          cases/restful/v030 caseId 19 still aggregates pre-deploy rows),
          so the index is metadata here (``origin="deploy_lazy"``).
        - ROWS_RANGE frame -> absolute index of ceil(range / 1min)
          (``AbsTTLConvert``). The reference's storage iterator enforces
          absolute bounds at read time per ACCESS PATH — a row expired in
          the deploy index is still served through other indexes — so the
          filter applies only to this deployment's serving history
          (``SqlDeployment._serving_history``), never to plain reads.

        An existing index with the same keys+ts is left untouched: the DDL
        default TTL 0 means never-expire, and ``TTLValueMerge`` keeps the
        unbounded side (restful corpus caseId 2/3 vs 19/20)."""
        from openmldb_spark.operators.window import parse_interval_ms

        td = self.table_defs.get(dep.request_table)
        if td is None:
            return
        tcols = set(self.tables[dep.request_table].columns)
        for w in dep.query.body.windows.values():
            keys = []
            for ktoks in w.partition_by:
                names = [t.text for t in ktoks if t.kind == "name"]
                keys.append(names[-1] if names else None)
            onames = [t.text for t in (w.order_by or []) if t.kind == "name"]
            ts = onames[-1] if onames else None
            if (
                not keys
                or any(k is None or k not in tcols for k in keys)
                or ts is None
                or ts not in tcols
            ):
                # window over joined/derived columns — the reference indexes
                # the source table of those columns; out of scope here
                continue
            if any(
                set(i.keys) == set(keys) and i.ts_col == ts
                for i in td.indexes
            ):
                continue
            kind, bound = w.lower
            iname = f"deploy_{dep.name}_{len(td.indexes)}"
            if w.frame_kind == "rows_range":
                if kind == "preceding" and bound is not None:
                    ms = (
                        parse_interval_ms(bound)
                        if any(c.isalpha() for c in bound)
                        else int(bound)
                    )
                    mins = max(1, -(-ms // 60000))
                    idx = IndexDef(iname, keys, ts, ttl=f"{mins}min",
                                   ttl_type="absolute", origin="deploy")
                else:  # unbounded -> never expires
                    idx = IndexDef(iname, keys, ts, origin="deploy")
            else:
                n = int(bound) if kind == "preceding" and bound else 0
                idx = IndexDef(iname, keys, ts, ttl=str(max(1, n)),
                               ttl_type="latest", origin="deploy_lazy")
            td.indexes.append(idx)

    #: procedure param type -> acceptable Spark simpleString spellings
    _PROC_TYPES = {
        "string": {"string"}, "varchar": {"string"},
        "smallint": {"smallint", "short"}, "int16": {"smallint", "short"},
        "int": {"int", "integer"}, "int32": {"int", "integer"},
        "bigint": {"bigint", "long"}, "int64": {"bigint", "long"},
        "float": {"float"}, "double": {"double"},
        "timestamp": {"timestamp", "timestamp_ntz"}, "date": {"date"},
        "bool": {"boolean"}, "boolean": {"boolean"},
    }

    def _create_procedure(self, toks: list[Tok], sql_text: str):
        """``CREATE PROCEDURE name(p1 t1, const p2 t2, ...) BEGIN <select>;
        END`` — the reference's stored-procedure surface (SQLClusterRouter::
        HandleSQLCreateProcedure; served over HTTP by the APIServer,
        ``src/apiserver/api_server_impl.cc:446``). A procedure is a
        deployment with an EXPLICIT input signature: the parameter list must
        match the request table's schema, and ``const`` parameters mark the
        batch-request common columns (``sdk::Schema::IsConstant``)."""
        m = re.match(
            r"\s*CREATE\s+PROCEDURE\s+(\w+)\s*\((.*?)\)\s*"
            r"BEGIN\s+(.*?)\s*END\s*;?\s*$",
            sql_text,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "CREATE PROCEDURE name(args) BEGIN <select>; END"
            )
        name, params_s, body_sql = m.group(1), m.group(2), m.group(3)
        if name in self.deployments:
            raise ValueError(f"procedure {name!r} already exists")
        body_sql = body_sql.rstrip().rstrip(";")
        if not re.match(r"\s*(SELECT|WITH)\b", body_sql, re.IGNORECASE):
            raise ValueError("CREATE PROCEDURE body must be a SELECT")
        declared: list[tuple[str, str, bool]] = []  # (name, type, is_const)
        for part in params_s.split(","):
            ptoks = part.split()
            is_const = bool(ptoks) and ptoks[0].lower() == "const"
            if is_const:
                ptoks = ptoks[1:]
            if len(ptoks) != 2:
                raise ValueError(f"bad procedure parameter {part.strip()!r}")
            pname, ptype = ptoks[0].strip("`"), ptoks[1].lower()
            if ptype not in self._PROC_TYPES:
                raise ValueError(f"unknown parameter type {ptype!r}")
            declared.append((pname, ptype, is_const))
        dep = SqlDeployment(self, name, body_sql)
        dep.kind = "procedure"
        dep.create_sql = sql_text.strip()
        dep.const_cols = [n for n, _, c in declared if c]
        # compile-time validation + output contract, like _deploy
        if not any(t.text == "?" for t in tokenize(body_sql)):
            dep.output_schema = Lowerer(self.spark, self._table_view()).query(
                P.parse(body_sql), {}
            ).schema
        if dep.input_schema is not None:
            # the reference requires the signature to match the main
            # (request) table's schema exactly, column for column
            fields = dep.input_schema.fields
            if len(fields) != len(declared) or any(
                f.name != n or f.dataType.simpleString() not in self._PROC_TYPES[t]
                for f, (n, t, _) in zip(fields, declared)
            ):
                raise ValueError(
                    f"procedure signature does not match table "
                    f"{dep.request_table!r} schema"
                )
        self.deployments[name] = dep
        return dep

    #: Spark type -> the reference's column-type naming (SHOW DEPLOYMENT)
    _KTYPES = {
        "string": "kVarchar", "short": "kInt16", "smallint": "kInt16",
        "int": "kInt32", "integer": "kInt32", "bigint": "kInt64",
        "long": "kInt64", "float": "kFloat", "double": "kDouble",
        "timestamp": "kTimestamp", "timestamp_ntz": "kTimestamp",
        "date": "kDate", "boolean": "kBool",
    }

    def _dep_lookup(self, name: str) -> tuple[str, "SqlDeployment"]:
        db, _, bare = name.rpartition(".") if "." in name else ("", "", name)
        db = db or self.current_db
        if db not in self._dbs:
            raise ValueError(f"database {db!r} does not exist")
        dep = self._db_deps.setdefault(db, {}).get(bare)
        if dep is None:
            raise ValueError(f"unknown deployment {bare!r} in database {db!r}")
        return db, dep

    def _drop_deployment(self, name: str):
        db, dep = self._dep_lookup(name)
        dep.release_serving()
        del self._db_deps[db][name]
        return None

    def _drop_procedure(self, name: str):
        """DROP PROCEDURE [db.]name — the name arrives as written (ADVICE
        r7: mangling would turn db.sp into a token _dep_lookup cannot
        split back)."""
        db, dep = self._dep_lookup(name)
        if dep.kind != "procedure":
            raise ValueError(f"procedure {name!r} not found")
        dep.release_serving()
        del self._db_deps[db][name.rpartition(".")[2]]
        return None

    def _show_deployment(self, name: str) -> DataFrame:
        """SHOW DEPLOYMENT [db.]name -> one row per input/output column:
        (deployment, db, sql, section, idx, column_name, column_type).
        Types use the reference's naming (kVarchar/kInt32/...). Rows of
        section ``serving`` carry an item name and its value in the last
        two columns: how the deployment serves
        (:meth:`SqlDeployment.serving_info`)."""
        db, dep = self._dep_lookup(name)
        rows = []
        sections = [("input", dep.input_schema), ("output", dep.output_schema)]
        for section, schema in sections:
            if schema is None:
                continue
            for i, f in enumerate(schema.fields, 1):
                st = f.dataType.simpleString()
                rows.append(
                    (dep.name, db, dep.sql_text, section, i, f.name,
                     self._KTYPES.get(st, st))
                )
        for i, (item, value) in enumerate(dep.serving_info(), 1):
            rows.append((dep.name, db, dep.sql_text, "serving", i, item, value))
        return self.spark.createDataFrame(
            rows,
            "deployment string, db string, sql string, section string, "
            "idx int, column_name string, column_type string",
        )
