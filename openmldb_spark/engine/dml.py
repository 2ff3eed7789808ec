"""DML + session surface: INSERT/DELETE/SET/CALL, CREATE FUNCTION, LOAD DATA, SELECT INTO."""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openmldb_spark.jobs import JOB_SCHEMA
from openmldb_spark.sources.loader import load_data, select_into
from openmldb_spark.sql import parser as P
from openmldb_spark.sql.lowering import Lowerer
from openmldb_spark.sql.parser import Tok, render, tokenize

from openmldb_spark.engine._helpers import (
    _INTO_OUTFILE,
    _KNOWN_VARIABLES,
    _LOAD_OPTS,
    _OUTFILE_OPTS,
    _TYPES,
    _check_options,
    _coerce,
    _literal,
    _match_paren,
    _parse_options,
    _split_commas,
)


class DmlMixin:

    # -- DML ------------------------------------------------------------------
    def _insert(self, toks: list[Tok], sql_text: str):
        # INSERT INTO t [(cols)] VALUES (...), (...) — the shape the
        # classifier checked
        name = toks[2].text
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        i = 3
        cols: Optional[list[str]] = None
        if toks[i].text == "(":
            j = _match_paren(toks, i)
            cols = [t.text for t in toks[i + 1 : j] if t.kind == "name"]
            i = j + 1
        i += 1  # VALUES
        rows = []
        while i < len(toks) and toks[i].text == "(":
            j = _match_paren(toks, i)
            rows.append([_literal(v) for v in _split_commas(toks[i + 1 : j])])
            i = j + 1
            if i < len(toks) and toks[i].text == ",":
                i += 1
        if i < len(toks) and toks[i].text != ";":
            # e.g. `INSERT ... VALUES (...) OUTFILE 'x'` — the reference
            # rejects trailing clauses (test_out_in id 5)
            raise ValueError(
                f"unexpected tokens after INSERT VALUES: {render(toks[i:i+3])}"
            )
        schema = self._store_get(name).schema
        if cols:
            order = {c: k for k, c in enumerate(cols)}
            rows = [
                [r[order[f.name]] if f.name in order else None for f in schema.fields]
                for r in rows
            ]
        rows = [
            [_coerce(v, f.dataType) for v, f in zip(r, schema.fields)] for r in rows
        ]
        self._append_rows(*self._loc(name), rows, self._offline_mode)
        return None

    def _delete(self, toks: list[Tok], sql_text: str):
        """DELETE FROM t WHERE cond (ref: docs/en/openmldb_sql/dml/
        DELETE_STATEMENT.md:7) — batch anti-filter rewrite of the managed
        table; rows where the condition is NULL do not match and are kept."""
        from openmldb_spark.sql.rewrite import rewrite_expr

        m = re.match(
            r"\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$",
            sql_text,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError("DELETE FROM <table> WHERE <condition>")
        name, cond_s = m.group(1), m.group(2)
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        cond = F.expr(rewrite_expr(tokenize(cond_s)))
        # plain ~cond would drop the NULL-condition rows too
        self.tables[name] = self.tables[name].where(~F.coalesce(cond, F.lit(False)))
        return None

    def _set(self, name: str, value: str):
        """SET one session variable (SET_STATEMENT.md; the classifier
        parsed the statement). One variable store here: the reference's
        GLOBAL/SESSION split is a cluster concept. Unsupported names are
        rejected like the reference."""
        if name not in _KNOWN_VARIABLES:
            # the reference rejects unsupported system variables
            # (v040/test_execute_mode.yaml id 2; SET_STATEMENT.md's table
            # is the supported set)
            raise ValueError(f"unsupported system variable {name!r}")
        if name == "execute_mode" and value not in ("online", "offline"):
            raise ValueError(f"execute_mode must be online|offline, got {value!r}")
        self.variables[name] = value
        return None

    def _call(self, toks: list[Tok], sql_text: str) -> DataFrame:
        """CALL deployment (v1, v2, ...) — one-row request-mode invocation;
        arguments match the deployment's request-table schema
        (ref: docs/en/openmldb_sql/dml/CALL_STATEMENT.md)."""
        name = toks[1].text
        dep = self.deployments.get(name)
        if dep is None:
            raise ValueError(f"unknown deployment {name!r}")
        i = 2
        if i >= len(toks) or toks[i].text != "(":
            raise ValueError("CALL name (arg, ...)")
        j = _match_paren(toks, i)
        vals = [_literal(v) for v in _split_commas(toks[i + 1 : j])]
        schema = dep.input_schema
        if schema is None:
            raise ValueError(f"deployment {name!r} has no input schema")
        if len(vals) != len(schema.fields):
            raise ValueError(
                f"CALL {name}: {len(vals)} args != {len(schema.fields)} request columns"
            )
        row = [_coerce(v, f.dataType) for v, f in zip(vals, schema.fields)]
        req = self.spark.createDataFrame([row], schema)
        return dep.run_request(req)

    def _create_function(self, toks: list[Tok], sql_text: str):
        """``CREATE [AGGREGATE] FUNCTION name(arg type, ...) RETURNS type
        OPTIONS (FILE='fns.py' [, ENTRY='pyname'] [, TYPE='pandas'|'python'])``
        (ref: docs/en/openmldb_sql/ddl/CREATE_FUNCTION.md — the reference
        loads a C++ .so; the Spark-first equivalent loads a Python module
        and registers the callable with ``spark.udf.register``).

        TYPE='pandas' (default) expects a vectorized callable
        (pandas Series -> Series, or Series -> scalar for AGGREGATE) and
        registers an Arrow-batched pandas UDF — the fast path; 'python'
        registers a row-at-a-time UDF (convenience only, ~10-100x slower).
        """
        m = re.match(
            r"\s*CREATE\s+(AGGREGATE\s+)?FUNCTION\s+(\w+)\s*\(([^)]*)\)\s*"
            r"RETURNS\s+(\w+)\s*(?:OPTIONS\s*\(([^)]*)\))?\s*;?\s*$",
            sql_text,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "CREATE [AGGREGATE] FUNCTION name(arg type, ...) RETURNS type "
                "OPTIONS (FILE='...')"
            )
        is_agg = m.group(1) is not None
        name, ret_s = m.group(2), m.group(4).lower()
        opts = _parse_options(m.group(5) or "")
        if ret_s not in _TYPES:
            raise ValueError(f"unknown return type {ret_s!r}")
        ret_ddl = _TYPES[ret_s]
        path = opts.get("file")
        if not path:
            raise ValueError("CREATE FUNCTION requires OPTIONS (FILE='...')")
        entry = opts.get("entry", name)
        kind = opts.get("type", "pandas").lower()

        import importlib.util

        spec = importlib.util.spec_from_file_location(f"__omsk_udf_{name}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        fn = getattr(mod, entry)

        from pyspark.sql.functions import PandasUDFType, pandas_udf, udf

        if is_agg or kind == "pandas":
            # for AGGREGATE the callable reduces a Series to a scalar; Spark
            # infers GROUPED_AGG vs SCALAR from the registered eval type
            wrapped = pandas_udf(
                fn, ret_ddl,
                PandasUDFType.GROUPED_AGG if is_agg else PandasUDFType.SCALAR,
            )
        else:
            wrapped = udf(fn, ret_ddl)
        self.spark.udf.register(name, wrapped)
        self.functions[name] = (is_agg, ret_ddl, path)
        return None

    def _drop_function(self, toks: list[Tok], sql_text: str):
        # DROP FUNCTION [IF EXISTS] name (cmd.yaml drop_function_*)
        guarded = len(toks) > 3 and toks[2].upper == "IF"
        fname = toks[4].text if guarded else toks[2].text
        if not guarded and fname not in self.functions:
            raise ValueError(f"function {fname!r} does not exist")
        self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fname}")
        self.functions.pop(fname, None)
        return None

    def _load_data(self, toks: list[Tok], sql_text: str):
        m = re.match(
            r"\s*LOAD\s+DATA\s+INFILE\s+'([^']+)'\s+INTO\s+TABLE\s+(\w+)"
            r"(?:\s+OPTIONS\s*\((.*)\))?\s*;?\s*$",
            sql_text,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError("LOAD DATA INFILE '<path>' INTO TABLE <t> [OPTIONS(...)]")
        path, name, opts_s = m.group(1), m.group(2), m.group(3) or ""
        quoted: set = set()
        opts = _parse_options(opts_s, quoted)
        _check_options(opts, quoted, _LOAD_OPTS, "LOAD DATA")
        mode = opts.get("mode", "error_if_exists").lower()
        if mode == "errorifexists":
            mode = "error_if_exists"
        if mode not in ("append", "overwrite", "error_if_exists"):
            raise ValueError(f"invalid LOAD DATA mode {mode!r}")
        if name not in self.tables:
            # the reference requires the target table to exist
            # (test_out_in id 26)
            raise ValueError(f"unknown table {name!r}")
        deep = opts.get("deep_copy", "true").lower() == "true"
        # reference cluster import rules (LOAD_DATA_STATEMENT.md; corpus
        # out_in/test_select_into_load_data.yaml ids 39-50/59):
        # - online import only allows append (default error_if_exists errors)
        # - deep_copy=false (symbolic path) is offline-only, never append,
        #   and only onto a table with no existing offline info
        if not self._offline_mode:
            if mode != "append":
                raise ValueError(
                    "online import only supports mode='append' "
                    f"(got {mode!r})"
                )
            if not deep:
                raise ValueError(
                    "deep_copy=false is only supported by offline import"
                )
        else:
            _db, _bare = self._loc(name)
            has_off = _bare in self._db_off.get(_db, {})
            if not deep and has_off:
                # corpus rule (ids 45/46/48/59 vs 45-2/47/53): the FIRST
                # soft-copy load onto a clean offline state succeeds under
                # any mode; a soft copy onto EXISTING offline info (hard or
                # soft) always errors
                raise ValueError(
                    f"table {name!r} already has offline data; a "
                    "soft-copy load needs a clean offline state"
                )
            if mode == "error_if_exists" and has_off:
                raise ValueError(
                    f"LOAD DATA mode=error_if_exists: table {name!r} "
                    "already has offline data"
                )
        schema = None
        if name in self.table_defs:
            schema = self.table_defs[name].schema_ddl
        off = self._offline_mode

        def job_body() -> None:
            df = load_data(
                self.spark,
                path,
                fmt=opts.get("format", "csv").lower(),
                delimiter=opts.get("delimiter", ","),
                header=opts.get("header", "true").lower() == "true",
                null_value=opts.get("null_value", "null"),
                quote=opts.get("quote", '"'),
                schema=schema,
            )
            # an import is a job: the noop sink evaluates EVERY column so
            # malformed data fails the JOB (strict-cast errors surface
            # here), like the reference's offline import; count() would
            # prune the cast projections away. At scale this materializes
            # to managed storage; here the validated DataFrame is the
            # managed table, published only when the job succeeds.
            df.write.format("noop").mode("overwrite").save()
            # publish into the submit-time execute_mode's store (online vs
            # offline are separate, like the reference's tablet/HDFS split;
            # `off` is snapshotted — an async job keeps its mode even if
            # the session switches before it finishes)
            if not off:
                if mode == "append" and self._store_get(name, off).columns:
                    self._store_set(
                        name, self._store_get(name, off).unionByName(df), off
                    )
                else:
                    self._store_set(name, df, off)
                return
            # offline publish goes through the offline-info ledger so
            # ALTER TABLE DROP OFFLINE_PATH / SHOW TABLE STATUS see the
            # component structure (data_path vs symbolic_paths)
            _ldb, _lbare = self._loc(name)
            parts = self._off_ledger(_ldb, _lbare)
            if not deep:
                # soft copy: the path IS the data (clean state guaranteed
                # by the checks above)
                parts["sym"] = {path: df}
                parts["base"] = None
            elif mode == "append" and parts["base"] is not None:
                parts["base"] = parts["base"].unionByName(df)
            elif mode == "overwrite":
                # the reference's overwrite drops ALL offline info,
                # symbolic links AND the recorded format included
                parts["base"] = df
                parts["sym"] = {}
                parts["fmt"] = None
            else:
                parts["base"] = df
            if parts["fmt"] is None:
                parts["fmt"] = opts.get("format", "csv").lower()
            self._off_rebuild(_ldb, _lbare)

        # OpenmldbBatchjobManager.scala: online-mode imports are
        # ImportOnlineData jobs, offline ImportOfflineData
        jtype = (
            "ImportOnlineData"
            if self.variables.get("execute_mode", "online") == "online"
            else "ImportOfflineData"
        )
        job = self.jobman.submit(jtype, sql_text.strip(), job_body, sync=self._sync_job)
        # async submit hands back the job row (the reference CLI prints it);
        # sync keeps the statement's side-effect-only contract
        return None if self._sync_job else self.spark.createDataFrame(
            [job.row()], JOB_SCHEMA
        )

    def _select_into(self, toks: list[Tok], sql_text: str):
        # SELECT ... INTO OUTFILE 'path' [OPTIONS(...)]
        m = _INTO_OUTFILE.search(sql_text)
        tail = sql_text[m.end():]
        tm = re.match(r"'([^']+)'\s*(?:OPTIONS\s*\((.*)\))?\s*;?\s*$", tail,
                      re.IGNORECASE | re.DOTALL)
        if not tm:
            raise ValueError("INTO OUTFILE '<path>' [OPTIONS(...)]")
        path, opts_s = tm.group(1), tm.group(2) or ""
        quoted: set = set()
        opts = _parse_options(opts_s, quoted)
        _check_options(opts, quoted, _OUTFILE_OPTS, "OUTFILE")
        query = sql_text[: m.start()]
        # lowering is synchronous (schema/SQL errors fail the statement);
        # the write runs as the tracked job
        df = Lowerer(self.spark, self._table_view()).query(P.parse(query), {})

        def job_body() -> None:
            select_into(
                df,
                path,
                fmt=opts.get("format", "csv").lower(),
                delimiter=opts.get("delimiter", ","),
                header=opts.get("header", "true").lower() == "true",
                null_value=opts.get("null_value", "null"),
                quote=opts.get("quote", '"'),
                mode=opts.get("mode", "error_if_exists").lower(),
                coalesce=int(opts["coalesce"]) if "coalesce" in opts else None,
            )

        job = self.jobman.submit(
            "ExportOfflineData", sql_text.strip(), job_body, sync=self._sync_job
        )
        return None if self._sync_job else self.spark.createDataFrame(
            [job.row()], JOB_SCHEMA
        )

    @property
    def _sync_job(self) -> bool:
        """SET @@sync_job — default true here (divergence from the
        reference's async default: ported LOAD-then-SELECT scripts expect
        their data without polling; see openmldb_spark.jobs docstring)."""
        return self.variables.get("sync_job", "true").lower() != "false"
