"""Engine core: catalog state, name mangling, storage split, the statement router (execute/statement_kind), and the offline-info ledger."""

from __future__ import annotations

import copy  # noqa: F401
import datetime  # noqa: F401
import re  # noqa: F401
from typing import Optional, Sequence  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from openmldb_spark.catalog import IndexDef, TableDef  # noqa: F401
from openmldb_spark.jobs import JOB_SCHEMA, JobManager  # noqa: F401
from openmldb_spark.sources.loader import load_data, select_into  # noqa: F401
from openmldb_spark.sql import parser as P  # noqa: F401
from openmldb_spark.sql.lowering import Lowerer  # noqa: F401
from openmldb_spark.sql.parser import Tok, render, tokenize  # noqa: F401

from openmldb_spark.engine._helpers import (  # noqa: F401
    _TYPES,
    _ALIAS_STOPWORDS,
    _BOOL_OPTS,
    _KNOWN_VARIABLES,
    _LOAD_OPTS,
    _OUTFILE_OPTS,
    _check_options,
    _coerce,
    _declared_aliases,
    _infer_fmt,
    _like_to_regex,
    _literal,
    _match_paren,
    _parse_coltype,
    _parse_options,
    _split_commas,
    _split_statements,
)

from openmldb_spark.engine.ddl import DdlMixin
from openmldb_spark.engine.dml import DmlMixin
from openmldb_spark.engine.deploy import DeployMixin, SqlDeployment  # noqa: F401
from openmldb_spark.engine.show import ShowMixin


class _NsView:
    """Dict-like view over the engine's CURRENT database namespace that
    transparently routes mangled ``__omdb__db__t`` keys to their home
    database. Iteration/keys cover the current database only (SHOW TABLES
    semantics)."""

    def __init__(self, eng: "Engine", which: str):
        self._eng, self._which = eng, which

    def _slot(self, key: str):
        db, bare = self._eng._loc(key)
        store = getattr(self._eng, self._which)
        if db not in store:
            raise KeyError(key)
        return store[db], bare

    def __getitem__(self, key: str):
        d, bare = self._slot(key)
        return d[bare]

    def __setitem__(self, key: str, val) -> None:
        d, bare = self._slot(key)
        d[bare] = val
        if self._which == "_dbs":
            self._eng._bump_epoch(self._eng._loc(key)[0], bare)

    def __delitem__(self, key: str) -> None:
        d, bare = self._slot(key)
        del d[bare]
        if self._which == "_dbs":
            self._eng._bump_epoch(self._eng._loc(key)[0], bare)

    def __contains__(self, key: str) -> bool:
        try:
            d, bare = self._slot(key)
        except KeyError:
            return False
        return bare in d

    def get(self, key: str, default=None):
        return self[key] if key in self else default

    def pop(self, key: str, default=None):
        try:
            d, bare = self._slot(key)
        except KeyError:
            return default
        if bare not in d:
            return default  # nothing removed: no epoch bump
        out = d.pop(bare)
        if self._which == "_dbs":
            self._eng._bump_epoch(self._eng._loc(key)[0], bare)
        return out

    def _cur(self) -> dict:
        return getattr(self._eng, self._which)[self._eng.current_db]

    def __iter__(self):
        return iter(self._cur())

    def __len__(self) -> int:
        return len(self._cur())

    def keys(self):
        return self._cur().keys()

    def items(self):
        return self._cur().items()

    def values(self):
        return self._cur().values()


class _TTLView(dict):
    """Lazy Lowerer resolution mapping: a name resolves to its TTL-filtered
    DataFrame on first lookup (``__missing__``), so a statement only pays
    plan construction for the tables it references. Explicit assignments
    (``view['__history'] = df``) shadow catalog names, dict-style."""

    def __init__(self, eng: "Engine"):
        super().__init__()
        self._eng = eng

    def _locate(self, key: str):
        eng = self._eng
        db, bare = eng._loc(key)
        df = eng._dbs.get(db, {}).get(bare)
        if df is not None and eng._offline_mode:
            # offline reads see the table's OFFLINE store (empty until an
            # offline import/insert), never online rows — the reference's
            # storage split
            df = eng._db_off.get(db, {}).get(bare, df.limit(0))
        return db, bare, df

    def __missing__(self, key: str) -> DataFrame:
        db, bare, df = self._locate(key)
        if df is None:
            raise KeyError(key)
        out = self._eng._with_ttl(db, bare, df)
        self[key] = out
        return out

    def __contains__(self, key) -> bool:
        return dict.__contains__(self, key) or self._locate(key)[2] is not None

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default



class Engine(DdlMixin, DmlMixin, DeployMixin, ShowMixin):
    """One engine = one SparkSession + one catalog of named tables."""

    #: prefix marking a db-qualified table reference rewritten to one flat
    #: token (`db1.t0` -> `__omdb__db1__t0`) so the single-namespace
    #: parser/lowerer machinery works unchanged across databases
    _DBM = "__omdb__"

    def __init__(self, spark: SparkSession, staging_dir: str | None = None):
        self.spark = spark
        #: shared-filesystem root for compiled-plan request staging (see
        #: engine/compiled.py resolve_staging_dir). None -> driver tempdir,
        #: valid only in local mode; REQUIRED (here or via the
        #: spark.openmldb.serving.stagingDir conf) on a real cluster.
        self.staging_dir = staging_dir
        self.current_db = "default"
        #: db -> {table name -> DataFrame}; the reference's multi-database
        #: catalog (USE / db-qualified names, test_multiple_databases.yaml)
        self._dbs: dict[str, dict[str, DataFrame]] = {"default": {}}
        self._db_defs: dict[str, dict[str, TableDef]] = {"default": {}}
        #: mangled flat name -> (db, bare name) — exact demangle map
        self._mangled: dict[str, tuple[str, str]] = {}
        #: deployments live in a database like tables do (SHOW DEPLOYMENT
        #: reports dbName; the reference scopes them per-db)
        self._db_deps: dict[str, dict[str, "SqlDeployment"]] = {"default": {}}
        #: name -> (is_aggregate, return_type_ddl, source_file)
        self.functions: dict[str, tuple[bool, str, str]] = {}
        #: session variables (SET / SHOW VARIABLES) — seeded with the
        #: reference's standard four (SHOW_VARIABLES_STATEMENT.md); unknown
        #: names are stored and echoed, like the reference. Divergent
        #: defaults: execute_mode=online (no offline/online storage split
        #: here) and sync_job=true (DIVERGENCES #18)
        self.variables: dict[str, str] = {
            "enable_trace": "false",
            "execute_mode": "online",
            "job_timeout": "20000",
            "sync_job": "true",
        }
        #: offline-job log (the reference's TaskManager job table, SURVEY
        #: §3.3): LOAD DATA / SELECT INTO run as tracked jobs under their
        #: own Spark job groups (openmldb_spark.jobs) — synchronous by
        #: default (divergence: the reference defaults async; SET
        #: @@sync_job='false' restores that), with SHOW JOBS / SHOW JOB /
        #: STOP JOB over the live state machine
        self.jobman = JobManager(spark)
        #: OFFLINE storage, per db per table — the reference keeps online
        #: (tablet) and offline (HDFS) data as SEPARATE stores and
        #: execute_mode picks which one reads and imports/inserts touch
        #: (docs SET_STATEMENT.md; out_in/test_select_into_load_data.yaml
        #: interleaves the two). Offline storage starts empty; absent
        #: entries read as an empty frame with the table's schema.
        self._db_off: dict[str, dict[str, DataFrame]] = {}
        #: offline-info components per (db, table) — the reference's
        #: TableInfo offline_table_info (data_path + symbolic_paths +
        #: format): {"base": DataFrame|None (deep-copy data),
        #: "sym": {path: DataFrame} (soft copies / ALTER TABLE ADD
        #: OFFLINE_PATH), "fmt": str|None}. ``_db_off`` always holds the
        #: union; this ledger lets ALTER TABLE DROP OFFLINE_PATH rebuild it
        #: and SHOW TABLE STATUS report Offline_format/symbolic_paths.
        self._off_parts: dict[tuple, dict] = {}
        #: user registry (CREATE/ALTER/DROP USER, SHOW CURRENT_USER) —
        #: name -> password. Metadata only: a single-session engine has no
        #: authentication boundary (the reference authenticates at the
        #: nameserver); seeded with root like the reference.
        self.users: dict[str, str] = {"root": ""}
        self.current_user = "root"
        #: (db, bare) -> table id (SHOW TABLE STATUS Table_id) — assigned
        #: in registration order like the reference's nameserver tid
        self._table_ids: dict[tuple, int] = {}
        self._next_tid = 1
        #: streaming tables (Engine.register_stream): SELECTs whose main
        #: table is registered here route to the event-time streaming
        #: lowerer (streaming/sqlsurface.py) — the Spark-bonus SQL surface
        #: for tumble/hop/session_window (SURVEY §2.8; the reference has
        #: no streaming SQL constructs)
        self._streams: dict[str, DataFrame] = {}
        #: (db, bare) -> mutation epoch, bumped on EVERY store write
        #: (INSERT/DELETE/LOAD DATA/TRUNCATE/register/offline rebuild).
        #: Derived caches — the long-window pre-agg above all — key their
        #: validity on it, the Spark-side stand-in for the reference's
        #: maintain-on-every-Put/Delete aggregator tables
        #: (src/storage/aggregator.cc; pinned by the ported
        #: integration_test/long_window delete cases).
        self._epochs: dict[tuple, int] = {}

    def _bump_epoch(self, db: str, bare: str) -> None:
        key = (db, bare)
        self._epochs[key] = self._epochs.get(key, 0) + 1

    def table_epoch(self, name: str) -> int:
        """Monotonic mutation counter for a table (any name spelling);
        0 until first write. Caches built from the table's rows compare
        this to their build-time value to detect staleness."""
        return self._epochs.get(self._loc(name), 0)

    @property
    def databases(self) -> set[str]:
        return set(self._dbs)

    @property
    def tables(self) -> "_NsView":
        """The CURRENT database's table namespace; mangled db-qualified
        keys transparently route to their home database."""
        return _NsView(self, "_dbs")

    @property
    def table_defs(self) -> "_NsView":
        return _NsView(self, "_db_defs")

    @property
    def deployments(self) -> dict[str, "SqlDeployment"]:
        return self._db_deps.setdefault(self.current_db, {})

    # -- db-qualified name handling ------------------------------------------
    def _loc(self, name: str) -> tuple[str, str]:
        """(db, bare table name) for a possibly-mangled name token.
        Backquoted identifiers normalize to their bare spelling, so
        ``CREATE TABLE `t-1```, ``INSERT INTO `t-1``` and ``FROM `t-1```
        all address one table (cases/plan/back_quote_identifier.yaml)."""
        if name in self._mangled:
            return self._mangled[name]
        return self.current_db, name.strip("`")

    def _with_ttl(self, db: str, name: str, df: DataFrame) -> DataFrame:
        """Online-mode reads see only TTL-live rows (the reference's online
        storage GCs per the FIRST index's TTL; data_expiration corpus).
        ``SET @@ttl_now_ms = <ms>`` pins "now" (deterministic tests);
        unset, the absolute bound derives from max(ts) in the data — the
        reproducible batch choice (catalog.apply_ttl)."""
        from openmldb_spark.catalog import apply_ttl

        if self.variables.get("execute_mode", "online") != "online":
            return df
        td = self._db_defs.get(db, {}).get(name)
        if td is None:
            return df
        for idx in td.indexes:
            if idx.ttl and idx.ts_col and idx.origin == "ddl":
                now = self.variables.get("ttl_now_ms")
                return apply_ttl(df, idx, now_ms=int(now) if now else None)
        return df

    @property
    def _offline_mode(self) -> bool:
        return self.variables.get("execute_mode", "online") == "offline"

    def _store_get(self, name: str, offline: Optional[bool] = None) -> DataFrame:
        """A table's storage under the given (default: current) execute
        mode. ``offline`` is passed explicitly by async jobs, which must
        keep the mode they were SUBMITTED under."""
        if offline is None:
            offline = self._offline_mode
        db, bare = self._loc(name)
        online = self._dbs[db][bare]
        if not offline:
            return online
        return self._db_off.get(db, {}).get(bare, online.limit(0))

    def _store_set(
        self, name: str, df: DataFrame, offline: Optional[bool] = None
    ) -> None:
        if offline is None:
            offline = self._offline_mode
        db, bare = self._loc(name)
        if offline:
            # full replacement of the offline store MUST go through the
            # offline-info ledger — a direct _db_off write leaves the
            # ledger base=None, and a later LOAD DATA mode='append' /
            # ALTER TABLE ADD OFFLINE_PATH rebuild would silently discard
            # these rows (ADVICE r7, high)
            parts = self._off_ledger(db, bare)
            parts["base"] = df
            parts["sym"] = {}
            self._off_rebuild(db, bare)
        else:
            self._dbs[db][bare] = df
            self._bump_epoch(db, bare)

    def _append_rows(
        self, db: str, bare: str, rows: list, offline: bool = False
    ) -> None:
        """Append ``rows`` (value lists already coerced to the store's
        schema) to table ``(db, bare)``: the one write path of ``INSERT …
        VALUES`` and the REST one-row ``PUT``.

        Offline appends write through the offline-info ledger (into
        ``parts['base']``) so symbolic paths added by ALTER TABLE are never
        double-counted and later mode='append' loads keep the inserted
        rows. Online appends bump the table epoch, and every deployment
        whose live compiled plan serves the table as request history
        absorbs the rows into its append log instead of recompiling
        (:meth:`SqlDeployment._absorbing_plan`,
        :meth:`CompiledRequestPlan.absorb`)."""
        online = self._dbs[db][bare]
        if offline:
            store = self._db_off.get(db, {}).get(bare, online)
            new = self.spark.createDataFrame(rows, store.schema)
            parts = self._off_ledger(db, bare)
            parts["base"] = (
                new if parts["base"] is None else parts["base"].unionByName(new)
            )
            self._off_rebuild(db, bare)
            return
        new = self.spark.createDataFrame(rows, online.schema)
        live = []
        for deps in self._db_deps.values():
            for dep in deps.values():
                hit = dep._absorbing_plan((db, bare), online.schema)
                if hit is not None:
                    live.append((dep, *hit))
        self._dbs[db][bare] = online.unionByName(new)
        self._bump_epoch(db, bare)
        for dep, plan, key in live:
            plan.absorb(rows, key, dep._serving_key())

    def _table_view(self) -> dict[str, DataFrame]:
        """Resolution mapping for the Lowerer: current db's tables under
        their bare names + every db's tables under mangled names. Reads are
        TTL-filtered (online semantics), materialized lazily per referenced
        table — not for the whole catalog on every statement."""
        return _TTLView(self)

    def _mangle_sql(self, sql_text: str) -> str:
        """Rewrite db-qualified references (`db1.t0`, `db1.t0.c1`) into flat
        single-token names. Current-db qualifiers are STRIPPED (so `db.t1.c1`
        with current db `db` resolves subquery alias t1 — reference id 7);
        other known dbs mangle to `__omdb__{db}__{t}`. Unknown-db refs pass
        through untouched and fail resolution downstream, matching the
        reference's 'database not found' errors. A qualifier that is also
        a table/subquery ALIAS declared in this statement is NOT mangled —
        `SELECT d.c1 FROM t AS d` with a database named `d` binds the
        alias, not the database (alias scope shadows the catalog)."""
        toks = tokenize(sql_text)
        aliases = _declared_aliases(toks)
        out: list[Tok] = []
        i, n, changed = 0, len(toks), False
        while i < n:
            t = toks[i]
            prev_dot = bool(out) and out[-1].text == "."
            if (
                t.kind == "name"
                and not prev_dot
                and t.text in self._dbs
                and t.text not in aliases
                and i + 2 < n
                and toks[i + 1].text == "."
                and toks[i + 2].kind == "name"
            ):
                changed = True
                if t.text == self.current_db:
                    out.append(toks[i + 2])
                else:
                    flat = f"{self._DBM}{t.text}__{toks[i + 2].text}"
                    self._mangled[flat] = (t.text, toks[i + 2].text)
                    out.append(Tok("name", flat))
                i += 3
                continue
            out.append(t)
            i += 1
        return render(out) if changed else sql_text

    def _stream_loc(self, name: str) -> tuple[str, str]:
        """(db, bare) stream key — like :meth:`_loc` but also splits raw
        dotted Python-API names ('db1.s'), so register_stream, the DDL
        guards, and the SELECT router all agree on scoping (r9 ADVICE: the
        raw-name keying left 'db1.s' unguarded against CREATE TABLE s and
        rejected CREATE TABLE db2.s when a stream 's' existed)."""
        if name is None:
            return ("", "")  # subquery FROM: never a stream key
        if name in self._mangled:
            return self._mangled[name]
        db, _, bare = name.rpartition(".")
        return (db or self.current_db), bare.strip("`")

    # -- public ---------------------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        if self._stream_loc(name) in self._streams:
            # mirror of register_stream's guard: the SELECT router
            # consults streams first, so this table would be unreachable
            raise ValueError(f"{name!r} already names a registered stream")
        self.tables[name] = df

    def register_stream(self, name: str, stream: DataFrame) -> None:
        """Register a STREAMING DataFrame under a table name: SELECTs over
        it run through the event-time streaming lowerer (GROUP BY
        tumble/hop/session_window + watermark CONFIG) and return an
        unstarted streaming DataFrame for the caller's writeStream.
        Names scope like tables — stored under (db, bare) via
        :meth:`_stream_loc`."""
        if not stream.isStreaming:
            raise ValueError(f"{name!r}: register_stream needs a streaming DataFrame")
        loc = self._stream_loc(name)
        if loc[1] in self._dbs.get(loc[0], {}):
            # routing is by name: silently shadowing a batch table would
            # flip its SELECTs into streaming mode
            raise ValueError(f"{name!r} already names a batch table")
        self._streams[loc] = stream

    def execute_script(self, script: str) -> list:
        """Run a ';'-separated statement script; returns per-statement
        results (the reference CLI's batch-file mode)."""
        out = []
        for stmt in _split_statements(script):
            out.append(self.execute(stmt))
        return out

    @staticmethod
    def statement_kind(sql_text: str) -> str:
        """Classify one statement WITHOUT executing it — the counterpart of
        the reference parser's top plan-node tag (``cases/plan/*.yaml``
        ``node_tree_str`` first node; ported as
        ``tests/plan_cases/ref_ported_plan_cases.yaml``). Returns the
        reference's tag names: ``kQuery``, ``kInsertStmt``, ``CREATE``,
        ``kCreateIndexStmt``, ``kCreateSpStmt``, ``kCreateUserStmt``,
        ``kAlterUserStmt``, ``kAlterTableStmt``, ``kDeleteStmt``,
        ``kDeployStmt``, ``kLoadDataStmt``, ``kSelectIntoStmt``,
        ``kSetStmt``, ``kShowStmt`` (SHOW JOBS with a FROM/LIKE tail), or
        ``CMD:<cmd_type>`` for the CLI-command nodes (show/desc/use/drop/
        create/stop/truncate/exit). Raises on statements the dialect
        rejects. Catalog-free: names are not resolved, so this accepts
        statements over tables that do not exist (parser parity, not
        execution)."""
        if re.match(r"\s*SET\b", sql_text, re.IGNORECASE):
            # value must be one literal/identifier token (the reference
            # rejects expressions: cmd.yaml set_select_mode_2,
            # error_unsupport set_global_to_expr)
            m = re.match(
                r"\s*SET\s+(?:(?:GLOBAL|SESSION)\s+|@@(?:(?:global|session)\.)?)?"
                r"[\w.]+\s*=\s*(.+?)\s*;?\s*$",
                sql_text,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"cannot parse SET statement: {sql_text!r}")
            vtoks = tokenize(m.group(1))
            if len(vtoks) != 1 or vtoks[0].kind not in ("str", "num", "name"):
                raise ValueError("SET value must be a single literal")
            return "kSetStmt"
        toks = tokenize(sql_text)
        if not toks:
            raise ValueError("empty statement")
        head = toks[0].upper
        second = toks[1].upper if len(toks) > 1 else ""
        if head in ("SELECT", "WITH") or (
            # match execute()'s set-op head check: EXCEPT/INTERSECT also
            # start with a parenthesized arm (ADVICE r7)
            head == "("
            and any(t.upper in ("UNION", "EXCEPT", "INTERSECT") for t in toks)
        ):
            if re.search(r"\bINTO\s+OUTFILE\s+", sql_text, re.IGNORECASE):
                return "kSelectIntoStmt"
            P.parse(sql_text)
            return "kQuery"
        if head == "INSERT":
            body = [t for t in toks if t.text != ";"]
            if not (len(body) > 3 and body[1].upper == "INTO"):
                raise ValueError("INSERT INTO <table> ... VALUES (...)")
            if not any(t.upper == "VALUES" for t in body):
                raise ValueError("INSERT requires VALUES")
            for bi, t in enumerate(body):
                if t.kind == "num" and t.text.isdigit():
                    # int64 overflow is a parse error in the reference
                    # (error_unsupport_sql.yaml id 21); a leading '-' folds
                    # into the literal, so the negative range is one wider
                    neg = bi > 0 and body[bi - 1].text == "-"
                    if int(t.text) > (1 << 63) - (0 if neg else 1):
                        raise ValueError(f"integer literal out of int64 range: {t.text}")
            return "kInsertStmt"
        if head == "CREATE":
            if second == "TABLE":
                return "CREATE"
            if second == "DATABASE":
                return "CMD:create"
            if second == "INDEX":
                return "kCreateIndexStmt"
            if second in ("PROCEDURE", "OR", "TEMP"):
                # CREATE [OR REPLACE] [TEMP] PROCEDURE (create.yaml id 17)
                return "kCreateSpStmt"
            if second == "USER":
                return "kCreateUserStmt"
            if second in ("FUNCTION", "AGGREGATE"):
                return "kCreateFunctionStmt"
            if second == "GROUP":
                return "CMD:create"
            raise ValueError(f"unsupported CREATE {second}")
        if head == "ALTER":
            if second == "USER":
                return "kAlterUserStmt"
            if second == "TABLE":
                # validate the action grammar without touching the catalog
                if not re.match(
                    r"\s*ALTER\s+TABLE\s+[`\w.]+\s+"
                    r"(ADD|DROP)\s+OFFLINE_PATH\s+'[^']*'"
                    r"(\s*,\s*(ADD|DROP)\s+OFFLINE_PATH\s+'[^']*')*\s*;?\s*$",
                    sql_text,
                    re.IGNORECASE,
                ):
                    raise ValueError("ALTER TABLE t ADD|DROP OFFLINE_PATH '<path>'")
                return "kAlterTableStmt"
            raise ValueError(f"unsupported ALTER {second}")
        if head == "DELETE":
            if second == "JOB":
                if len(toks) < 3 or toks[2].kind != "num":
                    raise ValueError("DELETE JOB takes a numeric job id")
                return "kDeleteStmt"
            if second != "FROM":
                raise ValueError("DELETE FROM <table> WHERE ... | DELETE JOB <id>")
            return "kDeleteStmt"
        if head == "DEPLOY":
            return "kDeployStmt"
        if head == "LOAD":
            if second != "DATA":
                raise ValueError("LOAD DATA INFILE ...")
            return "kLoadDataStmt"
        if head == "SHOW":
            if second == "JOB":
                if len(toks) < 3 or toks[2].text == ";":
                    # SHOW JOB without an id is a parse error
                    # (error_query.yaml id 9)
                    raise ValueError("SHOW JOB takes a job id")
                return "CMD:show"
            if second == "JOBS" and len(toks) > 2 and toks[2].text != ";":
                return "kShowStmt"
            return "CMD:show"
        if head in ("DESC", "DESCRIBE"):
            return "CMD:desc"
        if head == "USE":
            return "CMD:use"
        if head == "DROP":
            return "CMD:drop"
        if head == "STOP":
            if second != "JOB" or len(toks) < 3 or toks[2].text == ";":
                raise ValueError("STOP JOB <id>")
            return "CMD:stop"
        if head == "TRUNCATE":
            return "CMD:truncate"
        if head == "EXIT":
            return "CMD:exit"
        if head == "EXPLAIN":
            return "kExplainStmt"
        if head == "CALL":
            return "kCallStmt"
        raise ValueError(f"unsupported statement: {render(toks[:4])} ...")

    def execute(self, sql_text: str, parameters: Optional[Sequence] = None):
        """Run one statement. Returns a DataFrame for queries/SHOW, None
        for DDL/DML side effects, a SqlDeployment for DEPLOY.

        ``parameters`` binds positional ``?`` placeholders (the reference's
        prepared-statement surface — test_insert_prepared.yaml and the SDK's
        parameterized queries): values fold to literals before routing, so
        every statement kind (INSERT/DELETE/SELECT/...) accepts them."""
        if parameters is not None:
            sql_text = P.substitute_params(sql_text, parameters)
        # SET routes before tokenization (the '@@var' sigil isn't a token)
        if re.match(r"\s*SET\b", sql_text, re.IGNORECASE):
            return self._set(sql_text)
        # DEPLOYMENT statements route BEFORE db-qualifier mangling: the
        # reference's DROP DEPLOYMENT grammar takes a plain identifier
        # (db-qualified fails, test_drop_deploy id 3) while SHOW DEPLOYMENT
        # accepts db.name (test_show_deploy id 3)
        dm = re.match(
            r"\s*DROP\s+DEPLOYMENT\s+([\w.]+)\s*;?\s*$", sql_text, re.IGNORECASE
        )
        if dm:
            return self._drop_deployment(dm.group(1))
        sm = re.match(
            r"\s*SHOW\s+DEPLOYMENT\s+([\w.]+)\s*;?\s*$", sql_text, re.IGNORECASE
        )
        if sm:
            return self._show_deployment(sm.group(1))
        # SHOW CREATE PROCEDURE also routes pre-mangle: db.sp stays dotted
        # for _dep_lookup (the reference's kCmdShowCreateSp takes [db.]name)
        pm = re.match(
            r"\s*SHOW\s+CREATE\s+PROCEDURE\s+([\w.]+)\s*;?\s*$",
            sql_text,
            re.IGNORECASE,
        )
        if pm:
            return self._show_create_procedure(pm.group(1))
        # DROP PROCEDURE likewise routes pre-mangle: db.sp must stay dotted
        # for _dep_lookup (mangling would produce __omdb__db__sp, which
        # _dep_lookup cannot split back — ADVICE r7)
        dpm = re.match(
            r"\s*DROP\s+PROCEDURE\s+([\w.]+)\s*;?\s*$", sql_text, re.IGNORECASE
        )
        if dpm:
            return self._drop_procedure(dpm.group(1))
        sql_text = self._mangle_sql(sql_text)
        toks = tokenize(sql_text)
        if not toks:
            return None
        head = toks[0].upper
        second = toks[1].upper if len(toks) > 1 else ""
        if head == "CREATE" and second == "DATABASE":
            if_not_exists = len(toks) > 4 and toks[2].upper == "IF"
            name = toks[5].text if if_not_exists else toks[2].text
            if name in self._dbs:
                if if_not_exists:
                    return None
                raise ValueError(f"database {name!r} already exists")
            self._dbs[name] = {}
            self._db_defs[name] = {}
            self._db_deps[name] = {}
            return None
        if head == "DROP" and second == "DATABASE":
            name = toks[4].text if toks[2].upper == "IF" else toks[2].text
            if name == self.current_db:
                raise ValueError("cannot drop the current database")
            self._dbs.pop(name, None)
            self._db_defs.pop(name, None)
            for dep in self._db_deps.pop(name, {}).values():
                dep.release_serving()
            self._db_off.pop(name, None)
            for key in [k for k in self._off_parts if k[0] == name]:
                del self._off_parts[key]
            for key in [k for k in self._table_ids if k[0] == name]:
                del self._table_ids[key]
            return None
        if head == "USE":
            if toks[1].text not in self._dbs:
                raise ValueError(f"database {toks[1].text!r} does not exist")
            self.current_db = toks[1].text
            return None
        if head == "CREATE" and second == "TABLE":
            return self._create_table(toks)
        if head == "CREATE" and second in ("FUNCTION", "AGGREGATE"):
            return self._create_function(sql_text)
        if head == "DROP" and second == "FUNCTION":
            # DROP FUNCTION [IF EXISTS] name (cmd.yaml drop_function_*)
            guarded = len(toks) > 3 and toks[2].upper == "IF"
            fname = toks[4].text if guarded else toks[2].text
            if not guarded and fname not in self.functions:
                raise ValueError(f"function {fname!r} does not exist")
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fname}")
            self.functions.pop(fname, None)
            return None
        if head == "DROP" and second == "TABLE":
            db, bare = self._loc(toks[2].text)
            self.tables.pop(toks[2].text, None)
            self.table_defs.pop(toks[2].text, None)
            self._db_off.get(db, {}).pop(bare, None)
            self._off_parts.pop((db, bare), None)
            self._table_ids.pop((db, bare), None)
            # deployments serving this table hold .persist()ed pre-agg
            # buckets — release them (r9 verdict #3: dropping the request
            # table must not leak the serving caches)
            for dep in self._db_deps.get(db, {}).values():
                # a deployment's unqualified request table resolves in the
                # db it was deployed in, not the session's current one
                rdb, _, rbare = dep.request_table.rpartition(".")
                if (rdb or dep.db_name, rbare) == (db, bare):
                    dep.release_serving()
            return None
        if head == "INSERT":
            return self._insert(toks)
        if head == "DELETE":
            if second == "JOB":
                # JobInfoManager.scala:127 — "Delete job is not supported yet"
                raise ValueError("DELETE JOB is not supported")
            return self._delete(sql_text)
        if head == "TRUNCATE":
            # TRUNCATE TABLE t | TRUNCATE t (TRUNCATE_TABLE_STATEMENT.md)
            name = toks[2].text if second == "TABLE" else toks[1].text
            if name not in self.tables:
                raise ValueError(f"unknown table {name!r}")
            self.tables[name] = self.tables[name].limit(0)
            return None
        if head in ("DESC", "DESCRIBE"):
            return self._desc(toks[1].text)
        if head == "CREATE" and second == "INDEX":
            return self._create_index(sql_text)
        if head == "DROP" and second == "INDEX":
            # DROP INDEX table.index_name (DROP_INDEX_STATEMENT.md)
            tail = render(toks[2:]).replace(" ", "").rstrip(";")
            if "." not in tail:
                # the reference requires the qualified form
                # (test_delete_index id 4)
                raise ValueError("DROP INDEX takes <table>.<index_name>")
            tname, _, iname = tail.rpartition(".")
            td = self.table_defs.get(tname)
            if td is not None:
                td.indexes = [i for i in td.indexes if i.name != iname]
            return None
        if head == "ALTER" and second == "TABLE":
            return self._alter_table(toks)
        if head in ("CREATE", "ALTER", "DROP") and second == "USER":
            return self._user_admin(head, toks)
        if head == "CREATE" and second == "GROUP":
            # nameserver tablet-group management — no cluster topology to
            # group in a single-SparkSession engine (the parser accepts it;
            # see statement_kind)
            raise ValueError("CREATE GROUP is not supported by this engine")
        if head == "EXPLAIN":
            return self._explain(toks, sql_text)
        if head == "CALL":
            return self._call(toks)
        if head == "EXIT":
            # the CLI's session terminator — no interactive session here
            return None
        if head == "LOAD":
            return self._load_data(sql_text)
        if head == "DEPLOY":
            return self._deploy(toks, sql_text)
        if head == "CREATE" and second == "PROCEDURE":
            return self._create_procedure(sql_text)
        if head == "DROP" and second == "PROCEDURE":
            # reached only for spellings the pre-mangle route didn't match
            # (e.g. backquoted names) — the name is already bare here
            return self._drop_procedure(toks[2].text)
        if head == "SHOW" and second == "JOB" and len(toks) > 2 and toks[2].kind == "num":
            job = self.jobman.get(int(toks[2].text))
            return self.spark.createDataFrame([job.row()], JOB_SCHEMA)
        if head == "SHOW" and second == "JOBLOG":
            # SHOW JOBLOG job_id (SHOW_JOBLOG.md) — the job's lifecycle log
            if len(toks) < 3 or toks[2].kind != "num":
                raise ValueError("SHOW JOBLOG takes a numeric job id")
            job = self.jobman.get(int(toks[2].text))
            return self.spark.createDataFrame([(job.log_text(),)], "log string")
        if head == "SHOW" and second == "JOBS" and len(toks) > 2 and toks[2].text != ";":
            return self._show_jobs_from(toks)
        if head == "SHOW" and second == "TABLE" and len(toks) > 2 and toks[2].upper == "STATUS":
            return self._show_table_status(toks)
        if (
            head == "SHOW"
            and second == "PROCEDURE"
            and len(toks) > 2
            and toks[2].upper == "STATUS"
        ):
            # SHOW PROCEDURE STATUS ≡ SHOW PROCEDURES (cmd.yaml ids 9/10)
            return self._show("PROCEDURES")
        if head == "SHOW" and second == "CURRENT_USER":
            return self.spark.createDataFrame([(self.current_user,)], "User string")
        if head == "STOP" and second == "JOB":
            if len(toks) < 3 or toks[2].kind != "num":
                raise ValueError("STOP JOB takes a numeric job id")
            # cancels the job's Spark job group (kills its running stages)
            # and returns the job row with the final state — the
            # reference's JobInfoManager.stopJob contract
            job = self.jobman.stop(int(toks[2].text))
            return self.spark.createDataFrame([job.row()], JOB_SCHEMA)
        if head == "SHOW" and second == "CREATE":
            return self._show_create(toks[3].text)
        if (
            head == "SHOW"
            and second in ("SESSION", "GLOBAL")
            and len(toks) > 2
            and toks[2].upper == "VARIABLES"
        ):
            # SHOW [SESSION|GLOBAL] VARIABLES — one variable store here
            # (the reference's global/session split is a cluster concept)
            if any(t.text != ";" for t in toks[3:]):
                raise ValueError(f"unexpected tokens after SHOW {second} VARIABLES")
            return self._show("VARIABLES")
        if head == "SHOW":
            if any(t.text != ";" for t in toks[2:]):
                # e.g. `SHOW DEPLOYMENTS name` — the reference rejects
                # trailing tokens (test_show_deploy id 2)
                raise ValueError(f"unexpected tokens after SHOW {second}")
            return self._show(second)
        if head in ("SELECT", "WITH") or (
            head == "(" and any(t.upper in ("UNION", "EXCEPT", "INTERSECT") for t in toks)
        ):
            # head == "(": parenthesized set-operation arm
            # (union_query.yaml id 5)
            m = re.search(r"\bINTO\s+OUTFILE\s+", sql_text, re.IGNORECASE)
            if m:
                return self._select_into(sql_text, m)
            q = P.parse(sql_text)
            b = q.body
            if (
                isinstance(b, P.Select)
                and b.from_ is not None
                and self._stream_loc(b.from_.name) in self._streams
            ):
                from openmldb_spark.streaming.sqlsurface import lower_stream_select

                return lower_stream_select(self, q)
            if isinstance(b, P.Select) and b.from_ is not None:
                from openmldb_spark.streaming.sqlsurface import (
                    has_stream_window,
                    lower_stream_select,
                )

                if has_stream_window(b):
                    # batch≡streaming: the tumble/hop/session_window SQL
                    # surface also runs over BATCH tables — same lowering
                    # (F.window / F.session_window work in batch groupBy;
                    # withWatermark is a no-op there), so one query text
                    # serves both modes and the consistency family can
                    # assert batch-over-union == final streaming state
                    return lower_stream_select(self, q)
            return Lowerer(self.spark, self._table_view()).query(q, {})
        raise ValueError(f"unsupported statement: {render(toks[:4])} ...")

    # -- SHOW -----------------------------------------------------------------
    # -- ALTER / users / status surface ---------------------------------------
    def _tid(self, db: str, bare: str) -> int:
        """Stable table id in registration order (the nameserver's tid)."""
        key = (db, bare)
        if key not in self._table_ids:
            self._table_ids[key] = self._next_tid
            self._next_tid += 1
        return self._table_ids[key]

    def _off_ledger(self, db: str, bare: str) -> dict:
        return self._off_parts.setdefault(
            (db, bare), {"base": None, "sym": {}, "fmt": None}
        )

    def _off_rebuild(self, db: str, bare: str) -> None:
        """Recompose the offline store from its ledger (base ∪ symbolic)."""
        parts = self._off_ledger(db, bare)
        dfs = ([parts["base"]] if parts["base"] is not None else []) + list(
            parts["sym"].values()
        )
        self._bump_epoch(db, bare)
        if not dfs:
            self._db_off.get(db, {}).pop(bare, None)
            self._off_parts.pop((db, bare), None)
            return
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        self._db_off.setdefault(db, {})[bare] = out
