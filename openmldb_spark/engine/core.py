"""Engine core: catalog state, name mangling, storage split, the offline-info
ledger, and the one statement router.

Routing is one classifier, :func:`_classify`. It reads a
statement as written — no catalog, no db-name mangling — applies every
grammar rule, and returns a :class:`Stmt`: the reference parser's plan-node
tag (what :meth:`Engine.statement_kind` reports, checked by the 324 ported
``cases/plan`` cases) and the Engine method that runs it.
:meth:`Engine.execute` calls the same classifier and dispatches on its
answer, so the two cannot disagree. Statements the parser accepts but this
engine does not run (``CREATE GROUP``, ``DELETE JOB``, a bare
``CREATE TABLE t``, …) are refusal entries in the same table; handlers keep
only the checks that need the catalog (unknown table, unknown variable,
existing database)."""

from __future__ import annotations

import re
from typing import NamedTuple, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from openmldb_spark.catalog import TableDef
from openmldb_spark.jobs import JobManager
from openmldb_spark.sql import parser as P
from openmldb_spark.sql.lowering import Lowerer
from openmldb_spark.sql.parser import Tok, render, tokenize

from openmldb_spark.engine._helpers import (
    _INTO_OUTFILE,
    _declared_aliases,
    _match_paren,
    _split_statements,
)
from openmldb_spark.engine.ddl import DdlMixin
from openmldb_spark.engine.deploy import DeployMixin
from openmldb_spark.engine.dml import DmlMixin
from openmldb_spark.engine.serving import SqlDeployment
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


class Stmt(NamedTuple):
    """One classified statement. ``kind`` is the reference parser's top
    plan-node tag (:meth:`Engine.statement_kind`); ``route`` names the
    Engine method that runs it. With ``args`` the route was decided on the
    statement as written and the method takes exactly those; without, it
    reads the db-mangled statement as ``(toks, sql_text)``."""

    kind: str
    route: str
    args: Optional[tuple] = None


#: (head, second keyword) -> statement, for kinds whose grammar is the two
#: keywords (the handler reads the rest); second None matches any
_STATEMENTS = {
    ("CREATE", "DATABASE"): Stmt("CMD:create", "_create_database"),
    ("CREATE", "INDEX"): Stmt("kCreateIndexStmt", "_create_index"),
    ("CREATE", "PROCEDURE"): Stmt("kCreateSpStmt", "_create_procedure"),
    # CREATE [OR REPLACE] [TEMP] PROCEDURE (create.yaml id 17)
    ("CREATE", "OR"): Stmt("kCreateSpStmt", "_create_procedure"),
    ("CREATE", "TEMP"): Stmt("kCreateSpStmt", "_create_procedure"),
    ("CREATE", "USER"): Stmt("kCreateUserStmt", "_user_admin"),
    ("CREATE", "FUNCTION"): Stmt("kCreateFunctionStmt", "_create_function"),
    ("CREATE", "AGGREGATE"): Stmt("kCreateFunctionStmt", "_create_function"),
    # nameserver tablet-group management: the parser accepts it, but a
    # single-SparkSession engine has no cluster topology to group
    ("CREATE", "GROUP"): Stmt(
        "CMD:create", "_refuse", ("CREATE GROUP is not supported by this engine",)
    ),
    ("ALTER", "USER"): Stmt("kAlterUserStmt", "_user_admin"),
    ("DROP", "USER"): Stmt("CMD:drop", "_user_admin"),
    ("DROP", "DATABASE"): Stmt("CMD:drop", "_drop_database"),
    ("DROP", "FUNCTION"): Stmt("CMD:drop", "_drop_function"),
    ("DROP", "INDEX"): Stmt("CMD:drop", "_drop_index"),
    ("DELETE", "FROM"): Stmt("kDeleteStmt", "_delete"),
    ("LOAD", "DATA"): Stmt("kLoadDataStmt", "_load_data"),
    ("DESC", None): Stmt("CMD:desc", "_desc"),
    ("DESCRIBE", None): Stmt("CMD:desc", "_desc"),
    ("USE", None): Stmt("CMD:use", "_use"),
    ("TRUNCATE", None): Stmt("CMD:truncate", "_truncate"),
    ("EXPLAIN", None): Stmt("kExplainStmt", "_explain"),
    ("CALL", None): Stmt("kCallStmt", "_call"),
    # the CLI's session terminator — no interactive session here
    ("EXIT", None): Stmt("CMD:exit", "_exit", ()),
}

#: SET [GLOBAL|SESSION] var = value | SET @@[global.|session.]var = value
_SET = re.compile(
    r"\s*SET\s+(?:(?:GLOBAL|SESSION)\s+)?(?:@@)?(?:(?:GLOBAL|SESSION)\.)?"
    r"(\w+)\s*=\s*(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: ALTER TABLE [db.]t (ADD|DROP) OFFLINE_PATH '<path>' [, ...]
_ALTER_TABLE = re.compile(
    r"\s*ALTER\s+TABLE\s+[`\w.]+\s+"
    r"(ADD|DROP)\s+OFFLINE_PATH\s+'[^']*'"
    r"(\s*,\s*(ADD|DROP)\s+OFFLINE_PATH\s+'[^']*')*\s*;?\s*$",
    re.IGNORECASE,
)

#: what plain ``SHOW <what>`` lists (ShowMixin._show)
_SHOWABLE = {
    "TABLES", "DATABASES", "DEPLOYMENTS", "VARIABLES", "FUNCTIONS",
    "PROCEDURES", "COMPONENTS", "CURRENT_USER",
}


def _name_end(toks: list[Tok], i: int) -> int:
    """Index just past the ``[db.]name`` at toks[i]."""
    return i + 3 if i + 2 < len(toks) and toks[i + 1].text == "." else i + 1


def _dotted(toks: list[Tok], i: int, what: str) -> str:
    """The ``[db.]name`` that is all of toks[i:], as written: deployment
    and procedure names resolve their own qualifier (Engine._dep_lookup),
    so their routes are decided before db-name mangling."""
    if i >= len(toks) or _name_end(toks, i) != len(toks) or any(
        t.kind != "name" for t in toks[i::2]
    ):
        raise ValueError(f"{what} takes a [db.]name")
    return "".join(t.text for t in toks[i:])


def _like_tail(toks: list[Tok], i: int, what: str) -> Optional[str]:
    """The optional ``LIKE '<pattern>'`` that ends the statement at toks[i:]."""
    pattern = None
    if i < len(toks) and toks[i].upper == "LIKE":
        if i + 1 >= len(toks) or toks[i + 1].kind != "str":
            raise ValueError(f"{what} LIKE takes a quoted pattern")
        pattern = toks[i + 1].text.strip("'\"")
        i += 2
    if i < len(toks):
        raise ValueError(f"unexpected tokens after {what}: {render(toks[i:i + 3])}")
    return pattern


def _classify_show(toks: list[Tok]) -> Stmt:
    second = toks[1].upper if len(toks) > 1 else ""
    third = toks[2].upper if len(toks) > 2 else ""
    if second in ("JOB", "JOBLOG"):
        # SHOW JOB without an id is a parse error (error_query.yaml id 9)
        if len(toks) != 3 or not toks[2].text.isdigit():
            raise ValueError(f"SHOW {second} takes a numeric job id")
        route = "_show_joblog" if second == "JOBLOG" else "_show_job"
        return Stmt("CMD:show", route, (int(toks[2].text),))
    if second == "JOBS":
        # SHOW JOBS [FROM TASKMANAGER|NAMESERVER] [LIKE 'pat'] (SHOW_JOBS.md)
        component, i = "TASKMANAGER", 2
        if third == "FROM":
            if len(toks) < 4 or toks[3].upper not in ("TASKMANAGER", "NAMESERVER"):
                raise ValueError("SHOW JOBS FROM takes TASKMANAGER or NAMESERVER")
            component, i = toks[3].upper, 4
        args = (component, _like_tail(toks, i, "SHOW JOBS"))
        return Stmt("kShowStmt" if len(toks) > 2 else "CMD:show", "_show_jobs", args)
    if second == "TABLE" and third == "STATUS":
        return Stmt(
            "CMD:show", "_show_table_status", (_like_tail(toks, 3, "SHOW TABLE STATUS"),)
        )
    if second == "CREATE" and third == "TABLE":
        _dotted(toks, 3, "SHOW CREATE TABLE")  # the route reads it mangled
        return Stmt("CMD:show", "_show_create")
    if second == "CREATE" and third == "PROCEDURE":
        name = _dotted(toks, 3, "SHOW CREATE PROCEDURE")
        return Stmt("CMD:show", "_show_create_procedure", (name,))
    if second == "DEPLOYMENT":
        # SHOW DEPLOYMENT accepts db.name (test_show_deploy id 3)
        return Stmt("CMD:show", "_show_deployment", (_dotted(toks, 2, "SHOW DEPLOYMENT"),))
    what, end = second, 2
    if second in ("SESSION", "GLOBAL") and third == "VARIABLES":
        # one variable store here (the reference's global/session split is
        # a cluster concept)
        what, end = "VARIABLES", 3
    elif second == "PROCEDURE" and third == "STATUS":
        # SHOW PROCEDURE STATUS ≡ SHOW PROCEDURES (cmd.yaml ids 9/10)
        what, end = "PROCEDURES", 3
    if what not in _SHOWABLE:
        raise ValueError(f"SHOW {second} not supported")
    if len(toks) > end:
        # e.g. `SHOW DEPLOYMENTS name` (test_show_deploy id 2)
        raise ValueError(f"unexpected tokens after SHOW {second}")
    return Stmt("CMD:show", "_show", (what,))


def _classify(sql_text: str) -> Stmt:
    """The one statement router: classify ``sql_text`` as written (no
    catalog, no db-name mangling) and apply every grammar rule; raises on
    statements the dialect rejects."""
    if re.match(r"\s*SET\b", sql_text, re.IGNORECASE):
        # before tokenizing: the '@@var' sigil is not a token
        m = _SET.match(sql_text)
        if not m:
            raise ValueError(f"cannot parse SET statement: {sql_text!r}")
        # the value is one literal/identifier token (the reference rejects
        # expressions: cmd.yaml set_select_mode_2, error_unsupport
        # set_global_to_expr)
        vtoks = tokenize(m.group(2))
        if len(vtoks) != 1 or vtoks[0].kind not in ("str", "num", "name"):
            raise ValueError("SET value must be a single literal")
        return Stmt("kSetStmt", "_set", (m.group(1).lower(), vtoks[0].text.strip("'\"")))
    toks = tokenize(sql_text)
    while toks and toks[-1].text == ";":
        toks.pop()
    if not toks:
        raise ValueError("empty statement")
    head = toks[0].upper
    second = toks[1].upper if len(toks) > 1 else ""
    if head in ("SELECT", "WITH") or (
        # a parenthesized set-operation arm (union_query.yaml id 5)
        head == "(" and any(t.upper in ("UNION", "EXCEPT", "INTERSECT") for t in toks)
    ):
        if _INTO_OUTFILE.search(sql_text):
            return Stmt("kSelectIntoStmt", "_select_into")
        P.parse(sql_text)
        return Stmt("kQuery", "_query")
    if head == "SHOW":
        return _classify_show(toks)
    if head == "INSERT":
        # INSERT INTO [db.]t [(cols)] VALUES (...) [, (...)]
        if second != "INTO" or len(toks) < 4:
            raise ValueError("INSERT INTO <table> ... VALUES (...)")
        i = _name_end(toks, 2)
        if i < len(toks) and toks[i].text == "(":
            i = _match_paren(toks, i) + 1
        if i >= len(toks) or toks[i].upper != "VALUES":
            raise ValueError("INSERT requires VALUES")
        for k, t in enumerate(toks):
            if t.kind == "num" and t.text.isdigit():
                # int64 overflow is a parse error in the reference
                # (error_unsupport_sql.yaml id 21); a leading '-' folds
                # into the literal, so the negative range is one wider
                neg = k > 0 and toks[k - 1].text == "-"
                if int(t.text) > (1 << 63) - (0 if neg else 1):
                    raise ValueError(f"integer literal out of int64 range: {t.text}")
        return Stmt("kInsertStmt", "_insert")
    if head == "CREATE" and second == "TABLE":
        i = _name_end(toks, 2)
        if i < len(toks) and toks[i].upper in ("(", "LIKE"):
            return Stmt("CREATE", "_create_table")
        # the parser also takes a bare `CREATE TABLE t` (create.yaml) and
        # IF NOT EXISTS; this engine creates a table from a column list
        return Stmt("CREATE", "_refuse", ("CREATE TABLE t (<columns>) expected",))
    if head == "ALTER" and second == "TABLE":
        if not _ALTER_TABLE.match(sql_text):
            raise ValueError("ALTER TABLE t ADD|DROP OFFLINE_PATH '<path>'")
        return Stmt("kAlterTableStmt", "_alter_table")
    if head == "DROP" and second == "DEPLOYMENT":
        name = _dotted(toks, 2, "DROP DEPLOYMENT")
        if "." in name:
            # the parser takes db.name, the reference's DROP DEPLOYMENT
            # does not (test_drop_deploy id 3)
            return Stmt("CMD:drop", "_refuse", ("DROP DEPLOYMENT takes an unqualified name",))
        return Stmt("CMD:drop", "_drop_deployment", (name,))
    if head == "DROP" and second == "TABLE":
        # DROP TABLE [IF EXISTS] [db.]name
        if_exists = [t.upper for t in toks[2:4]] == ["IF", "EXISTS"]
        name = _dotted(toks, 4 if if_exists else 2, "DROP TABLE")
        return Stmt("CMD:drop", "_drop_table", (name, if_exists))
    if head == "DEPLOY":
        # DEPLOY [IF NOT EXISTS] name [OPTIONS(...)] SELECT ...; the route
        # reads the SELECT from the statement text
        if_not_exists = [t.upper for t in toks[1:4]] == ["IF", "NOT", "EXISTS"]
        i = 4 if if_not_exists else 1
        if i >= len(toks) or toks[i].kind != "name":
            raise ValueError("DEPLOY takes a deployment name")
        return Stmt("kDeployStmt", "_deploy", (toks[i].text, if_not_exists, sql_text))
    if head == "DROP" and second == "PROCEDURE":
        # the reference's kCmdDropSp takes [db.]name
        return Stmt("CMD:drop", "_drop_procedure", (_dotted(toks, 2, "DROP PROCEDURE"),))
    if head in ("STOP", "DELETE") and second == "JOB":
        if len(toks) != 3:
            raise ValueError(f"{head} JOB takes a job id")
        if head == "DELETE":
            if not toks[2].text.isdigit():
                raise ValueError("DELETE JOB takes a numeric job id")
            # JobInfoManager.scala:127 — "Delete job is not supported yet"
            return Stmt("kDeleteStmt", "_refuse", ("DELETE JOB is not supported",))
        if not toks[2].text.isdigit():
            # the parser takes any id token (cmd.yaml `stop JOB abc`)
            return Stmt("CMD:stop", "_refuse", ("STOP JOB takes a numeric job id",))
        return Stmt("CMD:stop", "_stop_job", (int(toks[2].text),))
    st = _STATEMENTS.get((head, second)) or _STATEMENTS.get((head, None))
    if st is None:
        raise ValueError(f"unsupported statement: {render(toks[:4])} ...")
    return st


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
        #: Derived serving state — the compiled request plan's key — keys
        #: its validity on it.
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

    def _ttl_index(self, db: str, name: str):
        """The index whose TTL online reads of a table enforce (the
        reference's online storage GCs per the FIRST index's TTL;
        data_expiration corpus), or None."""
        if self.variables.get("execute_mode", "online") != "online":
            return None
        td = self._db_defs.get(db, {}).get(name)
        for idx in td.indexes if td is not None else ():
            if idx.ttl and idx.ts_col and idx.origin == "ddl":
                return idx
        return None

    def _with_ttl(
        self, db: str, name: str, df: DataFrame, staged: bool = False
    ) -> DataFrame:
        """Online-mode reads see only TTL-live rows (:meth:`_ttl_index`).
        ``SET @@ttl_now_ms = <ms>`` pins "now" (deterministic tests);
        unset, the absolute bound derives from max(ts) in the data — the
        reproducible batch choice (catalog.apply_ttl; ``staged`` as
        there)."""
        from openmldb_spark.catalog import apply_ttl

        idx = self._ttl_index(db, name)
        if idx is None:
            return df
        now = self.variables.get("ttl_now_ms")
        return apply_ttl(df, idx, now_ms=int(now) if now else None, staged=staged)

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
        rows. Online appends bump the table epoch and reach every live
        compiled plan (:meth:`CompiledRequestPlan.append`): a plan that
        indexes the table appends the rows to its index instead of
        recompiling."""
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
        grown = online.unionByName(self.spark.createDataFrame(rows, online.schema))
        self._dbs[db][bare] = grown
        self._bump_epoch(db, bare)
        for deps in self._db_deps.values():
            for dep in deps.values():
                if dep._compiled is not None:
                    dep._compiled.append((db, bare), online, grown, rows)

    def _table_view(self) -> dict[str, DataFrame]:
        """Resolution mapping for the Lowerer: current db's tables under
        their bare names + every db's tables under mangled names. Reads are
        TTL-filtered (online semantics), materialized lazily per referenced
        table — not for the whole catalog on every statement."""
        return _TTLView(self)

    def _mangle_sql(self, sql_text: str) -> tuple[list[Tok], str]:
        """Tokens and text of ``sql_text`` with db-qualified references
        (`db1.t0`, `db1.t0.c1`) rewritten into flat single-token names.
        Current-db qualifiers are STRIPPED (so `db.t1.c1` with current db
        `db` resolves subquery alias t1 — reference id 7); other known dbs
        mangle to `__omdb__{db}__{t}`. Unknown-db refs pass
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
        return (out, render(out)) if changed else (toks, sql_text)

    def _stream_loc(self, name: str) -> tuple[str, str]:
        """(db, bare) stream key — like :meth:`_loc` but also splits raw
        dotted Python-API names ('db1.s'), so register_stream, the DDL
        guards, and the SELECT router all agree on scoping (r9 ADVICE: the
        raw-name keying left 'db1.s' unguarded against CREATE TABLE s and
        rejected CREATE TABLE db2.s when a stream 's' existed). DROP TABLE
        resolves its as-written name through it too."""
        if name is None:
            return ("", "")  # subquery FROM: never a stream key
        if name in self._mangled:
            return self._mangled[name]
        db, _, bare = name.rpartition(".")
        return (db.strip("`") or self.current_db), bare.strip("`")

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
        return [self.execute(stmt) for stmt in _split_statements(script)]

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
        statements over tables that do not exist. :meth:`execute` routes
        through the same classifier, so a statement this rejects never
        runs."""
        return _classify(sql_text).kind

    def execute(self, sql_text: str, parameters: Optional[Sequence] = None):
        """Run one statement. Returns a DataFrame for queries/SHOW, None
        for DDL/DML side effects, a SqlDeployment for DEPLOY.

        ``parameters`` binds positional ``?`` placeholders (the reference's
        prepared-statement surface — test_insert_prepared.yaml and the SDK's
        parameterized queries): values fold to literals before routing, so
        every statement kind (INSERT/DELETE/SELECT/...) accepts them.

        The statement is classified as written (:func:`_classify`, the
        grammar :meth:`statement_kind` reports), then handed to its route;
        routes that read table names see the statement with db-qualified
        names mangled to flat tokens."""
        if parameters is not None:
            sql_text = P.substitute_params(sql_text, parameters)
        st = _classify(sql_text)
        run = getattr(self, st.route)
        if st.args is not None:
            return run(*st.args)
        return run(*self._mangle_sql(sql_text))

    # -- routes: databases, queries, refusals ---------------------------------
    def _create_database(self, toks: list[Tok], sql_text: str):
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

    def _drop_database(self, toks: list[Tok], sql_text: str):
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

    def _use(self, toks: list[Tok], sql_text: str):
        if toks[1].text not in self._dbs:
            raise ValueError(f"database {toks[1].text!r} does not exist")
        self.current_db = toks[1].text
        return None

    def _query(self, toks: list[Tok], sql_text: str) -> DataFrame:
        q = P.parse(sql_text)
        b = q.body
        if isinstance(b, P.Select) and b.from_ is not None:
            from openmldb_spark.streaming.sqlsurface import (
                has_stream_window,
                lower_stream_select,
            )

            # a registered stream lowers to a streaming DataFrame; and
            # batch≡streaming: the tumble/hop/session_window SQL surface
            # also runs over BATCH tables — same lowering (F.window /
            # F.session_window work in batch groupBy; withWatermark is a
            # no-op there), so one query text serves both modes and the
            # consistency family can assert batch-over-union == final
            # streaming state
            if self._stream_loc(b.from_.name) in self._streams or has_stream_window(b):
                return lower_stream_select(self, q)
        return Lowerer(self.spark, self._table_view()).query(q, {})

    def _refuse(self, message: str):
        """A statement the parser accepts and this engine does not run."""
        raise ValueError(message)

    def _exit(self):
        return None

    # -- table ids and the offline-info ledger ---------------------------------
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
