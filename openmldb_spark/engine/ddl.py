"""DDL surface: CREATE/ALTER TABLE, CREATE INDEX, user admin (SURVEY §3.3 DDL routes)."""

from __future__ import annotations

import re

from openmldb_spark.catalog import IndexDef, TableDef
from openmldb_spark.sources.loader import load_data
from openmldb_spark.sql.parser import Tok, render

from openmldb_spark.engine._helpers import (
    _infer_fmt,
    _match_paren,
    _parse_coltype,
    _parse_options,
    _split_commas,
)


class DdlMixin:

    # -- DDL ------------------------------------------------------------------
    def _create_table(self, toks: list[Tok], sql_text: str):
        name = toks[2].text
        if toks[3].text == ".":
            # a qualifier _mangle_sql left alone names no database
            raise ValueError(f"database {name!r} does not exist")
        if self._stream_loc(name) in self._streams:
            # the SELECT router consults streams FIRST, so a batch table
            # under a stream's name would be unreachable (the mirror of
            # register_stream's batch-shadow guard)
            raise ValueError(f"{name!r} already names a registered stream")
        if len(toks) > 3 and toks[3].upper == "LIKE":
            # CREATE TABLE t LIKE PARQUET|HIVE '<path>'
            # (CREATE_TABLE_STATEMENT.md; cases/plan/create.yaml ids 32/33):
            # schema copied from the source, no data, no indexes
            if len(toks) < 6 or toks[5].kind != "str":
                raise ValueError("CREATE TABLE t LIKE PARQUET|HIVE '<path>'")
            like_kind = toks[4].upper
            path = toks[5].text.strip("'\"")
            if like_kind == "PARQUET":
                schema = self.spark.read.parquet(
                    path[7:] if path.startswith("file://") else path
                ).schema
            elif like_kind == "HIVE":
                # hive:// needs a metastore — same documented gap as LOAD
                # DATA's hive format (DataSourceUtil.scala)
                raise ValueError(
                    "CREATE TABLE LIKE HIVE needs a Hive metastore "
                    "(not available in this build)"
                )
            else:
                raise ValueError(f"CREATE TABLE LIKE takes PARQUET or HIVE, got {like_kind}")
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
            )
            self.table_defs[name] = TableDef(name, ddl, [])
            self.tables[name] = self.spark.createDataFrame([], schema)
            db, bare = self._loc(name)
            self._tid(db, bare)
            return None
        # body between the outermost parens
        i = 3
        depth = 0
        j = i
        for j in range(i, len(toks)):
            if toks[j].text == "(":
                depth += 1
            elif toks[j].text == ")":
                depth -= 1
                if depth == 0:
                    break
        body = toks[i + 1 : j]
        cols: list[tuple[str, str]] = []
        indexes: list[IndexDef] = []
        not_null: set[str] = set()
        for item in _split_commas(body, angles=True):
            if item[0].upper == "INDEX":
                indexes.append(self._parse_index(item, len(indexes)))
            else:
                cname = item[0].text
                ctype, _k = _parse_coltype(item, 1)
                cols.append((cname, ctype))
                # NOT NULL is metadata only (DESC / API server table info) —
                # enforcing it on the DataFrame schema would reject the
                # reference's own null-bearing inserts; DEFAULT ignored
                if any(
                    t.upper == "NOT" and item[k + 1].upper == "NULL"
                    for k, t in enumerate(item[:-1])
                ):
                    not_null.add(cname)
        ddl = ", ".join(f"{c} {t}" for c, t in cols)
        td = TableDef(name, ddl, indexes, not_null=not_null)
        # trailing OPTIONS (storage_mode='Memory'|'SSD'|'HDD', partitionnum,
        # replicanum, ... — CREATE_TABLE_STATEMENT.md): storage_mode is
        # recorded for SHOW TABLE STATUS / disk-table DESC; the cluster
        # topology options have no meaning in one SparkSession
        if j + 1 < len(toks) and toks[j + 1].upper == "OPTIONS":
            k = _match_paren(toks, j + 2)
            for item in _split_commas(toks[j + 3 : k]):
                if item and item[0].upper == "STORAGE_MODE" and len(item) >= 3:
                    mode_v = item[2].text.strip("'\"").lower()
                    if mode_v not in ("memory", "ssd", "hdd"):
                        # CREATE_TABLE_STATEMENT.md: Memory|SSD|HDD only
                        raise ValueError(f"invalid storage_mode {mode_v!r}")
                    td.storage_mode = mode_v
        self.table_defs[name] = td
        self.tables[name] = self.spark.createDataFrame([], ddl)
        db, bare = self._loc(name)
        self._tid(db, bare)
        return None

    @staticmethod
    def _parse_index(item: list[Tok], n: int) -> IndexDef:
        # INDEX(KEY=a | KEY=(a,b), TS=ts, TTL=30d|100, TTL_TYPE=absolute)
        inner = item[2:-1]  # strip INDEX ( ... )
        opts: dict[str, list[Tok]] = {}
        for part in _split_commas(inner):
            key = part[0].upper
            opts[key] = part[2:]  # skip '='
        keys_toks = opts.get("KEY", [])
        keys = [t.text for t in keys_toks if t.kind == "name"]
        ts = opts["TS"][0].text if "TS" in opts else None
        ttl = render(opts["TTL"]) if "TTL" in opts else None
        ttl_type = opts["TTL_TYPE"][0].text.lower() if "TTL_TYPE" in opts else "absolute"
        if ttl and ttl.startswith("("):
            # DDL paired spelling TTL=(abs, lat) -> the canonical "a&&b" /
            # "a||b" form the reference's DESC prints and catalog.apply_ttl
            # splits on (absandlat conjoins, absorlat disjoins)
            parts = [p.strip() for p in ttl.strip("()").split(",")]
            ttl = ("||" if ttl_type == "absorlat" else "&&").join(parts)
        iname = opts["NAME"][0].text if "NAME" in opts else f"idx{n}"
        return IndexDef(iname, keys=keys, ts_col=ts, ttl=ttl, ttl_type=ttl_type)

    def _create_index(self, toks: list[Tok], sql_text: str):
        """CREATE INDEX idx ON t (keys) OPTIONS (ts=..., ttl=..., ttl_type=...)
        (ref: CREATE_INDEX_STATEMENT.md). Index metadata only — TTL is
        applied on demand via catalog.apply_ttl."""
        m = re.match(
            r"\s*CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*\(([^)]*)\)\s*"
            r"(?:OPTIONS\s*\(([^)]*)\))?\s*;?\s*$",
            sql_text,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError("CREATE INDEX name ON table (keys) [OPTIONS(...)]")
        iname, tname = m.group(1), m.group(2)
        if tname not in self.tables:
            raise ValueError(f"unknown table {tname!r}")
        keys = [k.strip() for k in m.group(3).split(",") if k.strip()]
        opts = _parse_options(m.group(4) or "")
        idx = IndexDef(
            iname,
            keys,
            opts.get("ts"),
            opts.get("ttl"),
            opts.get("ttl_type", "absolute").lower(),
        )
        td = self.table_defs.get(tname)
        if td is None:
            td = TableDef(tname, schema_ddl="")
            self.table_defs[tname] = td
        td.indexes.append(idx)
        return None

    def _alter_table(self, toks: list[Tok], sql_text: str):
        """``ALTER TABLE [db.]t (ADD|DROP) OFFLINE_PATH 'path' [, ...]`` —
        the reference's only ALTER TABLE form (ALTER_STATEMENT.md;
        AddPathAction/DropPathAction, cases/plan/cmd.yaml alter-table-*):
        edit the offline table info's symbolic path list. Spark-first: a
        symbolic path is a lazy ``spark.read`` over that path — the offline
        view unions it in; nothing is copied (the reference likewise only
        updates nameserver metadata and reads at query time)."""
        name = toks[2].text
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        db, bare = self._loc(name)
        # the action list the classifier checked: (ADD|DROP) OFFLINE_PATH
        # '<path>' {, ...} — four tokens apart
        actions = [
            (toks[k].upper, toks[k + 2].text.strip("'"))
            for k in range(3, len(toks) - 2, 4)
        ]
        # apply to a COPY of the ledger and commit only when every action
        # succeeds — a failed multi-action statement must not half-apply
        old = self._off_parts.get((db, bare)) or {"base": None, "sym": {}, "fmt": None}
        parts = {"base": old["base"], "sym": dict(old["sym"]), "fmt": old["fmt"]}
        schema = None
        if name in self.table_defs:
            schema = self.table_defs[name].schema_ddl
        for act, path in actions:
            if act == "ADD":
                if path in parts["sym"]:
                    raise ValueError(f"offline path {path!r} already added")
                fmt = parts["fmt"] or _infer_fmt(path)
                parts["sym"][path] = load_data(
                    self.spark, path, fmt=fmt, schema=schema
                )
                parts["fmt"] = fmt
            else:
                if path not in parts["sym"]:
                    raise ValueError(f"offline path {path!r} not found on {name!r}")
                del parts["sym"][path]
        self._off_parts[(db, bare)] = parts
        self._off_rebuild(db, bare)
        return None

    def _drop_table(self, name: str, if_exists: bool):
        db, bare = self._stream_loc(name)
        if bare not in self._dbs.get(db, {}):
            if if_exists:
                return None
            raise ValueError(f"table {name!r} does not exist")
        del self._dbs[db][bare]
        self._bump_epoch(db, bare)
        self._db_defs[db].pop(bare, None)
        self._db_off.get(db, {}).pop(bare, None)
        self._off_parts.pop((db, bare), None)
        self._table_ids.pop((db, bare), None)
        # deployments serving this table hold a compiled plan's staged
        # directory and indexes — release them (dropping the request table
        # must not leak the serving state)
        for dep in self._db_deps.get(db, {}).values():
            # a deployment's unqualified request table resolves in the
            # db it was deployed in, not the session's current one
            rdb, _, rbare = dep.request_table.rpartition(".")
            if (rdb or dep.db_name, rbare) == (db, bare):
                dep.release_serving()
        return None

    def _drop_index(self, toks: list[Tok], sql_text: str):
        """DROP INDEX table.index_name (DROP_INDEX_STATEMENT.md)."""
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

    def _truncate(self, toks: list[Tok], sql_text: str):
        """TRUNCATE TABLE t | TRUNCATE t (TRUNCATE_TABLE_STATEMENT.md)."""
        name = toks[2].text if toks[1].upper == "TABLE" else toks[1].text
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        self.tables[name] = self.tables[name].limit(0)
        return None

    def _user_admin(self, toks: list[Tok], sql_text: str):
        """CREATE/ALTER/DROP USER (+IF [NOT] EXISTS, OPTIONS(password=...))
        — CREATE_USER/ALTER_USER/DROP_USER_STATEMENT.md. Metadata registry:
        one SparkSession has no authentication boundary to enforce."""
        head = toks[0].upper
        i = 2
        guarded = False
        if len(toks) > i and toks[i].upper == "IF":
            # CREATE USER IF NOT EXISTS x / ALTER|DROP USER IF EXISTS x
            guarded = True
            i += 3 if head == "CREATE" else 2
        if i >= len(toks) or toks[i].kind != "name":
            raise ValueError(f"{head} USER takes a user name")
        name = toks[i].text
        i += 1
        if head == "ALTER" and i < len(toks) and toks[i].upper == "SET":
            i += 1
        opts: dict[str, str] = {}
        if i < len(toks) and toks[i].upper == "OPTIONS":
            j = _match_paren(toks, i + 1)
            quoted: set = set()
            opts = _parse_options(render(toks[i + 2 : j]), quoted)
            i = j + 1
        bad = set(opts) - {"password"}
        if bad:
            # the reference: "Only the password can be specified"
            raise ValueError(f"unsupported user option(s): {sorted(bad)}")
        if i < len(toks) and toks[i].text != ";":
            raise ValueError(f"unexpected tokens after {head} USER: {render(toks[i:i+3])}")
        if head == "CREATE":
            if name in self.users:
                if guarded:
                    return None
                raise ValueError(f"user {name!r} already exists")
            self.users[name] = opts.get("password", "")
        elif head == "ALTER":
            if name not in self.users:
                if guarded:
                    return None
                raise ValueError(f"user {name!r} does not exist")
            if "password" in opts:
                self.users[name] = opts["password"]
        else:  # DROP
            if name == "root":
                # the reference refuses to drop root (HandleDropUser)
                raise ValueError("cannot drop user 'root'")
            if name not in self.users:
                if guarded:
                    return None
                raise ValueError(f"user {name!r} does not exist")
            del self.users[name]
        return None
