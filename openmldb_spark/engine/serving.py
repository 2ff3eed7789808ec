"""The SqlDeployment serving object: request mode, batch-request
optimization, and the compiled request-plan cache (the Spark analog of the
reference's per-DEPLOY compiled-plan cache,
``hybridse/src/vm/engine.cc:453-496``). A ``long_windows`` deploy serves
like any other, exactly over raw history."""

from __future__ import annotations

import copy
from collections import Counter
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openmldb_spark.sql import parser as P
from openmldb_spark.sql.lowering import Lowerer

from openmldb_spark.engine.compiled import CompiledRequestPlan, _jvm_stageable


def _innermost(sel):
    """The Select at the end of ``sel``'s chain of subquery FROMs."""
    while (
        isinstance(sel, P.Select)
        and sel.from_ is not None
        and sel.from_.name is None
        and sel.from_.subquery is not None
    ):
        sel = sel.from_.subquery.body
    return sel


class SqlDeployment:
    """A deployed SELECT: named, schema-contracted, two execution modes
    (see module docstring).

    ``long_windows`` ({window_name: bucket interval, e.g. 'w1': '1h'}) is
    the reference's ``OPTIONS(long_windows=...)``: DEPLOY validates it
    like the reference's cluster router, and the windows it names serve
    exactly like any other, from raw history. Bucketed pre-aggregation is
    the :mod:`openmldb_spark.plans.longwindow` operator.
    """

    def __init__(
        self,
        engine: "Engine",  # the core class; annotation-only (no import cycle)
        name: str,
        select_sql: str,
        long_windows: Optional[dict[str, str]] = None,
    ):
        self.engine = engine
        self.name = name
        self.sql_text = select_sql
        #: "deployment" (DEPLOY) vs "procedure" (CREATE PROCEDURE) — the
        #: reference's kReqDeployment / kReqProcedure split
        self.kind = "deployment"
        #: full CREATE PROCEDURE text (sp_info->GetSql())
        self.create_sql = select_sql
        #: const (common) request columns, procedure signatures only
        self.const_cols: list[str] = []
        self.long_windows = dict(long_windows or {})
        self.query = P.parse(select_sql)
        #: compiled request plan (the reference compiles once per DEPLOY,
        #: ``hybridse/src/vm/engine.cc:453-496``; rebuilt here once it is
        #: no longer :meth:`CompiledRequestPlan.current`)
        self._compiled: Optional["CompiledRequestPlan"] = None
        #: parameterized body (`?` placeholders, literal-folded per call):
        #: no single plan to compile, so every serve builds one per call
        self.has_params = any(t.text == "?" for t in P.tokenize(select_sql))
        self.db_name = engine.current_db
        #: output schema, filled by Engine._deploy's validation lowering
        self.output_schema = None
        body = self.query.body
        # the request table may sit under subquery FROMs (`select ... from
        # (select ... from t) as x` — test_create_deploy id 4): descend to
        # the innermost named main table
        sel = _innermost(body)
        if not isinstance(sel, P.Select) or sel.from_ is None or sel.from_.name is None:
            if self.long_windows and not isinstance(body, P.Select):
                # the reference rejects long-window deploys over set-op
                # bodies with its own message
                # (src/sdk/sql_cluster_router.cc long-window validation)
                raise ValueError(
                    "unsupported multi tables with long window options"
                )
            raise ValueError("DEPLOY needs a SELECT with a named main table")
        self.request_table = sel.from_.name
        if self.request_table in {name for name, _ in self.query.ctes}:
            # request rows would bind under a name the WITH shadows
            raise ValueError(
                f"DEPLOY main table {self.request_table!r} is a WITH table; "
                "deploy a SELECT whose main table is a stored table"
            )
        #: schema contract pinned at deploy time (if the table exists)
        t = engine.tables.get(self.request_table)
        self.input_schema = t.schema if t is not None else None

    def _per_call_reason(self) -> Optional[str]:
        """Why engine-store serves build their plan per call, or None when
        they go through the compiled plan (nested types have no staged
        text source)."""
        if self.has_params:
            return "parameterized body"
        if self.input_schema is None:
            return "no request table schema"
        if not _jvm_stageable(self.input_schema):
            return "input schema has nested types"
        return None

    def serving_info(self) -> list[tuple[str, str]]:
        """(item, value) pairs saying how this deployment serves (SHOW
        DEPLOYMENT): per call and why, or the compiled plan's
        :meth:`CompiledRequestPlan.describe`, compiling it if needed."""
        why = self._per_call_reason()
        if why is not None:
            return [("path", f"per call: {why}")]
        try:
            return self._live_plan().describe()
        except Exception as e:  # the first serve raises the same error
            return [("path", f"not compiled: {type(e).__name__}: {e}")]

    def _query_with_params(self, parameters: Optional[Sequence]) -> P.Query:
        """The deployed query, with positional ``?`` placeholders bound to
        ``parameters`` (reference parameterized-query surface: the SDK
        binds a parameter row per execution against the same deployed
        plan; here binding = literal fold + re-parse of the stored text,
        so each call can carry different parameter values)."""
        if parameters is None:
            if self.has_params:
                # without this, the unbound `?` survives lowering and
                # surfaces as Spark's UNBOUND_SQL_PARAMETER analysis error
                # mid-plan — fail at the contract boundary instead
                raise ValueError(
                    f"deployment {self.name!r} is parameterized "
                    f"(? placeholders); pass parameters=[...]"
                )
            return copy.deepcopy(self.query)
        return P.parse(P.substitute_params(self.sql_text, parameters))

    def run_batch(
        self,
        history: Optional[DataFrame] = None,
        parameters: Optional[Sequence] = None,
    ) -> DataFrame:
        """Batch mode = request mode for every stored row: the SQL runs
        unchanged with the main table bound to ``history``."""
        tables = self.engine._table_view()
        if history is not None:
            tables[self.request_table] = history
        return Lowerer(self.engine.spark, tables).query(
            self._query_with_params(parameters), {}
        )

    def run_request(
        self,
        requests: DataFrame,
        history: Optional[DataFrame] = None,
        parameters: Optional[Sequence] = None,
    ) -> DataFrame:
        """Request mode: each request row's window frames see stored
        history + the request row itself, nothing else (RequestUnion
        merge). Request rows must not already be stored in history, same
        as the reference's compute-then-store serving flow.

        The engine-store path (``history=None``, no ``?`` parameters)
        serves eagerly from the compiled plan
        (:class:`CompiledRequestPlan`: planned once, fed the request rows
        plus their key segments per call); an online ``INSERT`` or REST
        ``PUT`` into an indexed table reaches it without a recompile, any
        other write to a table the query reads recompiles it. The other
        calls (:meth:`_per_call_reason`) build their plan per call and
        frame over the whole history."""
        if self.input_schema is not None and requests.schema != self.input_schema:
            raise ValueError(
                f"deployment {self.name!r}: request schema "
                f"{requests.schema.simpleString()} != contract "
                f"{self.input_schema.simpleString()}"
            )
        if history is None and parameters is None and not self._per_call_reason():
            return self._live_plan().serve(requests)
        q = self._query_with_params(parameters)
        return self._run_request_on(q, requests, history)

    def run_request_rows(self, rows: Sequence) -> list:
        """Request mode from DRIVER-SIDE rows (tuples or Rows) — the
        faithful analog of the reference's CallProcedure surface
        (``src/sdk/sql_cluster_router.h:116-190`` binds ONE SQLRequestRow
        per call, not a dataset): rows convert to Spark's Arrow encoding
        on the driver (no Spark job — ``LocalDataToArrowConversion``
        produces bit-identical batches to ``DataFrame.toArrow``), stage
        into the compiled plan, and the serve job is the only job. Returns
        the collected result rows. Falls back to the DataFrame path when
        no compiled plan applies (see :meth:`_per_call_reason`)."""
        rows = list(rows)
        if not self._per_call_reason():
            return self._live_plan().serve_rows(rows)
        return self.run_request(
            self.engine.spark.createDataFrame(rows, self.input_schema)
        ).collect()

    def _live_plan(self) -> CompiledRequestPlan:
        """The compiled plan: the live one, or a fresh compile replacing
        it when a write made it stale."""
        if self._compiled is None or not self._compiled.current():
            self.release_serving()
            self._compiled = CompiledRequestPlan(self)
        return self._compiled

    def _serving_key(self, tables) -> tuple:
        """Staleness token for the compiled plan: the epochs of ``tables``,
        the ones it reads from the store (DML bumps epochs via
        ``Engine._bump_epoch``), plus the TTL pin, execute mode, and
        current db (they shape TTL filters and name resolution)."""
        eng = self.engine
        deps = tuple((eng._loc(t), eng.table_epoch(t)) for t in sorted(tables))
        return (
            deps,
            eng.variables.get("ttl_now_ms"),
            eng.variables.get("execute_mode", "online"),
            eng.current_db,
        )

    def _serving_history(
        self,
        history: Optional[DataFrame],
        staged: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Stored history for request-mode serving — TTL-filtered like every
        other online read (the reference's online storage GCs expired rows
        before serving sees them, so batch and request mode agree).
        ``staged`` (a compiled plan's history segment) stands in for the
        store (:class:`SegmentIndex` says why the filters stay exact).

        DEPLOY-derived absolute indexes (``Engine._auto_index``) additionally
        bound THIS deployment's serving reads: the reference's storage
        iterator skips abs-expired rows on the deployed access path while
        other indexes still serve them, so the filter lives here rather than
        in the table-wide ``_with_ttl``. Applied only when the deployment's
        windows resolve to ONE deploy index — with several, per-path expiry
        cannot be expressed as a single history filter (conservative: skip)."""
        if history is not None:
            return history
        eng = self.engine
        db, bare = eng._loc(self.request_table)
        df = eng.tables[self.request_table] if staged is None else staged
        df = eng._with_ttl(db, bare, df, staged is not None)
        idx = self._deploy_ttl_index()
        if idx is None:
            return df
        from openmldb_spark.catalog import apply_ttl

        now = eng.variables.get("ttl_now_ms")
        return apply_ttl(
            df, idx, now_ms=int(now) if now else None, staged=staged is not None
        )

    def _deploy_ttl_index(self):
        """The DEPLOY-derived absolute index :meth:`_serving_history`
        enforces, or None."""
        eng = self.engine
        db, bare = eng._loc(self.request_table)
        td = eng._db_defs.get(db, {}).get(bare)
        if td is None:
            return None
        wants = set()
        for w in getattr(self.query.body, "windows", {}).values():
            keys = frozenset(
                toks[-1].text
                for toks in ([t for t in k if t.kind == "name"] for k in w.partition_by)
                if toks
            )
            onames = [t.text for t in (w.order_by or []) if t.kind == "name"]
            if keys and onames:
                wants.add((keys, onames[-1]))
        dep_idx = [
            i
            for i in td.indexes
            if i.origin == "deploy"
            and i.ttl
            and i.ts_col
            and (frozenset(i.keys), i.ts_col) in wants
        ]
        return dep_idx[0] if len(dep_idx) == 1 else None

    def _history_from_ref(self, body: "P.Select") -> "P.TableRef":
        """FROM ref binding ``__history`` through the deployed query's own
        FROM pipeline: a subquery FROM (``FROM (SELECT ... FROM t) x``)
        filters/projects history exactly as it does the request rows, so
        frames never see rows the subquery excludes."""
        if body.from_.subquery is None:
            return P.TableRef(
                name="__history", alias=body.from_.alias or body.from_.name
            )
        ref = copy.deepcopy(body.from_)
        sel = _innermost(ref.subquery.body)
        if not sel.from_.alias:
            sel.from_.alias = sel.from_.name
        sel.from_.name = "__history"
        return ref

    def _run_request_on(
        self,
        q: "P.Query",
        requests: DataFrame,
        history: Optional[DataFrame] = None,
        leaves: Optional[dict] = None,
    ) -> DataFrame:
        """Lower ``q`` in request mode: ``requests`` bind the request table,
        and every window over it also frames over the request table's
        history. ``leaves`` (a compiled plan's staged key segments, by
        binding name — ``"__history"`` for that history) stand in for
        their stores."""
        eng = self.engine
        leaves = dict(leaves or {})
        hist = self._serving_history(history, leaves.pop("__history", None))
        # every union is built before any window is rewritten, so no
        # history copy of a subquery carries a rewritten window
        for sel, union_ref in [
            (sel, self._history_union(sel)) for sel in self._request_selects(q)
        ]:
            for w in sel.windows.values():
                # INSTANCE_NOT_IN_WINDOW frames hold no main-table row but
                # the current one, so history stays out of them
                if not w.instance_not_in_window:
                    w.union_tables.append(copy.deepcopy(union_ref))
                w.instance_not_in_window = True
        tables = eng._table_view()
        for name, leaf in leaves.items():
            tables[name] = eng._with_ttl(*eng._loc(name), leaf, True)
        tables[self.request_table] = requests
        tables["__history"] = hist
        return Lowerer(eng.spark, tables).query(q, {})

    def _request_selects(self, q: "P.Query") -> list:
        """The Selects of ``q`` whose windows frame over the request table:
        the body, and each windowed Select whose FROM chain ends at the
        request table that a FROM, JOIN or set-operation arm of it runs."""
        out = []

        def walk(query, top: bool) -> None:
            b = query.body
            if isinstance(b, P.Query):
                return walk(b, top)
            if isinstance(b, P.SetOp):
                walk(b.left, False)
                walk(b.right, False)
                return
            if not isinstance(b, P.Select) or b.from_ is None:
                return
            inner = _innermost(b)
            if b.windows and (top or getattr(inner.from_, "name", None) == self.request_table):
                out.append(b)
            for ref in [b.from_] + [j.table for j in b.joins]:
                if ref is not None and ref.subquery is not None:
                    walk(ref.subquery, False)

        walk(q, True)
        return out

    def _history_union(self, sel: "P.Select") -> "P.TableRef":
        """The relation ``sel``'s windows frame history over: history
        through ``sel``'s own FROM pipeline, then its joins and WHERE when
        the windows run over their output (batch = join then window)."""
        hist_from = self._history_from_ref(sel)
        joins = sel.joins if self._history_joins(sel) else []
        if joins or sel.where is not None:
            hist_sel = P.Select(
                items=[P.SelectItem([], None, star=True)],
                from_=hist_from,
                joins=copy.deepcopy(joins),
                where=copy.deepcopy(sel.where),
            )
            return P.TableRef(subquery=P.Query(hist_sel))
        return hist_from if hist_from.subquery is not None else P.TableRef(name="__history")

    def _join_side_reader(self, body: "P.Select"):
        """Predicate over a token stream: True when it reads a column of a
        join's right side — a bare name only a right side defines, or any
        ref qualified by a join table's name or alias (which also catches
        a right column SHADOWING a request-column name)."""
        req_cols = {f.name for f in (self.input_schema or [])}
        right: set = set()
        aliases: set = set()
        for j in body.joins:
            rdf = self.engine.tables.get(j.table.name) if j.table.name else None
            if rdf is not None:
                right |= set(rdf.columns)
            aliases |= {a for a in (j.table.alias, j.table.name) if a}
        only_right = right - req_cols

        def reads(toks_seq) -> bool:
            toks = list(toks_seq or [])
            if {t.text for t in toks if t.kind == "name"} & only_right:
                return True
            return any(
                t.kind == "name"
                and t.text in aliases
                and k + 2 < len(toks)
                and toks[k + 1].text == "."
                and toks[k + 2].kind == "name"
                for k, t in enumerate(toks)
            )

        return reads

    def _history_joins(self, body: "P.Select") -> bool:
        """Whether request history must flow through the query's joins
        before windowing. A LAST JOIN keeps every left row and adds at most
        one match, so when no window key, order, aggregate argument or the
        WHERE clause reads a joined column, the frames are the same without
        it (history rows then carry NULL joined columns). A column name
        shared with a right side makes the window union match by position,
        so it keeps the join."""
        if not body.joins or not body.windows:
            return False
        if any(j.kind != "last" or j.table.name is None for j in body.joins):
            return True
        req = {f.name.lower() for f in self.input_schema.fields}
        for j in body.joins:
            rdf = self.engine.tables.get(j.table.name)
            if rdf is None or req & {c.lower() for c in rdf.columns}:
                return True
        reads = self._join_side_reader(body)
        streams = [body.where]
        for w in body.windows.values():
            streams += [*w.partition_by, w.order_by]
        for it in body.items:
            if it.over is not None or any(t.upper == "OVER" for t in it.expr):
                streams += [it.expr, *(it.over.args if it.over else [])]
        return any(reads(st) for st in streams)

    def _serving_layout(self) -> tuple[dict, dict]:
        """``(segments, reads)``: the tables a compiled serve reads as staged
        key segments, and the ones it reads from the store, each with why.

        ``segments`` maps a binding name (``"__history"`` for the request
        table's history, else the table name as written) to ``(table,
        keysets, ts, probes, anchors)``: key column sets and sort column,
        the ``(key set index, request columns, via_history)`` probes
        selecting the segment, and the :class:`SegmentIndex` anchors. A
        table is keyed when every reference to it is the history or a
        WINDOW UNION of plain-column windows, or a LAST JOIN right side
        keyed on request columns, with key types matching (no floating
        point) and TTLs exact over a segment."""
        eng = self.engine
        body = self.query.body
        toks = P.tokenize(self.sql_text)
        # every stored table named outside a qualifier: FROM/JOIN/UNION
        # refs, and any a subquery inside an expression reads in full
        refs = Counter(
            t.text
            for t, nxt in zip(toks, toks[1:] + [None])
            if t.kind == "name" and (nxt is None or nxt.text != ".")
        )
        reads = {
            n: "read outside a join or window UNION"
            for n in refs
            if n != self.request_table and n in eng.tables
        }
        plain = isinstance(body, P.Select) and not body.from_.subquery
        if eng._offline_mode or self.query.ctes or not plain or any(
            sel is not body for sel in self._request_selects(self.query)
        ):
            why = "offline execute mode" if eng._offline_mode else (
                "WITH, set operation, subquery FROM or windows in a subquery"
            )
            reads[self.request_table] = why
            return {}, dict.fromkeys(reads, why)
        req = {f.name.lower(): f for f in self.input_schema.fields}
        main = body.from_.bind_name

        def req_col(toks):
            toks = list(toks or [])
            if len(toks) == 3 and toks[0].text == main and toks[1].text == ".":
                toks = toks[2:]
            if len(toks) == 1 and toks[0].kind == "name":
                return req.get(toks[0].text.strip("`").lower())
            return None

        refused: dict = {}
        uses: dict = {}  # binding name -> [(table, keys, ts, probe, via_history)]
        through = self._history_joins(body)
        for w in body.windows.values():
            keys = [req_col(p) for p in w.partition_by]
            unions = [self.request_table] + [
                u.name for u in w.union_tables if u.name and u.name != self.request_table
            ]
            if not keys or None in keys:
                refused.update(dict.fromkeys(unions, "a window key is not a request column"))
                continue
            keys = sorted({f.name for f in keys})
            ts = req_col(w.order_by)
            for name in unions[1:] if w.instance_not_in_window else unions:
                uses.setdefault("__history" if name == self.request_table else name, []).append(
                    (name, keys, ts and ts.name, keys, False)
                )
        for j in body.joins:
            r = j.table.name
            if not r or r == self.request_table:
                continue
            pairs = Lowerer._equi_right_keys(j.on or [], j.table.bind_name)[0]
            left = [req_col(lt) for lt, _ in pairs]
            if j.kind != "last" or not pairs or None in left:
                refused[r] = "not a LAST JOIN keyed on request columns"
                continue
            pairs = sorted((rc, f.name) for (_, rc), f in zip(pairs, left))
            ob = [t for t in (j.order_by or [[]])[0] if t.upper not in ("ASC", "DESC")]
            ts = ob[-1].text if len(ob) in (1, 3) and ob[-1].kind == "name" else None
            uses.setdefault(r, []).append(
                (r, [k for k, _ in pairs], ts, [c for _, c in pairs], through)
            )
        ints = ("tinyint", "smallint", "int", "bigint")
        segments: dict = {}
        for name, us in uses.items():
            table = us[0][0]
            store = eng.tables.get(table)
            types = {f.name.lower(): f for f in store.schema.fields} if store else {}
            why = refused.get(table)
            if why is None and name != "__history" and refs[name] != len(us):
                why = "also read outside a join or window UNION"
            keysets, probes = [], []
            for _, keys, _, probe, via in us if why is None else ():
                for k, p in zip(keys, probe):
                    kt = types[k.lower()].dataType.simpleString() if k.lower() in types else None
                    pt = req[p.lower()].dataType.simpleString()
                    if kt is None or kt in ("float", "double") or kt != pt and not (
                        kt in ints and pt in ints
                    ):
                        why = f"key {k} ({kt}) cannot probe with {p} ({pt})"
                ks = [types[k.lower()].name for k in keys if k.lower() in types]
                keysets += [ks] if ks not in keysets else []
                probes.append((keysets.index(ks), probe, via))
            if why is None and any(via for *_, via in probes) and "__history" not in segments:
                why = "history flows through this join from the store"
            if why is None:
                anchors = self._ttl_anchors(table, name == "__history", keysets)
                if anchors is None:
                    why = "a latest-N TTL keyed by other columns"
            if why is not None:
                refused[table] = why
                continue
            ts = types.get((us[0][2] or "").lower())
            segments[name] = (table, keysets, ts and ts.name, probes, anchors)
        reads.update(refused)
        for table, *_ in segments.values():
            reads.pop(table, None)
        return segments, reads

    def _ttl_anchors(self, table: str, history: bool, keysets) -> Optional[list]:
        """The ts columns to anchor (:class:`SegmentIndex`) so the TTL
        filters read over ``table``'s segments keep the store's rows, or
        None when a latest-N TTL partitions by columns that do not include
        every key set (its ranks then count rows of other segments)."""
        eng = self.engine
        idxs = [eng._ttl_index(*eng._loc(table))]
        if history:
            idxs.append(self._deploy_ttl_index())
        anchors = []
        for idx in filter(None, idxs):
            t = idx.ttl_type.lower()
            part = {k.lower() for k in idx.keys}
            if t != "absolute" and any({k.lower() for k in ks} - part for ks in keysets):
                return None
            if t != "latest" and not eng.variables.get("ttl_now_ms"):
                anchors.append(idx.ts_col)
        return anchors

    # -- batch-request common-column optimization (SURVEY §4.1) -------------
    def _item_out_name(self, it) -> str:
        from openmldb_spark.sql.lowering import _derived_name

        return it.alias or _derived_name(it.expr)

    def _item_cols(self, body, it) -> set:
        """Request-table columns an item's computation depends on: its expr
        tokens plus, for window items, the window's keys/order and the
        aggregate arguments."""
        req_cols = (
            {f.name for f in self.input_schema.fields}
            if self.input_schema is not None
            else set()
        )
        toks = list(it.expr)
        if it.over is not None:
            for a in it.over.args:
                toks += list(a)
            w = body.windows.get(it.over.window)
            if w is not None:
                for p in w.partition_by:
                    toks += list(p)
                if w.order_by:
                    toks += list(w.order_by)
        return {t.text for t in toks if t.kind == "name" and t.text in req_cols}

    def run_batch_request(
        self,
        requests: DataFrame,
        common_columns: Sequence[str],
        history: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Request-batch execution with the reference's common-column
        optimization (``hybridse/src/vm/batch_request_optimize.h:40-56``,
        ``test_batch_request.yaml``): ``common_columns`` are constant across
        the batch, so every select item whose inputs (expr + its window's
        keys/order/aggregate args) are all common produces the SAME value
        for every request row. Those items are computed ONCE on a single
        representative row and broadcast-joined back; only the non-common
        items run over the full batch.

        At scale this turns a batch of B requests sharing an expensive
        window into 1 window evaluation + a broadcast of its scalar
        outputs, instead of B frame evaluations — exactly the reference's
        BatchRequestOptimize contract. Falls back to the plain vectorized
        request path when nothing is common."""
        common = set(common_columns)
        body = self.query.body
        if not common:
            return self.run_request(requests, history)

        cls = self._classify_common(common)
        if cls is None:
            return self.run_request(requests, history)
        common_idx, noncommon_idx = cls

        if not common_idx:
            return self.run_request(requests, history)

        names = [self._item_out_name(it) for it in body.items]

        def sub_query(keep: list) -> "P.Query":
            q = self._query_with_params(None)
            q.body.items = [q.body.items[i] for i in keep]
            return q

        one = requests.limit(1)
        common_df = self._run_request_on(sub_query(common_idx), one, history)
        if not noncommon_idx:
            out = requests.select().crossJoin(F.broadcast(common_df))
        else:
            non_df = self._run_request_on(
                sub_query(noncommon_idx), requests, history
            )
            out = non_df.crossJoin(F.broadcast(common_df))
        return out.select(*names)

    def _classify_common(
        self, common: set
    ) -> Optional[tuple[list[int], list[int]]]:
        """Classify select items under the batch-request optimizer's rules
        (``hybridse/src/vm/batch_request_optimize.h:40-56``): returns
        ``(common_item_indices, noncommon_item_indices)``, or ``None`` when
        the whole batch must fall back to per-row execution (the WHERE
        verdict depends on a non-common request column). Also the source of
        the OUTPUT-side constant flags the reference's procedure/deployment
        serving surface reports (``sdk::Schema::IsConstant``): an output is
        constant iff its item classifies common here."""
        body = self.query.body
        req_cols_all = (
            {f.name for f in self.input_schema.fields}
            if self.input_schema is not None
            else set()
        )
        where_req = {
            t.text
            for t in (body.where or [])
            if t.kind == "name" and t.text in req_cols_all
        }
        if not where_req <= common:
            # the WHERE verdict depends on non-common request columns, so
            # row survival — and with it every item value — is per-row;
            # a single representative row cannot stand in for the batch
            return None

        # columns the right sides of joins contribute (not request columns):
        # common only if every request-side join input is common —
        # otherwise the joined-in values are per-row (conservative: one
        # non-common join input makes ALL joined columns non-common)
        join_common = True
        for j in body.joins:
            jtoks = list(j.on or [])
            for ob in j.order_by or []:
                jtoks += list(ob)
            need = {t.text for t in jtoks if t.kind == "name" and t.text in req_cols_all}
            if not need <= common:
                join_common = False
        _refs_join_side = self._join_side_reader(body)

        common_idx, noncommon_idx = [], []
        for idx, it in enumerate(body.items):
            if it.star:
                noncommon_idx.append(idx)
                continue
            cols = self._item_cols(body, it)
            uses_join_col = _refs_join_side(it.expr)
            if it.over is not None:
                # a window item may aggregate joined-in columns
                for a in it.over.args:
                    uses_join_col |= _refs_join_side(a)
            ok = cols <= common and (not uses_join_col or join_common)
            (common_idx if ok else noncommon_idx).append(idx)

        return common_idx, noncommon_idx

    def release_serving(self) -> None:
        """Free the compiled request plan's staged directory and indexes —
        called from every drop path and before a recompile."""
        if self._compiled is not None:
            self._compiled.release()
            self._compiled = None
