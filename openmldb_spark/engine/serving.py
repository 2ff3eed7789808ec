"""The SqlDeployment serving object: request mode, batch-request
optimization, long-window pre-agg serving, and the compiled request-plan
cache (the Spark analog of the reference's per-DEPLOY compiled-plan cache,
``hybridse/src/vm/engine.cc:453-496``)."""

from __future__ import annotations

import copy
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openmldb_spark.sql import parser as P
from openmldb_spark.sql.lowering import Lowerer

from openmldb_spark.engine.compiled import CompiledRequestPlan, _jvm_stageable
from openmldb_spark.engine.preagg_serving import PreaggServing


class SqlDeployment(PreaggServing):
    """A deployed SELECT: named, schema-contracted, two execution modes
    (see module docstring).

    ``long_windows`` ({window_name: bucket interval, e.g. 'w1': '1h'}) is
    the reference's ``OPTIONS(long_windows=...)`` — eligible windows
    (ROWS_RANGE, plain keys/order, single-column sum/count/avg/min/max,
    no EXCLUDE/MAXSIZE/UNION; ``long_window_optimized.cc
    VerifySingleAggregation``) are served from a materialized pre-agg
    table via :meth:`prepare_preagg` + :meth:`run_request_preagg`.
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
        self._preagg: dict[tuple[str, str], DataFrame] = {}
        #: provenance of the cached pre-agg: ("tbl", epoch, ttl_pin) when
        #: built from the engine store, or a STRONG reference to the
        #: explicit history DataFrame (identity-compared; a raw id() could
        #: be reused by a new object after GC — r9 review finding) —
        #: checked on every prepare_preagg so DML invalidates the cache
        self._preagg_src: Optional[tuple] = None
        self._preagg_hist: Optional[DataFrame] = None
        #: compiled request plan (the reference compiles once per DEPLOY,
        #: ``hybridse/src/vm/engine.cc:453-496``; rebuilt here when
        #: :meth:`_serving_key` changes — DML epochs / TTL pin / mode —
        #: except for INSERTs it absorbs into its append log)
        self._compiled: Optional["CompiledRequestPlan"] = None
        #: escape hatch: False forces the per-call plan-build path
        self.use_compiled = True
        #: parameterized body (`?` placeholders): binding happens by
        #: literal-folding into the text per call, so there is no single
        #: plan to compile — every serving surface must take the
        #: per-call build path (same check deploy-time schema inference
        #: uses, engine/deploy.py)
        self.has_params = any(t.text == "?" for t in P.tokenize(select_sql))
        self.db_name = engine.current_db
        #: output schema, filled by Engine._deploy's validation lowering
        self.output_schema = None
        body = self.query.body
        # the request table may sit under subquery FROMs (`select ... from
        # (select ... from t) as x` — test_create_deploy id 4): descend to
        # the innermost named main table
        sel = body
        while (
            isinstance(sel, P.Select)
            and sel.from_ is not None
            and sel.from_.name is None
            and sel.from_.subquery is not None
        ):
            sel = sel.from_.subquery.body
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
        #: schema contract pinned at deploy time (if the table exists)
        t = engine.tables.get(self.request_table)
        self.input_schema = t.schema if t is not None else None

    def _serves_compiled(self) -> bool:
        """Whether engine-store serves go through the compiled plan. A
        parameterized body has no single plan, and an input schema the
        staged text source cannot round-trip (nested types) has no staged
        source; both take the per-call path."""
        return (
            self.use_compiled
            and not self.has_params
            and self.input_schema is not None
            and _jvm_stageable(self.input_schema)
        )

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
        serves from the COMPILED request plan: the SQL is parsed, lowered,
        and analyzed once per deployment (against a staged request
        source), and each call only swaps the staged rows — the Spark
        analog of the reference compiling once per DEPLOY and binding rows
        per call (``engine.cc:453-496``, ``sql_cluster_router.h:116-190``
        CallProcedure). An online ``INSERT … VALUES`` into the request
        table is written through to the plan's append log, so the next
        call sees the row without recompiling. Any other write to a table
        the query reads (DELETE, TRUNCATE, LOAD DATA, register, an INSERT
        into a join-side or UNION table, an offline-mode INSERT, or one
        that would overflow the log) bumps its epoch and the next call
        recompiles. Explicit-history and parameterized calls, and input
        schemas with nested types, build their plan per call.

        r13: compiled serves are EAGER — the serve runs (stage + collect)
        under the deployment's plan lock and the returned DataFrame is a
        driver-local snapshot of the result (job-free to collect), so
        concurrent ``run_request`` calls on one deployment cannot serve
        each other's staged rows. Driver-local request plans
        (arrow/pandas-created frames) stage without any extra Spark job;
        RDD-backed frames pay one ``toArrow`` evaluation job."""
        if self.input_schema is not None and requests.schema != self.input_schema:
            raise ValueError(
                f"deployment {self.name!r}: request schema "
                f"{requests.schema.simpleString()} != contract "
                f"{self.input_schema.simpleString()}"
            )
        if history is None and parameters is None and self._serves_compiled():
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
        no compiled plan applies (see :meth:`_serves_compiled`)."""
        rows = list(rows)
        if self._serves_compiled():
            return self._live_plan().serve_rows(rows)
        return self.run_request(
            self.engine.spark.createDataFrame(rows, self.input_schema)
        ).collect()

    def _live_plan(self) -> CompiledRequestPlan:
        """The compiled plan for the current serving key: the live one,
        or a fresh compile replacing it when a write made it stale."""
        key = self._serving_key()
        if self._compiled is None or self._compiled.key != key:
            self._release_compiled()
            self._compiled = CompiledRequestPlan(self, key)
        return self._compiled

    def _serving_key(self) -> tuple:
        """Staleness token for the compiled plan: the epoch of EVERY table
        the deployed query reads (main + join sides + window unions +
        subqueries — DML bumps epochs via ``Engine._bump_epoch``), plus the
        TTL pin, execute mode, and current db (they shape
        ``_serving_history`` / name resolution)."""
        eng = self.engine
        deps = tuple(
            (eng._loc(t), eng.table_epoch(t))
            for t in sorted(self._query_table_names())
        )
        return (
            deps,
            eng.variables.get("ttl_now_ms"),
            eng.variables.get("execute_mode", "online"),
            eng.current_db,
        )

    def _query_table_names(self) -> set:
        """Every table name the deployed query references (recursing into
        subqueries, set-op arms, CTE bodies, and window UNION tables)."""
        names: set = set()

        def walk_q(q):
            for _, cq in getattr(q, "ctes", None) or []:
                walk_q(cq)
            walk_b(q.body)

        def walk_b(b):
            if not isinstance(b, P.Select):  # SetOp
                walk_q(b.left)
                walk_q(b.right)
                return
            for ref in [b.from_] + [j.table for j in b.joins]:
                walk_ref(ref)
            for w in (b.windows or {}).values():
                for ref in w.union_tables:
                    walk_ref(ref)

        def walk_ref(ref):
            if ref is None:
                return
            if ref.name:
                names.add(ref.name)
            if ref.subquery is not None:
                walk_q(ref.subquery)

        walk_q(self.query)
        return names

    def _absorbing_plan(self, loc: tuple, schema) -> Optional[tuple]:
        """``(plan, key)`` when an online INSERT into table ``loc`` (a
        ``(db, bare)`` pair) can be written through to this deployment's
        live compiled plan (:meth:`CompiledRequestPlan.absorb`), ``key``
        being the pre-insert serving key the plan still holds. None — the
        insert then recompiles the plan, as any write does — when there is
        no live plan, its key is stale, the rows do not have the input
        schema, or ``loc`` is not the request table. The query must name
        that table only as ``request_table``: every such reference binds
        to the staged request source, so the plan reads the store only
        through :meth:`_serving_history`, where the log is."""
        plan = self._compiled
        if plan is None or schema != self.input_schema:
            return None
        eng = self.engine
        names = [n for n in self._query_table_names() if eng._loc(n) == loc]
        if names != [self.request_table]:
            return None
        key = self._serving_key()
        return (plan, key) if plan.key == key else None

    def _release_compiled(self) -> None:
        if self._compiled is not None:
            self._compiled.release()
            self._compiled = None

    def _serving_history(
        self,
        history: Optional[DataFrame],
        appended: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Stored history for request-mode serving — TTL-filtered like every
        other online read (the reference's online storage GCs expired rows
        before serving sees them, so batch and request mode agree).
        ``appended`` (a compiled plan's append log) joins the store BEFORE
        the filters, so absorbed INSERTs expire exactly like stored rows
        (``apply_ttl`` evaluates its bound when the serve runs).

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
        df = eng.tables[self.request_table]
        if appended is not None:
            df = df.unionByName(appended)
        df = eng._with_ttl(db, bare, df)
        td = eng._db_defs.get(db, {}).get(bare)
        if td is None:
            return df
        wants = set()
        for w in self.query.body.windows.values():
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
        if len(dep_idx) == 1:
            from openmldb_spark.catalog import apply_ttl

            now = eng.variables.get("ttl_now_ms")
            df = apply_ttl(df, dep_idx[0], now_ms=int(now) if now else None)
        return df

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
        sel = ref.subquery.body
        while (
            isinstance(sel, P.Select)
            and sel.from_ is not None
            and sel.from_.name is None
            and sel.from_.subquery is not None
        ):
            sel = sel.from_.subquery.body
        if not sel.from_.alias:
            sel.from_.alias = sel.from_.name
        sel.from_.name = "__history"
        return ref

    def _prune_history_to_request_keys(
        self, hist: DataFrame, requests: DataFrame, body: "P.Select"
    ) -> DataFrame:
        """Serving-path analog of the reference's index lookup: a request
        row's frames only ever contain history rows whose window partition
        key equals the request's (the tablet reads ONE pk segment,
        ``src/storage/mem_table.cc`` iterators) — so history is
        pre-filtered with a broadcast join on the DISTINCT request key
        tuples before the window-union plan is built. At sf0.01 this turns
        a ~150k-row scan per request into ~window-size rows; at 100 TB it
        is the difference between serving and a full table scan per call.

        Applied only when provably safe: every window partitions by plain
        request-table columns (no subquery FROM rewiring the columns, no
        join-side shadowing); null keys match null-safely (null-key
        history rows DO share a frame with a null-key request). Zero
        driver actions — the key sides stay DataFrames."""
        import functools

        if body.from_.subquery is not None or not body.windows:
            return hist
        req_cols = set(requests.columns)
        join_cols: set = set()
        for j in body.joins:
            rdf = self.engine.tables.get(j.table.name) if j.table.name else None
            if rdf is None:
                return hist  # unresolvable join side: stay conservative
            join_cols |= set(rdf.columns)
        keysets = set()
        for w in body.windows.values():
            names = []
            for ktoks in w.partition_by:
                toks = list(ktoks)
                # plain column only — `c` or `alias.c`. An EXPRESSION key
                # (c1 % 10, substr(c1, ...)) groups DIFFERENT column
                # values into one frame, so pruning on the operand column
                # would drop frame members (r9 review finding): skip.
                if len(toks) == 1 and toks[0].kind == "name":
                    nm = toks[0].text
                elif (
                    len(toks) == 3
                    and toks[0].kind == "name"
                    and toks[1].text == "."
                    and toks[2].kind == "name"
                ):
                    nm = toks[2].text
                else:
                    return hist
                if nm not in req_cols or nm in join_cols:
                    return hist
                names.append(nm)
            if not names:
                return hist  # an unkeyed window frames over everything
            keysets.add(tuple(sorted(set(names))))
        out, markers = hist, []
        for i, ks in enumerate(sorted(keysets)):
            marker = f"__rq_m{i}"
            kdf = (
                requests.select(*ks).distinct()
                .select(
                    *[F.col(c).alias(f"__rqk{i}_{c}") for c in ks],
                    F.lit(1).alias(marker),
                )
            )
            on = functools.reduce(
                lambda a, b: a & b,
                [F.col(c).eqNullSafe(F.col(f"__rqk{i}_{c}")) for c in ks],
            )
            out = out.join(F.broadcast(kdf), on, "left").drop(
                *[f"__rqk{i}_{c}" for c in ks]
            )
            markers.append(marker)
        keep = functools.reduce(
            lambda a, b: a | b, [F.col(m).isNotNull() for m in markers]
        )
        return out.filter(keep).drop(*markers)

    def _run_request_on(
        self,
        q: "P.Query",
        requests: DataFrame,
        history: Optional[DataFrame] = None,
        appended: Optional[DataFrame] = None,
    ) -> DataFrame:
        hist = self._serving_history(history, appended)
        body = q.body
        hist = self._prune_history_to_request_keys(hist, requests, body)
        hist_from = self._history_from_ref(body)
        if body.joins or body.where is not None:
            # the window runs over the POST-join/filter relation (batch =
            # join then window), so the history side must flow through the
            # same joins/filters for schemas and semantics to line up
            hist_sel = P.Select(
                items=[P.SelectItem([], None, star=True)],
                from_=hist_from,
                joins=copy.deepcopy(body.joins),
                where=copy.deepcopy(body.where),
            )
            union_ref = P.TableRef(subquery=P.Query(hist_sel))
        elif hist_from.subquery is not None:
            union_ref = hist_from
        else:
            union_ref = P.TableRef(name="__history")
        for w in body.windows.values():
            w.union_tables.append(copy.deepcopy(union_ref))
            w.instance_not_in_window = True
        tables = self.engine._table_view()
        tables[self.request_table] = requests
        tables["__history"] = hist
        return Lowerer(self.engine.spark, tables).query(q, {})

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
        request path when nothing (or everything) is common.
        """
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
        join_right_names: set = set()
        req_cols = (
            {f.name for f in self.input_schema.fields}
            if self.input_schema is not None
            else set()
        )
        join_aliases: set = set()
        for j in body.joins:
            jtoks = list(j.on or [])
            for ob in j.order_by or []:
                jtoks += list(ob)
            need = {t.text for t in jtoks if t.kind == "name" and t.text in req_cols}
            if not need <= common:
                join_common = False
            rdf = self.engine.tables.get(j.table.name) if j.table.name else None
            if rdf is not None:
                join_right_names |= set(rdf.columns)
            if j.table.alias:
                join_aliases.add(j.table.alias)
            if j.table.name:
                join_aliases.add(j.table.name)

        def _refs_join_side(toks_seq) -> bool:
            """True if a token stream references the join side: a bare name
            that only the right side defines, or any alias-qualified ref
            ``t1.c`` whose qualifier names a join table — the latter catches
            right-side columns that SHADOW a request-column name (bare-name
            set difference would miss them)."""
            toks = list(toks_seq)
            names = {t.text for t in toks if t.kind == "name"}
            if names & (join_right_names - req_cols):
                return True
            for k, t in enumerate(toks):
                if (
                    t.kind == "name"
                    and t.text in join_aliases
                    and k + 2 < len(toks)
                    and toks[k + 1].text == "."
                    and toks[k + 2].kind == "name"
                ):
                    return True
            return False

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
        """Free every cached serving resource (persisted pre-agg buckets +
        the compiled request plan's staged directory) — called from all
        drop paths."""
        self._release_preagg()
        self._release_compiled()
