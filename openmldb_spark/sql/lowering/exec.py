"""The structural executor of the SQL lowering layer: ``Lowerer``
(parsed query -> DataFrame) with its select / join / window / set-op
walkers, and the ``sql()`` convenience entry — split out of the former
single-module ``sql/lowering.py`` (r9). The public import surface is
``openmldb_spark/sql/lowering/__init__.py``.
"""

from __future__ import annotations


import copy
import itertools
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from openmldb_spark.operators.last_join import lower_last_join
from openmldb_spark.operators.window import WindowDef, window_agg
from openmldb_spark.sql import parser as P
from openmldb_spark.sql.parser import Join, Query, Select, SelectItem, SetOp, TableRef, Tok, WindowClause
from openmldb_spark.sql.rewrite import rewrite_expr


from openmldb_spark.sql.lowering.aggs import _AGGS, _SPARK_AGG_HEADS, _build_agg, _split_embedded_overs, _split_nested_aggs
from openmldb_spark.sql.lowering.shape import (  # noqa: F401
    _ambiguous_qualifiers,
    _depth_at,
    _dequalify,
    _derived_name,
    _needs_structural_group,
    _qualify_bare,
    _struct_eq,
)


# ---------------------------------------------------------------------------
# lowering
# ---------------------------------------------------------------------------

_view_counter = itertools.count()


class Lowerer:
    def __init__(
        self,
        spark: SparkSession,
        tables: Optional[dict[str, DataFrame]] = None,
    ):
        self.spark = spark
        # keep the caller's mapping as-is: the engine passes a lazy
        # TTL-resolving view, and a dict() copy would materialize it whole
        self.tables = tables if tables is not None else {}

    # -- name resolution ----------------------------------------------------
    def resolve(self, name: str, env: dict[str, DataFrame]) -> DataFrame:
        if name in env:
            return env[name]
        if name in self.tables:
            return self.tables[name]
        return self.spark.table(name)

    def table_ref(self, ref: TableRef, env: dict[str, DataFrame]) -> DataFrame:
        if ref.subquery is not None:
            df = self.query(ref.subquery, env)
        else:
            df = self.resolve(ref.name, env)
        bind = ref.bind_name
        return df.alias(bind) if bind else df

    # -- query / set ops ----------------------------------------------------
    def query(self, q: Query, env: dict[str, DataFrame]) -> DataFrame:
        env = dict(env)
        for name, cq in q.ctes:
            env[name] = self.query(cq, env)
        df = self.body(q.body, env)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def body(self, b: object, env: dict[str, DataFrame]) -> DataFrame:
        if isinstance(b, Query):
            # parenthesized query as a set-operation arm / whole body
            return self.query(b, env)
        if isinstance(b, SetOp):
            left = self.query(b.left, env)
            right = self.query(b.right, env)
            if b.op == "union":
                out = left.union(right)  # positional, like SQL
                return out if b.all else out.distinct()
            if b.op == "except":
                # reference parses EXCEPT/INTERSECT but only executes UNION
                # (SetOperationPlan.scala:25-27) — free upgrade here
                return left.exceptAll(right) if b.all else left.subtract(right)
            if b.op == "intersect":
                return left.intersectAll(right) if b.all else left.intersect(right)
            raise ValueError(f"unknown set op {b.op!r}")
        assert isinstance(b, Select)
        return self.select(b, env)

    # -- SELECT dispatch ----------------------------------------------------
    def select(self, sel: Select, env: dict[str, DataFrame]) -> DataFrame:
        structural = bool(sel.windows) or any(j.kind == "last" for j in sel.joins)
        if structural:
            return self._select_structural(sel, env)
        if _needs_structural_group(sel):
            # dialect aggregates with no SQL-text spelling (*_cate, top,
            # top_n_*, topn_frequency, ...) in GROUP BY context: evaluate
            # the FROM/JOIN/WHERE part as text, then group structurally
            # via the AggSpec.group lowerings
            base = copy.deepcopy(sel)
            base.items = [SelectItem([], None, star=True)]
            base.group_by, base.having = [], None
            base.limit, base.distinct = None, False
            df = self._select_text(base, env)
            return self._group_structural(df, sel)
        return self._select_text(sel, env)

    def _group(self, df: DataFrame, sel: Select) -> DataFrame:
        """The GROUP BY stage of ``sel`` over ``df``, its already-joined
        and filtered FROM relation: the structural lowering for dialect
        aggregates, else the select list re-rendered as text over ``df``.
        Alias qualifiers don't survive the relation, so qualified refs are
        stripped — legal when the bare name is unambiguous in ``df``."""
        if _needs_structural_group(sel):
            return self._group_structural(df, sel)
        cols = df.columns
        g = copy.copy(sel)
        g.items = [
            SelectItem([], None, star=True) if it.star else SelectItem(
                _dequalify(it.expr, cols), it.alias or _derived_name(it.expr)
            )
            for it in sel.items
        ]
        g.from_, g.joins, g.where = TableRef(name="__omsql_joined"), [], None
        g.group_by = [_dequalify(k, cols) for k in sel.group_by]
        if sel.having is not None:
            g.having = _dequalify(sel.having, cols)
        return self._select_text(g, {"__omsql_joined": df})

    def _group_structural(self, df: DataFrame, sel: Select) -> DataFrame:
        """GROUP BY with dialect aggregates, lowered onto
        ``df.groupBy(...).agg(...)`` via the AggSpec ``group`` builders —
        one hash-aggregate shuffle, map-side partial combine, same plan
        shape Catalyst gives text-path aggregation (reference: full-table
        *_cate / top_n_* aggregation, test_full_table.yaml)."""
        gen = itertools.count()
        cols = df.columns
        keys = []
        for i, g in enumerate(sel.group_by):
            nm = None
            if all(t.kind == "name" or t.text == "." for t in g) and g[-1].kind == "name":
                nm = g[-1].text
            keys.append(
                F.expr(rewrite_expr(_dequalify(g, cols))).alias(nm or f"__gk{i}")
            )
        aggs: dict[str, "A.AggSpec"] = {}
        residuals: list[list[Tok]] = []
        names: list[str] = []
        for it in sel.items:
            if it.star:
                raise ValueError(
                    "SELECT * is not valid with GROUP BY dialect aggregates"
                )
            residual, subs = _split_nested_aggs(_dequalify(it.expr, cols), gen)
            aggs.update(subs)
            residuals.append(residual)
            names.append(it.alias or _derived_name(it.expr))
        hav = None
        if sel.having is not None:
            hav, subs = _split_nested_aggs(_dequalify(sel.having, cols), gen)
            aggs.update(subs)
        agg_cols = []
        for nm, spec in aggs.items():
            if spec.group is None:
                raise ValueError(
                    f"aggregate {spec.name!r} is not supported in GROUP BY"
                )
            agg_cols.append(spec.group(spec.fields).alias(nm))
        gdf = df.groupBy(*keys).agg(*agg_cols)
        if hav is not None:
            gdf = gdf.filter(F.expr(rewrite_expr(hav)))
        out = gdf.select(
            *[F.expr(rewrite_expr(r)).alias(nm) for r, nm in zip(residuals, names)]
        )
        if sel.distinct:
            out = out.distinct()
        if sel.limit is not None:
            out = out.limit(sel.limit)
        return out

    # -- text path: re-render standard SQL, let Catalyst do everything ------
    def _view(self, df: DataFrame, views: list[str]) -> str:
        name = f"__omsql_v{next(_view_counter)}"
        df.createOrReplaceTempView(name)
        views.append(name)
        return name

    def _sql(self, parts: list[str], views: list[str]) -> DataFrame:
        """Run re-rendered SQL, then drop the temp views it reads: the
        analyzed DataFrame keeps their plans, so the session catalog does
        not grow with every statement a long-lived engine lowers. The views
        go through the session catalog itself, because
        ``spark.catalog.dropTempView`` also uncaches the DataFrame a view
        names, and a registered table may be a cached one."""
        try:
            return self.spark.sql("\n".join(parts))
        finally:
            catalog = self.spark._jsparkSession.sessionState().catalog()
            for name in views:
                catalog.dropTempView(name)

    def _select_text(self, sel: Select, env: dict[str, DataFrame]) -> DataFrame:
        parts: list[str] = ["SELECT"]
        views: list[str] = []
        if sel.distinct:
            parts.append("DISTINCT")
        items = []
        for it in sel.items:
            if it.star:
                items.append(f"{it.star_qualifier}.*" if it.star_qualifier else "*")
                continue
            txt = rewrite_expr(it.expr)
            if it.alias:
                txt += f" AS `{it.alias}`"
            items.append(txt)
        parts.append(", ".join(items))
        if sel.from_ is not None:
            parts.append("FROM " + self._from_sql(sel.from_, env, views))
            for j in sel.joins:
                kw = {
                    "left": "LEFT JOIN", "inner": "JOIN",
                    "right": "RIGHT JOIN", "full": "FULL JOIN",
                }[j.kind]
                parts.append(f"{kw} {self._from_sql(j.table, env, views)}")
                if j.on is not None:
                    parts.append("ON " + rewrite_expr(j.on))
        if sel.where is not None:
            parts.append("WHERE " + rewrite_expr(sel.where))
        if sel.group_by:
            parts.append("GROUP BY " + ", ".join(rewrite_expr(g) for g in sel.group_by))
        if sel.having is not None:
            parts.append("HAVING " + rewrite_expr(sel.having))
        if sel.limit is not None:
            parts.append(f"LIMIT {sel.limit}")
        return self._sql(parts, views)

    def _from_sql(self, ref: TableRef, env: dict[str, DataFrame], views: list[str]) -> str:
        """Render a FROM/JOIN operand, registering the resolved DataFrame as
        a temp view so the re-rendered SQL can name it."""
        if ref.subquery is not None:
            view = self._view(self.query(ref.subquery, env), views)
            bind = ref.alias or view
            return f"{view} AS `{bind}`"
        view = self._view(self.resolve(ref.name, env), views)
        return f"{view} AS `{ref.bind_name}`"

    # -- structural path ----------------------------------------------------
    def _select_structural(self, sel: Select, env: dict[str, DataFrame]) -> DataFrame:
        if sel.from_ is None:
            raise ValueError("structural SELECT requires a FROM table")
        if sel.group_by and sel.windows:
            raise NotImplementedError(
                "GROUP BY and WINDOW in one SELECT is not in the dialect"
            )
        df = self.table_ref(sel.from_, env)
        from_cols = set(df.columns)
        # dialect name resolution: a bare column name that exists on several
        # join inputs resolves to the LEFT-MOST table (the reference binds
        # in FROM order; test_lastjoin_complex.yaml ids 9/11/14 — Spark
        # would raise AMBIGUOUS_REFERENCE). Collect (alias, columns) in
        # FROM order and qualify ambiguous bare names in every expression.
        sources: list[tuple[Optional[str], set]] = [
            (sel.from_.bind_name, set(df.columns))
        ]
        for j in sel.joins:
            jdf = self.table_ref(j.table, env)
            sources.append((j.table.bind_name, set(jdf.columns)))
            df = self._join(df, j, env, sel)
        if len(sources) > 1:
            qual = _ambiguous_qualifiers(sources)
            if qual:
                for it in sel.items:
                    if not it.star:
                        it.expr = _qualify_bare(it.expr, qual)
                if sel.where is not None:
                    sel.where = _qualify_bare(sel.where, qual)
                for w in sel.windows.values():
                    w.partition_by = [_qualify_bare(p, qual) for p in w.partition_by]
                    if w.order_by is not None:
                        w.order_by = _qualify_bare(w.order_by, qual)
        if sel.where is not None:
            df = df.filter(F.expr(rewrite_expr(sel.where)))

        if sel.group_by:
            return self._group(df, sel)

        base_cols = list(df.columns)

        # group over-calls per window, apply window ops one window at a time
        gen = itertools.count()
        out_names: dict[int, str] = {}  # select-item index -> appended col
        composite: dict[int, list[Tok]] = {}  # item index -> residual tokens
        per_window: dict[str, dict[str, "A.AggSpec"]] = {}
        for idx, it in enumerate(sel.items):
            if it.over is None:
                if sel.windows and not it.star:
                    residual, per_w = _split_embedded_overs(it.expr, gen, sel.windows)
                    if per_w:
                        for wname2, aggs2 in per_w.items():
                            per_window.setdefault(wname2, {}).update(aggs2)
                        composite[idx] = residual
                continue
            if it.over.window not in sel.windows:
                raise ValueError(f"unknown window {it.over.window!r}")
            if it.over.func.strip("`") in _AGGS or it.over.func.strip("`") == "count":
                name = f"__omsqlw_{next(gen)}"
                out_names[idx] = name
                per_window.setdefault(it.over.window, {})[name] = _build_agg(it.over)
                continue
            # composite: a scalar expression wrapping nested aggregates —
            # `identity(case when lag(..) .. then distinct_count(..) ..)
            # OVER w` (fz_sql shape). Each nested aggregate becomes its own
            # window column; the scalar shell evaluates in the final
            # projection.
            # it.expr still carries the trailing `OVER wname` (parser keeps
            # the full slice); _extract_over guarantees it's the last two
            # tokens
            residual, subaggs = _split_nested_aggs(it.expr[:-2], gen)
            if not subaggs:
                # no DIALECT aggregate inside: a deterministic row-scalar
                # is window-invariant, so the OVER is a no-op — evaluate
                # per row (`join(split(c1, ""), "") OVER w1`,
                # test_feature_zero_function id 5; an unknown function
                # still fails resolution in the projection). But a head
                # that is a SPARK aggregate (stddev, collect_list, ...)
                # is a mis-typed window aggregate, not a row scalar —
                # falling through would raise a confusing downstream
                # AnalysisException or, in an all-aggregate select list,
                # silently become a global aggregate (ADVICE r8): keep
                # the dialect error.
                if it.over.func.strip("`").lower() in _SPARK_AGG_HEADS:
                    raise ValueError(
                        f"aggregate {it.over.func!r} is not a window "
                        f"function of the dialect"
                    )
                composite[idx] = residual
                continue
            per_window.setdefault(it.over.window, {}).update(subaggs)
            composite[idx] = residual

        skew_buckets = int(sel.config.get("skew_buckets", 0))
        # multi-window fusion: union-windows sharing (partition, order,
        # union tables, instance flag) — frames may differ — compute over
        # ONE flagged union instead of nesting each window's union around
        # the previous window's whole plan. Feature queries routinely hold
        # many frames over one partitioning (1d/7d/30d), and request-mode
        # lowering puts the history union under EVERY window, so without
        # fusion the history subtree re-materializes per window. AST
        # dataclasses compare structurally, so the key is plain equality.
        # PLAIN windows fuse too (both sides unionless): chaining them
        # with a SHARED _RID lets Catalyst reuse one exchange+sort AND
        # makes same-ts tiebreaks consistent across the frames (separate
        # window_agg calls each minted their own monotonic id). Skipped
        # under skew_buckets (the skew rewrite is per-window).
        fused_with: dict[str, list[str]] = {}
        fused_away: set = set()
        wnames = [n for n in per_window]
        for i, a in enumerate(wnames):
            if a in fused_away:
                continue
            wa = sel.windows[a]
            a_union = bool(wa.union_tables or wa.instance_not_in_window)
            if not a_union and skew_buckets >= 2:
                continue
            for b in wnames[i + 1:]:
                if b in fused_away:
                    continue
                wb = sel.windows[b]
                if (
                    bool(wb.union_tables or wb.instance_not_in_window) == a_union
                    and wa.partition_by == wb.partition_by
                    and wa.order_by == wb.order_by
                    and wa.union_tables == wb.union_tables
                    and wa.instance_not_in_window == wb.instance_not_in_window
                ):
                    fused_with.setdefault(a, []).append(b)
                    fused_away.add(b)
        for wname, aggs in per_window.items():
            if wname in fused_away:
                continue
            w = sel.windows[wname]
            wdef = self._window_def(df, w)
            if w.union_tables or w.instance_not_in_window:
                # INSTANCE_NOT_IN_WINDOW without UNION tables (fz_sql.yaml
                # id 2): frames see only the current row — the flag-column
                # plan with an empty union list expresses exactly that.
                from openmldb_spark.operators.window import _FLAG as _WFLAG  # noqa: local import by house style
                from openmldb_spark.operators.window import _ORD as _WORD
                from openmldb_spark.operators.window import _RID as _WRID
                from openmldb_spark.operators.window_union import flagged_union

                unions = [self.table_ref(u, env) for u in w.union_tables]
                flagged = flagged_union(
                    df, unions,
                    # join-added columns may be NULL-filled: the reference's
                    # window sees the pre-join main table (id 40)
                    nullfill_cols=[c for c in df.columns if c not in from_cols],
                )
                # ROWS-frame members first: their (ord, rid) sort is a
                # prefix-superset of the RANGE members' (ord)-only sort,
                # so one sort satisfies the whole chain
                members = sorted(
                    [wname, *fused_with.get(wname, [])],
                    key=lambda m: sel.windows[m].frame_kind != "rows",
                )
                for mi, member in enumerate(members):
                    flagged = window_agg(
                        flagged,
                        self._window_def(df, sel.windows[member]),
                        per_window[member],
                        instance_not_in_window=w.instance_not_in_window,
                        keep_flag=True,
                        keep_order=True,
                        reuse_order=mi > 0,
                    )
                df = (
                    flagged.filter(F.col(_WFLAG) == 1)
                    .drop(_WFLAG, _WORD, _WRID)
                )
            elif (
                skew_buckets >= 2
                and (wdef.rows_range is not None or wdef.rows is not None)
                and all(len(p) == 1 and p[0].kind == "name" for p in w.partition_by)
                and w.order_by is not None
                and len(w.order_by) == 1
                and w.order_by[0].kind == "name"
            ):
                # CONFIG (skew_buckets='N'): hot-key time-bucket splitting
                # (ref knob: enableWindowSkewOpt, OpenmldbBatchConfig.scala:
                # 54-74 — the reference's opt covers count frames too, so
                # since r13 plain ROWS windows route here as well)
                from openmldb_spark.operators.window_skew import window_agg_skewed

                named = WindowDef(
                    partition_by=[p[0].text for p in w.partition_by],
                    order_by=w.order_by[0].text,
                    rows=wdef.rows,
                    rows_range=wdef.rows_range,
                    open_preceding=wdef.open_preceding,
                    exclude_current_row=wdef.exclude_current_row,
                    exclude_current_time=wdef.exclude_current_time,
                    maxsize=wdef.maxsize,
                    end_rows=wdef.end_rows,
                    end_range=wdef.end_range,
                )
                df = window_agg_skewed(df, named, aggs, buckets=skew_buckets)
            else:
                from openmldb_spark.operators.window import _ORD as _WORD
                from openmldb_spark.operators.window import _RID as _WRID

                members = sorted(
                    [wname, *fused_with.get(wname, [])],
                    key=lambda m: sel.windows[m].frame_kind != "rows",
                )
                for mi, member in enumerate(members):
                    df = window_agg(
                        df,
                        self._window_def(df, sel.windows[member]),
                        per_window[member],
                        keep_order=True,
                        reuse_order=mi > 0,
                    )
                df = df.drop(_WORD, _WRID)

        # final projection
        cols: list[Column] = []
        for idx, it in enumerate(sel.items):
            if it.star:
                if it.star_qualifier:
                    cols.append(F.col(f"{it.star_qualifier}.*"))
                elif len(df.columns) == len(base_cols):
                    # a join can legally carry duplicate column names (fz_sql
                    # id 5 — out0.c1 and out1.c1): name-based F.col would be
                    # ambiguous, so expand the bare star wholesale
                    cols.append(F.col("*"))
                else:
                    cols.extend(F.col(c) for c in base_cols)
                continue
            pretty = it.alias or _derived_name(it.expr)
            if idx in out_names:
                cols.append(F.col(out_names[idx]).alias(pretty))
            elif idx in composite:
                cols.append(F.expr(rewrite_expr(composite[idx])).alias(pretty))
            else:
                cols.append(F.expr(rewrite_expr(it.expr)).alias(pretty))
        df = df.select(*cols)

        if sel.having is not None:
            df = df.filter(F.expr(rewrite_expr(sel.having)))
        if sel.distinct:
            df = df.distinct()
        if sel.limit is not None:
            df = df.limit(sel.limit)
        return df


    # -- window def ---------------------------------------------------------
    def _window_def(self, df: DataFrame, w: WindowClause) -> WindowDef:
        orderless = w.order_by is None
        if w.order_by is None:
            if not (
                w.frame_kind == "rows_range"
                and w.lower == ("unbounded", None)
                and w.upper == ("current", None)
                and w.maxsize is None
                and not w.exclude_current_time
                and not w.exclude_current_row
                and not w.instance_not_in_window
                and not w.union_tables
            ):
                # ORDER BY may be omitted ONLY for the degenerate
                # whole-partition frame (query/window_query.yaml id 28:
                # `rows_range between unbounded preceding and current row`
                # with no order = aggregate over the partition)
                raise ValueError(f"window {w.name}: ORDER BY is required")
            w = copy.deepcopy(w)
            w.order_by = [Tok("num", "0")]
        parts = [F.expr(rewrite_expr(p)) for p in w.partition_by]
        ord_sql = rewrite_expr(w.order_by)
        if not w.partition_by:
            # dialect rule: PARTITION BY is required
            # (test_window_row_range.yaml id 32 expects failure)
            raise ValueError(f"window {w.name}: PARTITION BY is required")
        if w.partition_by:
            pt = df.select(
                *[F.expr(rewrite_expr(p)).alias(f"__p{i}") for i, p in enumerate(w.partition_by)]
            ).dtypes
            for _, pdt in pt:
                if pdt in ("timestamp", "timestamp_ntz"):
                    # dialect rule: a timestamp column cannot be a window
                    # partition key (test_window_row_range.yaml ids 33-35
                    # expect failure). float/double keys are ALLOWED — the
                    # reference corpus contradicts itself there
                    # (test_window_row_range ids 2-3 expect success,
                    # error_window ids 2-3 expect failure); we follow the
                    # positive cases.
                    raise ValueError(
                        f"window {w.name}: PARTITION BY key cannot be {pdt}"
                    )
        dtype = df.select(F.expr(ord_sql).alias("__t")).dtypes[0][1]
        ord_col = F.expr(ord_sql)
        if dtype in ("timestamp", "timestamp_ntz"):
            ord_col = F.unix_millis(ord_col.cast("timestamp"))
        elif dtype in ("bigint", "int", "smallint"):
            # integral order keys are raw range units (id 8-2: int ORDER BY
            # succeeds even off-index)
            ord_col = ord_col.cast("long")
        else:
            # dialect rule (WINDOW_CLAUSE.md; test_window_row_range.yaml ids
            # 7/9-11 expect failure): window ORDER BY must be timestamp or
            # integral — float/double/string/date/bool rejected
            raise ValueError(
                f"window {w.name}: ORDER BY must be timestamp or an integer "
                f"type, got {dtype}"
            )

        kw: dict[str, object] = {}
        kind, val = w.lower
        if kind == "unbounded":
            kw["unbounded"] = True
        elif w.frame_kind == "rows":
            kw["rows"] = int(val)
        else:
            kw["rows_range"] = val  # '10s' / '86400000' — parse_interval_ms
        ukind, uval = w.upper
        if ukind == "preceding":
            if w.frame_kind == "rows":
                kw["end_rows"] = int(uval)
            else:
                kw["end_range"] = uval
        elif ukind == "open_preceding":
            # OPEN excludes the endpoint: rows `n OPEN` == (n+1) PRECEDING;
            # integer-ms ranges `t OPEN` == (t+1ms) PRECEDING exactly
            from openmldb_spark.operators.window import parse_interval_ms

            if w.frame_kind == "rows":
                kw["end_rows"] = int(uval) + 1
            else:
                kw["end_range"] = str(parse_interval_ms(uval) + 1)
        if orderless:
            # whole-partition frame: the synthetic constant ORDER BY makes
            # every row a peer, so the RANGE path (peers share one frame)
            # aggregates the full partition; the default ROWS lowering of
            # an unbounded frame would give per-row prefixes in arbitrary
            # tiebreak order instead
            kw["end_range"] = "0"
        return WindowDef(
            partition_by=parts,
            order_by=ord_col,
            open_preceding=w.open_preceding,
            exclude_current_row=w.exclude_current_row,
            exclude_current_time=w.exclude_current_time,
            maxsize=w.maxsize,
            **kw,
        )

    # -- joins ---------------------------------------------------------------
    def _join(
        self,
        left: DataFrame,
        j: Join,
        env: dict[str, DataFrame],
        sel: Optional[Select] = None,
    ) -> DataFrame:
        right = self.table_ref(j.table, env)
        if j.kind in ("left", "inner", "right", "full"):
            cond = F.expr(rewrite_expr(j.on)) if j.on is not None else F.lit(True)
            return left.join(right, cond, j.kind)
        assert j.kind == "last"
        if sel is not None:
            keep = self._last_join_needed_cols(sel, j, right.columns)
            if keep is not None and len(keep) < len(right.columns):
                right = right.select(*keep)
        return self._last_join(left, right, j)

    @staticmethod
    def _last_join_needed_cols(
        sel: Select, j: Join, rcols: list[str]
    ) -> Optional[list[str]]:
        """Right-side columns the query can observe, or None when pruning is
        unsafe (a ``*`` that covers the right side, or duplicate right
        column names).

        The dedupe-right LAST JOIN plan shuffles every right column inside
        the ``max_by`` payload struct, and Catalyst cannot prune struct
        fields through an aggregate — so an unpruned right side ships (and
        sorts) the full row per candidate even when the SELECT touches two
        columns (guide §2.3: project before the exchange; measured 0.86s ->
        0.45s on the sql_last_join bench at sf0.1). Scanning every token
        stream of the Select for bare or ``alias.col`` references is
        conservative: a same-named LEFT column keeps the right twin alive,
        which only costs pruning opportunity, never correctness. The
        unsorted-tie hash tiebreak is computed over the PRUNED row: rows
        tying on every ORDER BY column AND every observable column are
        output-indistinguishable, so for them the pick is observationally
        identical; rows tying on ORDER BY but differing on observable
        columns get a deterministic pick that may differ from the
        full-row hash's (and from a differently-pruning query's) —
        adjudicated in DIVERGENCES #2 (r14): the reference's storage-
        order pick is equally environment-dependent, and hashing the
        full row would re-read every right column at the scan."""
        ralias = j.table.bind_name
        # WINDOW ... UNION requires the union tables to MATCH the main
        # (post-join) schema — flagged_union reconciles them positionally
        # for request-mode joins with duplicate output names — so pruning
        # the join's right side would desynchronize the schemas (r13 fix:
        # ported batch-request cases 4-5, window-union over a LAST JOIN)
        if any(w.union_tables for w in sel.windows.values()):
            return None
        lower_map: dict[str, str] = {}
        for c in rcols:
            lower_map.setdefault(c.lower(), c)
        if len(lower_map) != len(rcols):
            return None  # duplicate names: positional select would be ambiguous
        for it in sel.items:
            if it.star and (it.star_qualifier is None or it.star_qualifier == ralias):
                return None
        needed: set[str] = set()

        def scan(tokens: Optional[list[Tok]]) -> None:
            if not tokens:
                return
            n = len(tokens)
            for i, t in enumerate(tokens):
                if t.kind != "name":
                    continue
                txt = t.text.strip("`").lower()
                nxt = tokens[i + 1] if i + 1 < n else None
                if nxt is not None and nxt.text in (".", "("):
                    continue  # qualifier or call head
                if i > 0 and tokens[i - 1].text == ".":
                    qual = tokens[i - 2].text.strip("`") if i >= 2 else None
                    if qual == ralias and txt in lower_map:
                        needed.add(lower_map[txt])
                    continue
                if txt in lower_map:  # bare name — conservative
                    needed.add(lower_map[txt])

        streams: list[Optional[list[Tok]]] = [sel.where, sel.having]
        streams.extend(it.expr for it in sel.items if not it.star)
        for it in sel.items:
            if it.over is not None:
                streams.extend(it.over.args)
                streams.append(it.over.inline)
        streams.extend(sel.group_by)
        for w in sel.windows.values():
            streams.extend(w.partition_by)
            streams.append(w.order_by)
        for jj in sel.joins:
            streams.append(jj.on)
            streams.extend(jj.order_by or [])
        for s in streams:
            scan(s)
        return [c for c in rcols if c in needed]

    def _last_join(self, left: DataFrame, right: DataFrame, j: Join) -> DataFrame:
        """LAST JOIN (ref semantics: JOIN_CLAUSE.md:5-11 — per left row keep
        the right match with max ORDER BY) as the dialect's inputs to the
        one lowering, :func:`operators.last_join.lower_last_join`: a
        null-safe struct key condition, the ORDER BY columns then a row
        hash as the rank (the unsorted variant's deterministic stand-in for
        the reference's storage order, which is undefined after any
        shuffle), and the remaining ON conjuncts."""
        if j.on is None:
            raise ValueError("LAST JOIN requires an ON condition")
        ralias = j.table.bind_name
        if not ralias:
            raise ValueError("LAST JOIN right side needs a name or alias")
        # a trailing ASC/DESC keyword flips which end of the order the join
        # picks: LAST JOIN takes the max-order match by default; `ORDER BY
        # ts DESC` takes the MIN (query/last_join_query.yaml id 9)
        rank: list[tuple[Column, bool]] = []
        for oi, ob in enumerate(j.order_by or []):
            is_desc = False
            if ob and ob[-1].kind == "name" and ob[-1].upper in ("ASC", "DESC"):
                ob, is_desc = ob[:-1], ob[-1].upper == "DESC"
            e = F.expr(rewrite_expr(ob))
            if oi == 0:
                # dialect rule: LAST JOIN ORDER BY must be timestamp or an
                # integer type — test_lastjoin_simple.yaml ids 7-10/29
                # expect failure for float/double/date/string/bool (int is
                # explicitly offline-supported there, id 6). Applies to the
                # FIRST column only: extra tiebreak columns are this repo's
                # documented superset and may be any orderable type.
                dtype = right.select(e.alias("__t")).dtypes[0][1]
                if dtype not in ("timestamp", "timestamp_ntz", "bigint", "int", "smallint"):
                    raise ValueError(
                        f"LAST JOIN ORDER BY must be timestamp or an integer "
                        f"type, got {dtype}"
                    )
            rank.append((e, is_desc))
        # the smallest hash wins a tie on every ORDER BY column
        rank.append((F.xxhash64(*[F.col(f"{ralias}.{c}") for c in right.columns]), True))
        pairs, rest = self._equi_right_keys(j.on, ralias)
        # the struct key's right-side refs are unresolved `{ralias}.{col}`
        # attributes: they resolve against `right` and its deduped form
        # alike (same alias, same key columns/types)
        on = _struct_eq(pairs, ralias, left, right) if pairs else None
        if on is None:
            # no key pair, or one whose types can't be reconciled exactly:
            # the ON condition joins as written, under Spark's own coercion
            pairs, rest = [], [j.on]
        return lower_last_join(
            left, right, ralias, [rc for _, rc in pairs], on, rank,
            [F.expr(rewrite_expr(c)) for c in rest],
        )

    @staticmethod
    def _equi_right_keys(
        on: list[Tok], ralias: str
    ) -> tuple[list[tuple[list[Tok], str]], list[list[Tok]]]:
        """Split ON into its top-level conjuncts: the `<left expr> =
        <ralias>.<col>` equi-pairs as (left tokens, right key column), and
        every other conjunct as tokens. An ON whose top level is not a
        plain AND chain (an OR or XOR, or a BETWEEN/CASE whose own AND is no
        conjunction) comes back whole, as one conjunct with no pairs."""
        conjuncts: list[list[Tok]] = []
        cur: list[Tok] = []
        depth = 0
        for t in on:
            if t.text in "([":
                depth += 1
            elif t.text in ")]":
                depth -= 1
            if depth == 0 and t.upper in ("OR", "XOR", "BETWEEN", "CASE"):
                return [], [on]
            if depth == 0 and t.upper == "AND":
                conjuncts.append(cur)
                cur = []
            else:
                cur.append(t)
        conjuncts.append(cur)

        def right_col(side: list[Tok]) -> Optional[str]:
            if (
                len(side) == 3
                and side[0].kind == "name"
                and side[0].text == ralias
                and side[1].text == "."
                and side[2].kind == "name"
            ):
                return side[2].text.strip("`")
            return None

        def mentions_right(side: list[Tok]) -> bool:
            return any(
                t.kind == "name" and t.text == ralias and i + 1 < len(side)
                and side[i + 1].text == "."
                for i, t in enumerate(side)
            )

        keys: list[tuple[list[Tok], str]] = []
        rest: list[list[Tok]] = []
        for c in conjuncts:
            eq_at = [
                i
                for i, t in enumerate(c)
                if t.text == "=" and _depth_at(c, i) == 0
            ]
            # `NOT a = b` negates the whole comparison: no key pair
            if len(eq_at) == 1 and c[0].upper != "NOT":
                lhs, rhs = c[: eq_at[0]], c[eq_at[0] + 1 :]
                rc = right_col(rhs)
                if rc is not None and not mentions_right(lhs):
                    keys.append((lhs, rc))
                    continue
                rc = right_col(lhs)
                if rc is not None and not mentions_right(rhs):
                    keys.append((rhs, rc))
                    continue
            rest.append(c)
        return keys, rest



# ---------------------------------------------------------------------------
# public entry
# ---------------------------------------------------------------------------


def sql(
    spark: SparkSession,
    text: str,
    tables: Optional[dict[str, DataFrame]] = None,
    parameters: Optional[Sequence] = None,
) -> DataFrame:
    """Compile one dialect SELECT statement to a DataFrame.

    ``tables`` maps table names to DataFrames; unresolved names fall back to
    ``spark.table`` (the session catalog). ``parameters`` binds positional
    ``?`` placeholders (reference parameterized-query surface) — folded to
    literals pre-parse so Catalyst pushes them down like any constant.
    """
    if parameters is not None:
        text = P.substitute_params(text, parameters)
    q = P.parse(text)
    return Lowerer(spark, tables).query(q, {})
