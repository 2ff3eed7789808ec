"""Aggregate compilation for the SQL lowering layer: the dialect UDAF
registry (``_AGGS``), nested / frame-nested aggregate splitting and the
composite-expression compiler (``_split_nested_aggs`` /
``_split_embedded_overs`` / ``_NestedArgCompiler`` /
``_build_frame_nested_agg``), list-UDAF fusion, and ``_build_agg`` —
split out of the former single-module ``sql/lowering.py`` (r9). The
public import surface is ``openmldb_spark/sql/lowering/__init__.py``.
"""

from __future__ import annotations



from pyspark.sql import functions as F

from openmldb_spark.functions import aggregates as A
from openmldb_spark.sql.parser import OverCall, Tok, render, tokenize
from openmldb_spark.sql.rewrite import rewrite_expr


# ---------------------------------------------------------------------------
# aggregate registry: dialect name -> (AggSpec builder, arg kinds)
#   c = column expression, i = int literal, f = float literal
# (function list: SURVEY §2.7; ref udf/default_udf_library.cc:2708-3110,
#  default_defs/window_functions_def.cc, default_defs/*_by_category_def.cc)
# ---------------------------------------------------------------------------

#: Spark-native aggregate heads that are NOT dialect window functions: a
#: bare ``<fn>(...) OVER w`` with one of these is a mis-typed aggregate,
#: never a window-invariant row scalar — the no-aggregate-inside-OVER
#: fallback rejects them with the dialect error instead of letting them
#: reach per-row projection (ADVICE r8). Names also in ``_AGGS`` are
#: routed before the fallback and never consult this set.
_SPARK_AGG_HEADS = frozenset({
    "stddev", "stddev_pop", "stddev_samp", "std", "variance", "var_pop",
    "var_samp", "collect_list", "collect_set", "array_agg",
    "approx_count_distinct", "approx_percentile", "percentile",
    "percentile_approx", "median", "corr", "covar_pop", "covar_samp",
    "skewness", "kurtosis", "first", "last", "any_value", "bool_and",
    "bool_or", "mode", "bit_and", "bit_or", "bit_xor", "mean",
    "count_if", "histogram_numeric", "max_by", "min_by", "product",
    "some", "every", "any", "regr_avgx", "regr_avgy", "regr_count",
    "regr_r2", "regr_slope", "regr_intercept", "sum_distinct", "listagg",
    "avg", "sum", "min", "max", "count", "grouping",
})

_AGGS: dict[str, tuple[object, str]] = {
    "sum": (A.sum_, "c"),
    "min": (A.min_, "c"),
    "max": (A.max_, "c"),
    "avg": (A.avg_, "c"),
    "count": (A.count_, "c"),
    "distinct_count": (A.distinct_count, "c"),
    "median": (A.median_, "c"),
    "stddev": (A.stddev_, "c"),
    "std": (A.stddev_, "c"),
    "stddev_samp": (A.stddev_, "c"),
    "stddev_pop": (A.stddev_pop, "c"),
    "var_samp": (A.var_samp, "c"),
    "variance": (A.var_samp, "c"),
    "var_pop": (A.var_pop, "c"),
    "sum_where": (A.sum_where, "cc"),
    "count_where": (A.count_where, "cc"),
    "avg_where": (A.avg_where, "cc"),
    "min_where": (A.min_where, "cc"),
    "max_where": (A.max_where, "cc"),
    "top": (A.top, "ci"),
    "top1_ratio": (A.top1_ratio, "c"),
    "topn_frequency": (A.topn_frequency, "ci"),
    "ew_avg": (A.ew_avg, "cf"),
    "drawdown": (A.drawdown, "c"),
    "entropy": (A.entropy, "c"),
    "lag": (A.lag, "ci"),
    "at": (A.lag, "ci"),
    # optional trailing bool = ignore-nulls flag (test_window.yaml id 38)
    "first_value": (A.first_value, "cB"),
    "last_value": (A.last_value, "cB"),
    "nth_value_where": (A.nth_value_where, "cic"),
    "sum_cate": (A.sum_cate, "cc"),
    "count_cate": (A.count_cate, "cc"),
    "avg_cate": (A.avg_cate, "cc"),
    "min_cate": (A.min_cate, "cc"),
    "max_cate": (A.max_cate, "cc"),
    "sum_cate_where": (A.sum_cate_where, "ccc"),
    "count_cate_where": (A.count_cate_where, "ccc"),
    "avg_cate_where": (A.avg_cate_where, "ccc"),
    "min_cate_where": (A.min_cate_where, "ccc"),
    "max_cate_where": (A.max_cate_where, "ccc"),
    "top_n_key_sum_cate_where": (A.top_n_key_sum_cate_where, "ccci"),
    "top_n_key_count_cate_where": (A.top_n_key_count_cate_where, "ccci"),
    "top_n_key_avg_cate_where": (A.top_n_key_avg_cate_where, "ccci"),
    "top_n_key_min_cate_where": (A.top_n_key_min_cate_where, "ccci"),
    "top_n_key_max_cate_where": (A.top_n_key_max_cate_where, "ccci"),
    "top_n_value_sum_cate_where": (A.top_n_value_sum_cate_where, "ccci"),
    "top_n_value_count_cate_where": (A.top_n_value_count_cate_where, "ccci"),
    "top_n_value_avg_cate_where": (A.top_n_value_avg_cate_where, "ccci"),
    "top_n_value_min_cate_where": (A.top_n_value_min_cate_where, "ccci"),
    "top_n_value_max_cate_where": (A.top_n_value_max_cate_where, "ccci"),
    "top_n_key_ratio_cate": (A.top_n_key_ratio_cate, "ccci"),
    "top_n_value_ratio_cate": (A.top_n_value_ratio_cate, "ccci"),
    # the reference docs use the '_where' spelling for the same functions
    "top_n_key_ratio_cate_where": (A.top_n_key_ratio_cate, "ccci"),
    "top_n_value_ratio_cate_where": (A.top_n_value_ratio_cate, "ccci"),
    "window_split": (A.window_split, "cs"),
    "window_split_by_key": (A.window_split_by_key, "css"),
    "window_split_by_value": (A.window_split_by_value, "css"),
}


def _split_nested_aggs(
    tokens: list[Tok], gen
) -> tuple[list[Tok], dict[str, "A.AggSpec"]]:
    """Split a scalar-over-aggregates expression (fz_sql shape:
    ``identity(case when lag(d1, 1) != null then distinct_count(d1) else
    bigint(1) end) OVER w``) into a residual scalar token stream and the
    nested aggregate calls it references, each replaced by a generated
    placeholder column name. Placeholders are filled by the window pass;
    the residual is evaluated as a plain projection afterwards."""
    from openmldb_spark.sql.rewrite import _split_top_commas

    out: list[Tok] = []
    subaggs: dict[str, "A.AggSpec"] = {}
    i, n = 0, len(tokens)
    while i < n:
        t = tokens[i]
        nxt = tokens[i + 1] if i + 1 < n else None
        prev_dot = bool(out) and out[-1].text == "."
        if (
            t.kind == "name"
            and t.text.lower().strip("`") in _AGGS
            and nxt is not None
            and nxt.text == "("
            and not prev_dot
        ):
            depth, j = 0, i + 1
            while j < n:
                if tokens[j].text == "(":
                    depth += 1
                elif tokens[j].text == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:  # unbalanced — leave as-is
                out.append(t)
                i += 1
                continue
            args = [a for a in _split_top_commas(tokens[i + 2 : j]) if a]
            nm = f"__omsqlw_{next(gen)}"
            subaggs[nm] = _build_agg(OverCall(t.text.lower(), args, window=""))
            out.append(Tok("name", nm))
            i = j + 1
            continue
        out.append(t)
        i += 1
    return out, subaggs


#: dialect aggregates the TEXT group path already expresses (plain Spark
#: builtins or rewrite templates); any other _AGGS name in GROUP BY
#: context forces the structural group lowering
_TEXT_GROUP_AGGS = {
    "sum", "min", "max", "avg", "count", "distinct_count", "median",
    "stddev", "std", "stddev_samp", "stddev_pop", "var_samp", "variance",
    "var_pop", "sum_where", "count_where", "avg_where", "min_where",
    "max_where",
}



def _split_embedded_overs(
    tokens: list[Tok], gen, windows: dict
) -> tuple[list[Tok], dict[str, dict[str, "A.AggSpec"]]]:
    """Split `agg(args) OVER wname` calls EMBEDDED inside a scalar expression
    (`case when !isnull(lag(d1,1) over w) then distinct_count(d1) over w else
    null end` — test_window_union.yaml ids 16-2/36) into placeholder columns,
    grouped per window. Complements :func:`_split_nested_aggs`, which handles
    a single trailing OVER wrapping bare aggregates."""
    from openmldb_spark.sql.rewrite import _split_top_commas

    out: list[Tok] = []
    per_w: dict[str, dict[str, "A.AggSpec"]] = {}
    i, n = 0, len(tokens)

    def _match(toks, start):
        depth = 0
        for j in range(start, len(toks)):
            if toks[j].text == "(":
                depth += 1
            elif toks[j].text == ")":
                depth -= 1
                if depth == 0:
                    return j
        return -1

    while i < n:
        t = tokens[i]
        nxt = tokens[i + 1] if i + 1 < n else None
        prev_dot = bool(out) and out[-1].text == "."
        if (
            t.kind == "name"
            and t.text.lower() not in _AGGS
            and nxt is not None
            and nxt.text == "("
            and not prev_dot
        ):
            # `fn(... agg(args) ...) OVER w` — the production spelling
            # attaches OVER OUTSIDE the scalar wrapper
            # (`!isnull(lag(x, 0)) over w`, cases/function/spark/*): the
            # window belongs to the inner aggregate; split it out and keep
            # the wrapper around the placeholder
            j = _match(tokens, i + 1)
            if (
                j >= 0
                and j + 2 < n
                and tokens[j + 1].upper == "OVER"
                and tokens[j + 2].kind == "name"
                and tokens[j + 2].text in windows
            ):
                inner = tokens[i + 2 : j]
                hit = None
                for x in range(len(inner) - 1):
                    if (
                        inner[x].kind == "name"
                        and inner[x].text.lower().strip("`") in _AGGS
                        and inner[x + 1].text == "("
                        and not (x > 0 and inner[x - 1].text == ".")
                    ):
                        y = _match(inner, x + 1)
                        if y >= 0:
                            hit = (x, y)
                            break
                if hit is not None:
                    x, y = hit
                    wname = tokens[j + 2].text
                    args = [
                        a
                        for a in _split_top_commas(inner[x + 2 : y])
                        if a
                    ]
                    nm = f"__omsqlw_{next(gen)}"
                    per_w.setdefault(wname, {})[nm] = _build_agg(
                        OverCall(inner[x].text.lower(), args, window=wname)
                    )
                    # recurse over the rest of the wrapper body (it may
                    # carry more embedded OVERs)
                    rest = inner[:x] + [Tok("name", nm)] + inner[y + 1 :]
                    rest2, pw2 = _split_embedded_overs(rest, gen, windows)
                    for w2, specs in pw2.items():
                        per_w.setdefault(w2, {}).update(specs)
                    out.append(t)
                    out.append(Tok("op", "("))
                    out.extend(rest2)
                    out.append(Tok("op", ")"))
                    i = j + 3
                    continue
        if (
            t.kind == "name"
            and t.text.lower().strip("`") in _AGGS
            and nxt is not None
            and nxt.text == "("
            and not prev_dot
        ):
            depth, j = 0, i + 1
            while j < n:
                if tokens[j].text == "(":
                    depth += 1
                elif tokens[j].text == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if (
                j + 2 < n
                and tokens[j + 1].upper == "OVER"
                and tokens[j + 2].kind == "name"
                and tokens[j + 2].text in windows
            ):
                wname = tokens[j + 2].text
                args = [a for a in _split_top_commas(tokens[i + 2 : j]) if a]
                nm = f"__omsqlw_{next(gen)}"
                per_w.setdefault(wname, {})[nm] = _build_agg(
                    OverCall(t.text.lower(), args, window=wname)
                )
                out.append(Tok("name", nm))
                i = j + 3
                continue
        out.append(t)
        i += 1
    return out, per_w


#: outer aggregates that fold the LIST a window-split aggregate produces
#: (UDAF-over-UDAF fusion — feature_zero_def.cc list UDAF composition).
#: `join` is NOT routed here from SQL: it is not an _AGGS name, so
#: `join(window_split(..), d) OVER w` takes the composite-scalar path
#: (window_split becomes the window column, array_join the projection) —
#: same fold, same result; A.fuse_list_agg("join", ..) stays available
#: for direct library use.
_LIST_FOLD_OUTERS = {"count", "distinct_count", "top1_ratio", "topn_frequency"}
_LIST_PRODUCERS = {"window_split", "window_split_by_key", "window_split_by_value"}


def _fuse_list_call(call: OverCall, func: str) -> "Optional[A.AggSpec]":
    """``outer(window_split*(...), extras) [OVER w]`` -> a fused AggSpec, or
    None when the first arg is not a whole window-split call."""
    from openmldb_spark.sql.rewrite import _split_top_commas

    first = call.args[0]
    if not (
        len(first) >= 3
        and first[0].kind == "name"
        and first[0].text.lower() in _LIST_PRODUCERS
        and first[1].text == "("
        and first[-1].text == ")"
    ):
        return None
    depth = 0  # the '(' after the producer must close at the LAST token
    for k, tk in enumerate(first[1:], 1):
        if tk.text == "(":
            depth += 1
        elif tk.text == ")":
            depth -= 1
            if depth == 0 and k != len(first) - 1:
                return None
    inner_args = [a for a in _split_top_commas(first[2:-1]) if a]
    inner = _build_agg(OverCall(first[0].text.lower(), inner_args, window=call.window))
    extras = call.args[1:]
    if func == "topn_frequency":
        if len(extras) != 1:
            raise ValueError("topn_frequency(list, n) expects an int literal n")
        return A.fuse_list_agg("topn_frequency", inner, n=int(render(extras[0]).replace(" ", "")))
    if extras:
        raise ValueError(f"{func} over a list takes no extra arguments")
    return A.fuse_list_agg(func, inner)


def _contains_agg_call(toks: list[Tok]) -> bool:
    for i, t in enumerate(toks):
        if (
            t.kind == "name"
            and t.text.lower().strip("`") in _AGGS
            and i + 1 < len(toks)
            and toks[i + 1].text == "("
            and not (i > 0 and toks[i - 1].text == ".")
        ):
            return True
    return False


#: scalar functions evaluable over frame-constant aggregate results (the
#: const-only subtrees of a nested-UDAF argument)
_CONST_FNS = {
    "log": F.log, "ln": F.log, "abs": F.abs, "sqrt": F.sqrt, "exp": F.exp,
    "ifnull": F.coalesce, "coalesce": F.coalesce, "ceil": F.ceil,
    "floor": F.floor, "round": F.round,
}

_BIN_OPS = {
    "+": lambda a, b: a + b, "-": lambda a, b: a - b,
    "*": lambda a, b: a * b, "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "=": lambda a, b: a == b, "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b, "<>": lambda a, b: a != b,
    ">": lambda a, b: a > b, "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b, "<=": lambda a, b: a <= b,
    "and": lambda a, b: a & b, "or": lambda a, b: a | b,
}


class _NestedArgCompiler:
    """Compile one aggregate argument whose expression references OTHER
    aggregate results over the same frame (``sum(c1 - count(c1))``,
    ``count_where(id, c1 = lag(c1, 0))`` — reference nested-UDAF corpus,
    test_udaf_function.yaml ids 43/47-49/53) into

    - ``inners``: AggSpecs for each embedded aggregate call (evaluated
      once per frame — the reference's UDAF state is frame-final when the
      outer's update consumes it, so inner results are FRAME CONSTANTS;
      golden-verified: sum(c1 - count(c1)) over rows {10,9} = 15 =
      (10-2)+(9-2), not the prefix-count 16),
    - ``leaves``: per-row sub-expressions free of aggregates, evaluated as
      temp columns before collection (the existing fields machinery),
    - a factory (element getter, consts) -> Column for the combined
      per-element value.

    Mixing of per-row and frame-constant parts happens only at binary
    operators / unary not — the corpus shapes; a scalar CALL over a mixed
    argument list raises (no such case exists in the reference corpus).
    """

    def __init__(self, toks: list[Tok], window: str, leaves: dict):
        from openmldb_spark.sql.rewrite import _split_top_commas

        self.leaves = leaves  # shared across args: name -> per-row Column
        self.inners: list["A.AggSpec"] = []
        # extract embedded aggregate calls -> placeholder names
        out: list[Tok] = []
        i, n = 0, len(toks)
        while i < n:
            t = toks[i]
            nxt = toks[i + 1] if i + 1 < n else None
            prev_dot = bool(out) and out[-1].text == "."
            if (
                t.kind == "name"
                and t.text.lower().strip("`") in _AGGS
                and nxt is not None
                and nxt.text == "("
                and not prev_dot
            ):
                depth, j = 0, i + 1
                while j < n:
                    if toks[j].text == "(":
                        depth += 1
                    elif toks[j].text == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                args = [a for a in _split_top_commas(toks[i + 2 : j]) if a]
                spec = _build_agg(
                    OverCall(t.text.lower().strip("`"), args, window=window)
                )
                if spec.name.startswith("window_split"):
                    raise ValueError(
                        "window_split results cannot nest inside "
                        f"{render(toks)!r} — only scalar aggregates compose here"
                    )
                out.append(Tok("name", f"__omagg_{len(self.inners)}"))
                self.inners.append(spec)
                i = j + 1
                continue
            out.append(t)
            i += 1
        self.toks = out
        self.pos = 0
        tree = self._parse_or()
        if self.pos != len(self.toks):
            raise ValueError(
                f"unparsed tail in nested aggregate argument: "
                f"{render(self.toks[self.pos:])!r}"
            )
        self.factory = self._compile(tree)

    # -- tiny precedence-climbing parser over the residual tokens ----------
    def _peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def _eat(self):
        t = self.toks[self.pos]
        self.pos += 1
        return t

    def _parse_or(self):
        node = self._parse_and()
        while (t := self._peek()) is not None and t.upper == "OR":
            self._eat()
            node = ("bin", "or", node, self._parse_and())
        return node

    def _parse_and(self):
        node = self._parse_not()
        while (t := self._peek()) is not None and t.upper == "AND":
            self._eat()
            node = ("bin", "and", node, self._parse_not())
        return node

    def _parse_not(self):
        t = self._peek()
        if t is not None and (t.text == "!" or t.upper == "NOT"):
            self._eat()
            return ("un", "!", self._parse_not())
        return self._parse_cmp()

    def _parse_cmp(self):
        node = self._parse_add()
        t = self._peek()
        if t is not None and t.text in ("=", "==", "!=", "<>", ">", "<", ">=", "<="):
            op = self._eat().text
            node = ("bin", op, node, self._parse_add())
        return node

    def _parse_add(self):
        node = self._parse_mul()
        while (t := self._peek()) is not None and t.text in ("+", "-"):
            op = self._eat().text
            node = ("bin", op, node, self._parse_mul())
        return node

    def _parse_mul(self):
        node = self._parse_unary()
        while (t := self._peek()) is not None and t.text in ("*", "/", "%"):
            op = self._eat().text
            node = ("bin", op, node, self._parse_unary())
        return node

    def _parse_unary(self):
        t = self._peek()
        if t is not None and t.text == "-":
            self._eat()
            return ("un", "-", self._parse_unary())
        return self._parse_primary()

    def _parse_primary(self):
        t = self._peek()
        if t is None:
            raise ValueError("unexpected end of nested aggregate argument")
        if t.text == "(":
            self._eat()
            node = self._parse_or()
            if self._peek() is None or self._peek().text != ")":
                raise ValueError("unbalanced parens in nested aggregate argument")
            self._eat()
            return node
        if t.kind == "name" and t.text.startswith("__omagg_"):
            self._eat()
            return ("ph", int(t.text.rsplit("_", 1)[1]))
        if t.kind == "name":
            nxt = self.toks[self.pos + 1] if self.pos + 1 < len(self.toks) else None
            if nxt is not None and nxt.text == "(":
                fn = self._eat().text.lower().strip("`")
                self._eat()  # (
                args = []
                while self._peek() is not None and self._peek().text != ")":
                    args.append(self._parse_or())
                    if self._peek() is not None and self._peek().text == ",":
                        self._eat()
                if self._peek() is None:
                    raise ValueError("unbalanced call in nested aggregate argument")
                self._eat()  # )
                return ("call", fn, args)
            # qualified names: a.b / a.b.c fold into one name node
            parts = [self._eat().text]
            while (
                self._peek() is not None
                and self._peek().text == "."
                and self.pos + 1 < len(self.toks)
                and self.toks[self.pos + 1].kind == "name"
            ):
                self._eat()
                parts.append(self._eat().text)
            return ("name", ".".join(parts))
        return ("lit", self._eat().text)

    # -- classification + compilation --------------------------------------
    def _cls(self, node) -> str:
        k = node[0]
        if k == "ph":
            return "const"
        if k == "name":
            return "row"
        if k == "lit":
            return "any"
        if k == "bin":
            kids = [node[2], node[3]]
        elif k == "un":
            kids = [node[2]]
        else:  # call
            kids = node[2]
        cs = {self._cls(c) for c in kids}
        if "row" in cs and "const" in cs:
            return "mix"
        if "mix" in cs:
            return "mix"
        if "row" in cs:
            return "row"
        if "const" in cs:
            return "const"
        return "any"

    def _render(self, node) -> str:
        k = node[0]
        if k == "name":
            return node[1]
        if k == "lit":
            return node[1]
        if k == "bin":
            return f"({self._render(node[2])} {node[1]} {self._render(node[3])})"
        if k == "un":
            return f"{node[1]} ({self._render(node[2])})"
        if k == "call":
            return f"{node[1]}({', '.join(self._render(a) for a in node[2])})"
        raise AssertionError(k)

    def _leaf(self, node):
        """A maximal aggregate-free subtree -> one per-row temp column."""
        text = self._render(node)
        for nm, (t, _) in self.leaves.items():
            if t == text:
                return nm
        nm = f"x{len(self.leaves)}"
        self.leaves[nm] = (text, F.expr(rewrite_expr(tokenize(text))))
        return nm

    def _const(self, node, consts):
        k = node[0]
        if k == "ph":
            return consts[node[1]]
        if k == "lit":
            return F.expr(rewrite_expr(tokenize(node[1])))
        if k == "bin":
            return _BIN_OPS[node[1].lower()](
                self._const(node[2], consts), self._const(node[3], consts)
            )
        if k == "un":
            x = self._const(node[2], consts)
            return ~x if node[1] == "!" else -x
        if k == "call":
            fn = _CONST_FNS.get(node[1])
            if fn is None:
                raise ValueError(
                    f"function {node[1]!r} is not supported over an "
                    "aggregate result inside another aggregate"
                )
            return fn(*[self._const(a, consts) for a in node[2]])
        raise AssertionError(k)

    def _compile(self, node):
        cls = self._cls(node)
        if cls in ("row", "any"):
            nm = self._leaf(node)
            return lambda get, consts: get(nm)
        if cls == "const":
            return lambda get, consts: self._const(node, consts)
        # mixed: binary ops / unary not only
        k = node[0]
        if k == "bin":
            lf, rf = self._compile(node[2]), self._compile(node[3])
            op = _BIN_OPS[node[1].lower()]
            return lambda get, consts: op(lf(get, consts), rf(get, consts))
        if k == "un":
            xf = self._compile(node[2])
            if node[1] == "!":
                return lambda get, consts: ~xf(get, consts)
            return lambda get, consts: -xf(get, consts)
        raise ValueError(
            f"cannot mix per-row and aggregate-result values inside "
            f"{self._render(node)!r} — only operators compose them"
        )


def _build_frame_nested_agg(call: OverCall, func: str) -> "A.AggSpec":
    """Aggregates whose ARGUMENTS reference other aggregates over the same
    frame (``sum(c1 - count(c1))``, ``count_where(id, c1 = lag(c1, 0))`` —
    test_udaf_function.yaml ids 43/47-49/53, hybridsql_gen shapes).

    Semantics (golden-verified against the reference): inner aggregates
    evaluate over the WHOLE frame and their results are frame constants;
    the outer aggregate folds its per-element argument expression with
    those constants substituted. Spark-first lowering: the frame is one
    collected element array; inner results are folds over it, the outer's
    per-element fields are built by invoking the outer's own spec builder
    inside ``F.transform`` (so count_where's cond-gating etc. compose
    unchanged), and the outer's array fold runs over the rebuilt struct
    array — one collect, no second window pass.

    Inner ``lag(x, k)`` uses its frame-relative array form (element
    size-k); the corpus only nests lag(x, 0) (= the current row's value),
    where frame- and partition-relative agree.
    """
    builder, kinds = _AGGS[func]
    required = sum(1 for k in kinds if k.islower())
    if not (required <= len(call.args) <= len(kinds)):
        want = str(required) if required == len(kinds) else f"{required}..{len(kinds)}"
        raise ValueError(f"{func} expects {want} args, got {len(call.args)}")
    leaves: dict = {}  # name -> (rendered text, per-row Column)
    inners: list["A.AggSpec"] = []
    factories = []  # per positional arg: ("col", fn(get, consts)) | ("lit", v)
    for kind, toks in zip(kinds, call.args):
        kl = kind.lower()
        if kl == "c":
            if _contains_agg_call(toks):
                comp = _NestedArgCompiler(toks, call.window, leaves)
                base = len(inners)
                inners.extend(comp.inners)
                fac = comp.factory
                if base:
                    factories.append(
                        ("col", lambda get, consts, f=fac, b=base: f(
                            get, consts[b:]
                        ))
                    )
                else:
                    factories.append(("col", fac))
            else:
                text = render(toks)
                nm = f"x{len(leaves)}"
                leaves[nm] = (text, F.expr(rewrite_expr(toks)))
                factories.append(
                    ("col", lambda get, consts, nm=nm: get(nm))
                )
        elif kl == "b":
            lit = render(toks).strip().lower()
            factories.append(("lit", lit == "true"))
        elif kl == "i":
            factories.append(("lit", int(render(toks).replace(" ", ""))))
        elif kl == "f":
            factories.append(("lit", float(render(toks).replace(" ", ""))))
        elif kl == "s":
            lit = render(toks)
            factories.append(("lit", lit[1:-1]))
    proto = builder(
        *[F.lit(1) if tag == "col" else v for tag, v in factories]
    )

    fields: dict = {}
    for k, spec in enumerate(inners):
        for n, c in spec.fields.items():
            fields[f"i{k}_{n}"] = c
    for nm, (_, col) in leaves.items():
        fields[nm] = col

    def arr(e, f):
        consts = [
            spec.array(e, lambda n, k=k: f(f"i{k}_{n}"))
            for k, spec in enumerate(inners)
        ]

        def elem_struct(s):
            get = lambda nm: f(nm)(s)
            args = [
                fac(get, consts) if tag == "col" else fac
                for tag, fac in factories
            ]
            spec_s = builder(*args)
            return F.struct(
                *[c.alias(n) for n, c in spec_s.fields.items()]
            )

        e2 = F.transform(e, elem_struct)
        return proto.array(e2, lambda n: (lambda s: s[n]))

    from openmldb_spark.functions.aggregates import _group_via_collect

    return A.AggSpec(
        f"{func}<nested>",
        fields,
        native=None,
        array=arr,
        group=lambda fl: _group_via_collect(arr, fl),
        order_sensitive=True,
    )


def _build_agg(call: OverCall) -> "A.AggSpec":
    func = call.func.strip("`")
    if func == "count" and len(call.args) == 1 and render(call.args[0]) == "*":
        return A.count_all()
    if func in _LIST_FOLD_OUTERS and call.args:
        fused = _fuse_list_call(call, func)
        if fused is not None:
            return fused
    if (
        func in _AGGS
        and any(
            k.lower() == "c" and _contains_agg_call(a)
            for k, a in zip(_AGGS[func][1], call.args)
        )
    ):
        return _build_frame_nested_agg(call, func)
    if func == "count" and len(call.args) == 1:
        from openmldb_spark.sql.rewrite import _is_const_literal

        if _is_const_literal(call.args[0]):
            # reference rejects count over a constant (test_udaf_table id 1)
            raise ValueError(
                "count over a constant is not supported; use count(*)"
            )
    try:
        builder, kinds = _AGGS[func]
    except KeyError:
        raise ValueError(
            f"aggregate {func!r} is not a window function of the dialect"
        ) from None
    required = sum(1 for k in kinds if k.islower())
    if not (required <= len(call.args) <= len(kinds)):
        want = str(required) if required == len(kinds) else f"{required}..{len(kinds)}"
        raise ValueError(
            f"{call.func} expects {want} args, got {len(call.args)}"
        )
    py_args = []
    for kind, toks in zip(kinds, call.args):
        kind = kind.lower()
        if kind == "b":
            lit = render(toks).strip().lower()
            if lit not in ("true", "false"):
                raise ValueError(f"{call.func}: expected a bool literal, got {lit}")
            py_args.append(lit == "true")
        elif kind == "c":
            if render(toks) == "*":
                # count_where(*, cond) — star value counts rows; a non-null
                # constant has the same null-skip behavior
                py_args.append(F.lit(1))
            else:
                py_args.append(F.expr(rewrite_expr(toks)))
        elif kind == "i":
            # render() space-joins tokens: a negative literal is '- 1'
            py_args.append(int(render(toks).replace(" ", "")))
        elif kind == "f":
            py_args.append(float(render(toks).replace(" ", "")))
        elif kind == "s":
            lit = render(toks)
            if not (len(lit) >= 2 and lit[0] in "'\"" and lit[-1] == lit[0]):
                raise ValueError(f"{call.func}: expected a string literal, got {lit}")
            py_args.append(lit[1:-1])
    return builder(*py_args)  # type: ignore[operator]

