"""Tokenizer + recursive-descent parser for the reference SQL dialect.

Grammar pinned from the reference docs (``docs/en/openmldb_sql/dql/``):
SELECT_STATEMENT.md (no top-level ORDER BY), JOIN_CLAUSE.md (LAST/LEFT only),
WINDOW_CLAUSE.md (ROWS / ROWS_RANGE, PRECEDING..CURRENT only, UNION tables,
MAXSIZE / EXCLUDE CURRENT_TIME / EXCLUDE CURRENT_ROW / INSTANCE_NOT_IN_WINDOW,
OPEN lower AND upper bounds), plus WITH / UNION [ALL|DISTINCT] (parenthesized
arms allowed) / LIMIT. Dialect lexical extras: float-suffix literals (0.0f),
==, infix MOD/XOR, backtick quoting, trailing select-list commas.

Scalar expressions are NOT parsed into an AST here — they are kept as token
slices and handed to Spark's own SQL expression parser (``F.expr``) after
name rewriting (:mod:`.rewrite`). Only the statement skeleton and the
dialect-specific constructs get structure.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|--[^\n]*|\#[^\n]*)
  | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<num>\d+\.\d*(?:[eE][+-]?\d+)?[a-zA-Z]*|\.\d+[a-zA-Z]*|\d+(?:[eE][+-]?\d+)?[a-zA-Z]*)
  | (?P<name>[A-Za-z_][A-Za-z_0-9]*|`[^`]*`)
  | (?P<op><>|!=|<=|>=|==|\|\||->|[-+*/%(),.;=<>!&|^~\[\]{}?:])
    """,
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str  # 'str' | 'num' | 'name' | 'op'
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper()


def tokenize(sql: str) -> list[Tok]:
    out: list[Tok] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if m is None:
            raise SyntaxError(f"cannot tokenize at {sql[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        if kind == "num":
            sm = re.match(
                r"^(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?([A-Za-z]*)$", m.group()
            )
            if sm is None or sm.group(1).lower() not in _NUM_SUFFIXES:
                # the reference rejects malformed literals like 100ss and
                # 0xFF (error_unsupport_sql.yaml id 6, error_query id 6);
                # valid suffixes are the type markers (L/f/s for i16) and
                # the interval units (10s/5m/2h/1d/100ms/3min)
                raise SyntaxError(f"malformed numeric literal {m.group()!r}")
        out.append(Tok(kind, m.group()))
    return out


#: allowed alpha suffixes on numeric literals: type markers + interval units
_NUM_SUFFIXES = {"", "l", "f", "s", "m", "h", "d", "ms", "min"}


def render(tokens: list[Tok]) -> str:
    """Tokens -> SQL text with minimal spacing (good enough for F.expr)."""
    parts: list[str] = []
    prev: Optional[Tok] = None
    for t in tokens:
        if prev is not None:
            # no space around '.', before '(' of a call, after '(' etc. is
            # unnecessary — Spark's parser is whitespace-insensitive; we only
            # must NOT glue two words/numbers together
            glue = prev.text in ".([" or t.text in ".,()[]" or t.text == "("
            if prev.kind in ("name", "num", "str") and t.kind in ("name", "num", "str"):
                glue = False
            parts.append("" if glue else " ")
        parts.append(t.text)
        prev = t
    return "".join(parts)


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class SelectItem:
    expr: list[Tok]                      # full expression tokens (sans alias)
    alias: Optional[str]
    #: set when the item is `agg(args...) OVER wname` at top level
    over: Optional["OverCall"] = None
    star: bool = False                   # bare `*` or `t.*`
    star_qualifier: Optional[str] = None


@dataclass
class OverCall:
    func: str
    args: list[list[Tok]]               # top-level-comma-split arg token lists
    window: str                          # named window reference
    #: anonymous inline spec tokens: `OVER (PARTITION BY ... ROWS ...)` —
    #: parse_select registers it under a generated name and rewrites this
    inline: Optional[list[Tok]] = None


@dataclass
class TableRef:
    name: Optional[str] = None           # plain table
    subquery: Optional["Query"] = None
    alias: Optional[str] = None

    @property
    def bind_name(self) -> Optional[str]:
        return self.alias or self.name


@dataclass
class Join:
    kind: str                            # 'last' | 'left'
    table: TableRef
    on: Optional[list[Tok]]              # condition tokens
    #: LAST JOIN ORDER BY col[, tiebreak col...] — the dialect allows one ts
    #: column; we accept a list so ties can be broken deterministically
    order_by: Optional[list[list[Tok]]] = None


@dataclass
class WindowClause:
    name: str
    partition_by: list[list[Tok]]
    order_by: Optional[list[Tok]]
    frame_kind: str                      # 'rows' | 'rows_range'
    #: lower bound: ('preceding', n_or_interval) | ('unbounded', None)
    lower: tuple[str, Optional[str]] = ("unbounded", None)
    open_preceding: bool = False
    #: upper bound: ('current', None) | ('preceding', n_or_interval)
    #: (the dialect allows `AND n [unit] PRECEDING`, e.g.
    #: cases/function/function/test_udaf_function.yaml:2737)
    upper: tuple[str, Optional[str]] = ("current", None)
    maxsize: Optional[int] = None
    exclude_current_time: bool = False
    exclude_current_row: bool = False
    instance_not_in_window: bool = False
    union_tables: list[TableRef] = field(default_factory=list)


@dataclass
class Select:
    items: list[SelectItem]
    from_: Optional[TableRef]
    joins: list[Join] = field(default_factory=list)
    where: Optional[list[Tok]] = None
    group_by: list[list[Tok]] = field(default_factory=list)
    having: Optional[list[Tok]] = None
    windows: dict[str, WindowClause] = field(default_factory=dict)
    limit: Optional[int] = None
    distinct: bool = False
    #: CONFIG (k='v', ...) execution hints (e.g. skew_buckets)
    config: dict[str, str] = field(default_factory=dict)


@dataclass
class SetOp:
    op: str                              # 'union' | 'except' | 'intersect'
    all: bool
    left: "Query"
    right: "Query"


@dataclass
class Query:
    body: object                         # Select | SetOp
    ctes: list[tuple[str, "Query"]] = field(default_factory=list)
    limit: Optional[int] = None


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_CLAUSE_STOPS = {
    "FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "LIMIT", "UNION",
    "ORDER", "ON", ")", ";", "LAST", "LEFT", "RIGHT", "FULL", "INNER", "JOIN",
    "CONFIG", "ROWS", "ROWS_RANGE", "PARTITION", "EXCEPT", "INTERSECT",
}


class Parser:
    def __init__(self, tokens: list[Tok]):
        self.toks = tokens
        self.i = 0

    # -- token helpers ------------------------------------------------------
    def peek(self, off: int = 0) -> Optional[Tok]:
        j = self.i + off
        return self.toks[j] if j < len(self.toks) else None

    def at(self, *uppers: str) -> bool:
        t = self.peek()
        return t is not None and t.upper in uppers

    def eat(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, upper: str) -> Tok:
        t = self.peek()
        if t is None or t.upper != upper:
            raise SyntaxError(f"expected {upper}, got {t.text if t else 'EOF'!r}")
        return self.eat()

    def accept(self, upper: str) -> bool:
        if self.at(upper):
            self.eat()
            return True
        return False

    # -- entry --------------------------------------------------------------
    def parse_query(self) -> Query:
        ctes: list[tuple[str, Query]] = []
        if self.accept("WITH"):
            while True:
                name = self.eat().text
                self.expect("AS")
                self.expect("(")
                q = self.parse_query()
                self.expect(")")
                ctes.append((name, q))
                if not self.accept(","):
                    break
        if self.at("("):
            # parenthesized LEFT arm of a set operation:
            # `(SELECT ... LIMIT 10) UNION ALL ...` (reference
            # cases/plan/union_query.yaml id 5)
            self.expect("(")
            lq = self.parse_query()
            self.expect(")")
            body: object = lq
        else:
            body = self.parse_select()
        prev_union_all: Optional[bool] = None
        trailing_limit: Optional[int] = None
        if (
            self.at("UNION", "EXCEPT", "INTERSECT")
            and isinstance(body, Select)
            and body.limit is not None
        ):
            # an unparenthesized LIMIT cannot feed a set operation —
            # parenthesize the arm (union_query.yaml id 4 vs id 5)
            raise SyntaxError("LIMIT before a set operation requires parentheses")
        while self.at("UNION", "EXCEPT", "INTERSECT"):
            op = self.eat().upper.lower()
            all_ = False
            if self.accept("ALL"):
                all_ = True
            elif not self.accept("DISTINCT") and op == "union":
                # the reference's grammar requires UNION ALL or UNION
                # DISTINCT — bare UNION is a parse error
                # (cases/plan/union_query.yaml ids 2-4)
                raise SyntaxError("UNION requires ALL or DISTINCT")
            if op == "union":
                if prev_union_all is not None and prev_union_all != all_:
                    # a flat chain may not mix ALL and DISTINCT
                    # (union_query.yaml id 3; parenthesize to mix, id 5)
                    raise SyntaxError("cannot mix UNION ALL and UNION DISTINCT")
                prev_union_all = all_
            if self.at("("):
                # parenthesized right arm: `... union all (select ... union
                # all select ...)` — nested set ops group to the right
                self.expect("(")
                rq = self.parse_query()
                self.expect(")")
            else:
                rq = Query(self.parse_select())
                if rq.body.limit is not None:
                    if self.at("UNION", "EXCEPT", "INTERSECT"):
                        # same rule as the first arm: an unparenthesized
                        # LIMIT cannot feed the next set operation
                        raise SyntaxError(
                            "LIMIT before a set operation requires parentheses"
                        )
                    # trailing LIMIT binds to the WHOLE set operation
                    # (ANSI), not the last arm
                    trailing_limit = rq.body.limit
                    rq.body.limit = None
            body = SetOp(op, all_, Query(body), rq)
        q = Query(body, ctes)
        if trailing_limit is not None:
            q.limit = trailing_limit
        if self.accept("LIMIT"):
            q.limit = int(self.eat().text)
        self.accept(";")
        return q

    # -- SELECT -------------------------------------------------------------
    def parse_select(self) -> Select:
        self.expect("SELECT")
        distinct = self.accept("DISTINCT")
        items = self.parse_select_items()
        sel = Select(items, None, distinct=distinct)
        if self.accept("FROM"):
            sel.from_ = self.parse_table_ref()
            while self.at("LAST", "LEFT", "JOIN", "INNER", "RIGHT", "FULL"):
                sel.joins.append(self.parse_join())
        if self.accept("WHERE"):
            sel.where = self.take_expr()
        if self.accept("GROUP"):
            self.expect("BY")
            sel.group_by = self.take_expr_list()
        if self.accept("HAVING"):
            sel.having = self.take_expr()
        if self.accept("WINDOW"):
            while True:
                w = self.parse_window_def()
                if w.name in sel.windows:
                    # the reference rejects duplicate window names
                    # (cases/plan/error_query.yaml id 2)
                    raise SyntaxError(f"duplicate window name {w.name!r}")
                sel.windows[w.name] = w
                if not self.accept(","):
                    break
        # anonymous inline windows: register each `OVER (...)` spec under a
        # generated name and normalize the item to `... OVER __anon_wN`
        for n, it in enumerate(sel.items):
            if it.over is None or it.over.inline is None:
                continue
            name = f"__anon_w{n}"
            sub = Parser(it.over.inline)
            sub.expect("(")
            sel.windows[name] = sub.parse_window_body(name)
            if sub.peek() is not None:
                raise SyntaxError(
                    f"trailing tokens after inline window: {sub.peek().text!r}"
                )
            it.over.window = name
            it.over.inline = None
            # truncate the expr's `OVER ( ... )` tail to `OVER name` so the
            # composite path's expr[:-2] invariant holds
            depth = 0
            for i, t in enumerate(it.expr):
                if t.text == "(":
                    depth += 1
                elif t.text == ")":
                    depth -= 1
                elif depth == 0 and t.upper == "OVER":
                    it.expr = it.expr[: i + 1] + [Tok("name", name)]
                    break
        # every named OVER reference must resolve to a defined window
        # (cases/plan/error_query.yaml id 3)
        for it in sel.items:
            if it.over is not None and it.over.window and it.over.window not in sel.windows:
                raise SyntaxError(f"undefined window {it.over.window!r}")
        if self.accept("LIMIT"):
            sel.limit = int(self.eat().text)
        if self.accept("CONFIG"):      # CONFIG (k='v', ...) — execution hints
            sel.config = self.parse_config()
        return sel

    def parse_config(self) -> dict[str, str]:
        self.expect("(")
        out: dict[str, str] = {}
        while not self.accept(")"):
            key = self.eat().text.lower()
            self.expect("=")
            val = self.eat().text
            if val and val[0] in "'\"":
                val = val[1:-1]
            out[key] = val
            self.accept(",")
        return out

    def parse_select_items(self) -> list[SelectItem]:
        items = []
        while True:
            items.append(self.parse_select_item())
            if not self.accept(","):
                break
            # tolerate a trailing comma before FROM/WINDOW/... (the
            # reference corpus has them, e.g. udaf_query.yaml id 7)
            nxt = self.peek()
            if nxt is None or nxt.upper in _CLAUSE_STOPS:
                break
        return items

    def parse_select_item(self) -> SelectItem:
        # star forms
        if self.at("*"):
            self.eat()
            return SelectItem([], None, star=True)
        t0, t1, t2 = self.peek(), self.peek(1), self.peek(2)
        if (
            t0 is not None and t0.kind == "name"
            and t1 is not None and t1.text == "."
            and t2 is not None and t2.text == "*"
        ):
            q = self.eat().text
            self.eat(); self.eat()
            return SelectItem([], None, star=True, star_qualifier=q)

        expr = self.take_expr(stop_on_alias=True)
        over: Optional[OverCall] = None
        # detect trailing `OVER wname` at depth 0 inside expr? OVER binds to a
        # call: pattern  name ( args ) OVER wname  — find it at top level
        over, expr = _extract_over(expr)
        alias: Optional[str] = None
        if self.accept("AS"):
            alias = _unquote(self.eat().text)
        elif (
            self.peek() is not None
            and self.peek().kind == "name"
            and self.peek().upper not in _CLAUSE_STOPS
        ):
            alias = _unquote(self.eat().text)
        return SelectItem(expr, alias, over=over)

    # -- FROM / joins -------------------------------------------------------
    def parse_table_ref(self) -> TableRef:
        if self.accept("("):
            q = self.parse_query()
            self.expect(")")
            ref = TableRef(subquery=q)
        else:
            name = self.eat().text
            # db.table: keep the full dotted name — the Engine mangles
            # KNOWN-db qualifiers to flat tokens before parse, so a dotted
            # name here is either an unknown db (resolution fails with a
            # clear error, matching the reference) or a real Spark-catalog
            # table (db.t resolves via spark.table)
            dots = 0
            while self.at("."):
                self.eat()
                name = f"{name}.{self.eat().text}"
                dots += 1
            if dots > 1:
                # table refs are at most db.table
                # (error_unsupport_sql.yaml id 8-1)
                raise SyntaxError(f"table reference deeper than db.table: {name!r}")
            ref = TableRef(name=_unquote(name))
        if self.accept("AS"):
            ref.alias = _unquote(self.eat().text)
        elif (
            self.peek() is not None
            and self.peek().kind == "name"
            and self.peek().upper not in _CLAUSE_STOPS
            and self.peek().upper != "AS"
        ):
            ref.alias = _unquote(self.eat().text)
        return ref

    def parse_join(self) -> Join:
        kind: str
        if self.accept("LAST"):
            self.expect("JOIN")
            kind = "last"
        elif self.accept("LEFT"):
            self.accept("OUTER")
            self.expect("JOIN")
            kind = "left"
        elif self.accept("RIGHT"):
            self.accept("OUTER")
            self.expect("JOIN")
            kind = "right"
        elif self.accept("FULL"):
            self.accept("OUTER")
            self.expect("JOIN")
            kind = "full"
        elif self.accept("INNER"):
            self.expect("JOIN")
            kind = "inner"
        elif self.accept("JOIN"):
            kind = "inner"
        else:
            raise SyntaxError(f"unsupported join at {self.peek().text!r}")
        table = self.parse_table_ref()
        order_by: Optional[list[list[Tok]]] = None
        if self.accept("ORDER"):
            self.expect("BY")
            order_by = self.take_expr_list()
        on: Optional[list[Tok]] = None
        if self.accept("ON"):
            on = self.take_expr()
        return Join(kind, table, on, order_by)

    # -- WINDOW clause ------------------------------------------------------
    def parse_window_def(self) -> WindowClause:
        name = self.eat().text
        self.expect("AS")
        self.expect("(")
        return self.parse_window_body(name)

    def parse_window_body(self, name: str) -> WindowClause:
        """Window spec after the opening '(' — shared by named WINDOW-clause
        definitions and anonymous inline `OVER (...)` specs."""
        union_tables: list[TableRef] = []
        if self.accept("UNION"):
            while True:
                union_tables.append(self.parse_table_ref())
                if not self.accept(","):
                    break
        partition_by: list[list[Tok]] = []
        order_by: Optional[list[Tok]] = None
        if self.accept("PARTITION"):
            self.expect("BY")
            partition_by = self.take_expr_list()
        if self.accept("ORDER"):
            self.expect("BY")
            order_by = self.take_expr()
            # strip ASC/DESC (dialect: ASC only; reject DESC loudly in lowering)
            if order_by and order_by[-1].upper in ("ASC", "DESC"):
                if order_by[-1].upper == "DESC":
                    raise SyntaxError("window ORDER BY DESC is not in the dialect")
                order_by = order_by[:-1]
        w = WindowClause(name, partition_by, order_by, "rows", union_tables=union_tables)
        # frame
        if self.at("ROWS_RANGE"):
            self.eat()
            w.frame_kind = "rows_range"
        elif self.at("ROWS"):
            self.eat()
            w.frame_kind = "rows"
        else:
            raise SyntaxError(f"expected ROWS/ROWS_RANGE, got {self.peek().text!r}")
        self.expect("BETWEEN")
        w.open_preceding = self.accept("OPEN")
        if self.accept("UNBOUNDED"):
            self.expect("PRECEDING")
            w.lower = ("unbounded", None)
        elif self.accept("CURRENT"):
            self.expect("ROW")
            w.lower = ("preceding", "0")
        else:
            v = self.eat().text
            # the reference grammar also places OPEN after the bound value
            # ('4s OPEN PRECEDING', test_window_exclude_current_time.yaml)
            w.open_preceding = w.open_preceding or self.accept("OPEN")
            self.expect("PRECEDING")
            w.lower = ("preceding", v)
        self.expect("AND")
        if self.accept("CURRENT"):
            self.expect("ROW")
        else:
            # `BETWEEN x PRECEDING AND y PRECEDING` — bounded upper end
            # (reference YAML uses e.g. `10s preceding and 1s preceding`);
            # `0 PRECEDING` == CURRENT ROW. `y OPEN PRECEDING` excludes the
            # endpoint (test_current_row.yaml ids 12/13). A NEGATIVE upper
            # offset clamps to CURRENT ROW — the reference's storage
            # iterator never reads past the instance row
            # (test_window_row_range.yaml id 45: `-1 PRECEDING`).
            neg = self.accept("-")
            v = self.eat().text
            open_upper = self.accept("OPEN")
            self.expect("PRECEDING")
            if neg:
                pass  # clamped: upper stays CURRENT ROW
            elif open_upper:
                w.upper = ("open_preceding", v)
            elif v not in ("0",):
                w.upper = ("preceding", v)
        # attributes, any order
        while True:
            if self.accept("MAXSIZE"):
                w.maxsize = int(self.eat().text)
                if w.maxsize <= 0:
                    # the reference rejects MAXSIZE 0 (test_maxsize id 3)
                    raise SyntaxError("MAXSIZE must be a positive integer")
            elif self.at("EXCLUDE"):
                self.eat()
                which = self.eat().upper
                if which == "CURRENT_TIME":
                    w.exclude_current_time = True
                elif which == "CURRENT_ROW":
                    w.exclude_current_row = True
                else:
                    raise SyntaxError(f"unknown EXCLUDE {which}")
            elif self.accept("INSTANCE_NOT_IN_WINDOW"):
                w.instance_not_in_window = True
            else:
                break
        self.expect(")")
        if w.maxsize is not None and w.frame_kind == "rows":
            # the reference only allows MAXSIZE on ROWS_RANGE frames
            # (error_window.yaml id 13, plan error_query.yaml ids 4/5)
            raise SyntaxError("MAXSIZE is only supported on ROWS_RANGE frames")
        if w.upper is not None and w.lower and w.lower[0] == "preceding":
            lo, up = _bound_ms(w.lower[1]), _bound_ms(w.upper[1])
            if lo is not None and up is not None and lo < up:
                # start bound must reach at least as far back as the end
                # bound (plan error_query.yaml ids 7/8)
                raise SyntaxError(
                    "window frame start bound must precede its end bound"
                )
        return w

    # -- expression slices --------------------------------------------------
    def take_expr(self, stop_on_alias: bool = False) -> list[Tok]:
        """Consume tokens until a top-level clause boundary / comma."""
        out: list[Tok] = []
        depth = 0
        while self.peek() is not None:
            t = self.peek()
            if depth == 0:
                if t.text in (",", ")", ";"):
                    break
                if t.kind == "name" and t.upper in _CLAUSE_STOPS and t.upper != "ON":
                    break
                if t.upper == "ON":
                    break
                if stop_on_alias and t.upper == "AS":
                    break
                # bare alias: name following a complete expression — handled
                # by caller via parse_select_item; here we must stop when a
                # name directly follows a name/num/str/')' (two adjacent
                # primaries = alias boundary)
                if (
                    stop_on_alias
                    and t.kind == "name"
                    and out
                    and (out[-1].kind in ("name", "num", "str") or out[-1].text in ")]")
                    and t.upper not in _EXPR_KEYWORDS
                    # the previous word expects an operand (OVER w1, NOT x,
                    # MOD y...) — the name completes it, not an alias
                    and out[-1].upper not in (_EXPR_KEYWORDS - _COMPLETE_KEYWORDS)
                ):
                    break
            if t.text == "(" or t.text == "[":
                depth += 1
            elif t.text == ")" or t.text == "]":
                if depth == 0:
                    break
                depth -= 1
            out.append(self.eat())
        if not out:
            raise SyntaxError(f"empty expression at {self.peek().text if self.peek() else 'EOF'!r}")
        return out

    def take_expr_list(self) -> list[list[Tok]]:
        items = [self.take_expr()]
        while self.accept(","):
            items.append(self.take_expr())
        return items


#: words that may legally appear *inside* an expression (so a name after a
#: primary is not an alias boundary when it's one of these)
_EXPR_KEYWORDS = {
    "AND", "OR", "NOT", "XOR", "IN", "BETWEEN", "LIKE", "ILIKE", "RLIKE",
    "IS", "NULL", "TRUE", "FALSE", "CASE", "WHEN", "THEN", "ELSE", "END",
    "CAST", "AS", "OVER", "DISTINCT", "INTERVAL", "DAY", "HOUR", "MINUTE",
    "SECOND", "ESCAPE", "DIV", "MOD",
}

#: expression keywords that are themselves complete operands — a name right
#: after one of these IS an alias boundary
_COMPLETE_KEYWORDS = {"NULL", "TRUE", "FALSE", "END", "DAY", "HOUR", "MINUTE", "SECOND"}


def _extract_over(expr: list[Tok]) -> tuple[Optional[OverCall], list[Tok]]:
    """If expr is exactly `fname ( args ) OVER wname`, build the OverCall."""
    if len(expr) < 4:
        return None, expr
    # find depth-0 OVER
    depth = 0
    over_i = -1
    for i, t in enumerate(expr):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.upper == "OVER":
            over_i = i
            break
    if over_i < 0:
        return None, expr
    head = expr[:over_i]
    tail = expr[over_i + 1:]
    inline: Optional[list[Tok]] = None
    if len(tail) >= 2 and tail[0].text == "(":
        # anonymous window: OVER (PARTITION BY ... ORDER BY ... frame)
        # (test_window_row_range.yaml id 28) — registered under a generated
        # name by parse_select
        inline = tail
        wname = ""
    elif len(tail) != 1 or tail[0].kind != "name":
        # OVER embedded mid-expression (`case when isnull(lag(d1,1) over w)
        # then distinct_count(d1) over w ... end`, test_window_union.yaml
        # id 16-2) — not a tail OverCall; lowering splits the embedded
        # over-calls out of the scalar shell itself
        return None, expr
    else:
        wname = tail[0].text
    # plain form:  name ( ... ) OVER w
    if len(head) >= 3 and head[0].kind == "name" and head[1].text == "(" and head[-1].text == ")":
        fname = head[0].text.lower()
        args = _split_args(head[2:-1])
        return OverCall(fname, args, wname, inline=inline), expr
    # composite form: an arbitrary expression of aggregates, e.g.
    # `(sum(a) + count(b)) OVER w` — lowering splits the nested aggregates
    return OverCall("", [], wname, inline=inline), expr


def _split_args(tokens: list[Tok]) -> list[list[Tok]]:
    args: list[list[Tok]] = []
    cur: list[Tok] = []
    depth = 0
    for t in tokens:
        if t.text in "([":
            depth += 1
        elif t.text in ")]":
            depth -= 1
        if t.text == "," and depth == 0:
            args.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        args.append(cur)
    return [a for a in args if a]


def _unquote(name: str) -> str:
    if name.startswith("`") and name.endswith("`"):
        return name[1:-1]
    return name


#: interval multipliers for frame-bound comparison (ms)
_BOUND_MULT = {"": 1, "ms": 1, "s": 1000, "m": 60000, "min": 60000,
               "h": 3600000, "d": 86400000}


def _bound_ms(v) -> Optional[int]:
    """Frame-bound literal -> milliseconds (plain ints pass through as-is,
    so ROWS counts compare correctly too). None if not a simple literal."""
    m = re.match(r"^(\d+)(ms|s|min|m|h|d)?$", str(v), re.IGNORECASE)
    if not m:
        return None
    return int(m.group(1)) * _BOUND_MULT[(m.group(2) or "").lower()]


#: constructs the reference's parser rejects outright
#: (cases/plan/error_unsupport_sql.yaml)
_REJECTED_KEYWORDS = {"PIVOT", "UNPIVOT", "TABLESAMPLE", "UNNEST"}


def parse(sql: str) -> Query:
    toks = tokenize(sql)
    for i, t in enumerate(toks):
        if t.kind == "name" and t.upper in _REJECTED_KEYWORDS:
            raise SyntaxError(f"{t.upper} is not in the dialect")
        # empty IN list (error_unsupport_sql.yaml in_predicate_fail)
        if (
            t.upper == "IN"
            and i + 2 < len(toks)
            and toks[i + 1].text == "("
            and toks[i + 2].text == ")"
        ):
            raise SyntaxError("IN () requires at least one element")
        # name paths deeper than db.table.column
        # (error_unsupport_sql.yaml ids 7/8-2)
        if (
            t.text == "."
            and i >= 5
            and all(toks[i - k].text == "." for k in (2, 4))
            and all(toks[i - k].kind == "name" for k in (1, 3, 5))
        ):
            raise SyntaxError("name path deeper than db.table.column")
    p = Parser(toks)
    q = p.parse_query()
    if p.peek() is not None:
        # trailing unparsed tokens would be silently dropped otherwise —
        # reject like the reference (FOR SYSTEM_TIME, WITH OFFSET, ...)
        raise SyntaxError(f"unexpected trailing tokens: {p.peek().text!r}")
    return q


def render_literal(v) -> str:
    """One python value -> SQL literal text (for `?` parameter binding)."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite parameter {v!r} has no SQL literal")
        return repr(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"unsupported parameter type {type(v).__name__}")


def substitute_params(text: str, params) -> str:
    """Bind positional ``?`` placeholders to ``params`` as SQL literals —
    the prepared-query surface of the reference
    (``cases/query/parameterized_query.yaml``; its SDK binds a parameter
    row against ? markers). Spark-first lowering: parameters are folded to
    constant literals BEFORE parse, so Catalyst constant-folds them and
    pushes parameterized predicates down to the scan exactly like
    hand-written literals (the reference's planner similarly resolves
    ?N against its parameter row at compile time).

    Quoted strings (single or double, with doubled-quote or backslash
    escapes) are skipped, so a literal '?' in the query text is never
    substituted."""
    params = list(params)
    out: list[str] = []
    i, n, used = 0, len(text), 0
    while i < n:
        ch = text[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if text[j] == "\\":
                    j += 2
                    continue
                if text[j] == ch:
                    if j + 1 < n and text[j + 1] == ch:  # doubled-quote escape
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i : j + 1])
            i = j + 1
            continue
        if ch == "?":
            if used >= len(params):
                raise ValueError(
                    f"query has more than {len(params)} '?' placeholders"
                )
            out.append(render_literal(params[used]))
            used += 1
            i += 1
            continue
        out.append(ch)
        i += 1
    if used != len(params):
        raise ValueError(
            f"query has {used} '?' placeholders but {len(params)} parameters"
        )
    return "".join(out)
