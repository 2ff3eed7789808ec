"""Shared constants and token/option helpers for the engine package."""

from __future__ import annotations

import re
from typing import Optional

from openmldb_spark.sql.parser import Tok, render

_TYPES = {
    "bool": "boolean", "boolean": "boolean",
    "smallint": "short", "int16": "short",
    "int": "int", "int32": "int", "integer": "int",
    "bigint": "long", "int64": "long",
    "float": "float", "double": "double",
    "date": "date", "timestamp": "timestamp",
    "string": "string", "varchar": "string",
}


# -- token helpers -----------------------------------------------------------


#: statement words that can precede/be a name token without declaring an
#: alias — used by _declared_aliases to avoid reading keywords as aliases
_ALIAS_STOPWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "WINDOW", "LIMIT",
    "UNION", "ALL", "DISTINCT", "ORDER", "ON", "LAST", "LEFT", "RIGHT",
    "INNER", "JOIN", "CONFIG", "ROWS", "ROWS_RANGE", "PARTITION", "EXCEPT",
    "INTERSECT", "AND", "OR", "NOT", "XOR", "IN", "BETWEEN", "LIKE",
    "ILIKE", "RLIKE", "IS", "NULL", "TRUE", "FALSE", "CASE", "WHEN",
    "THEN", "ELSE", "END", "CAST", "AS", "OVER", "INTERVAL", "DAY",
    "HOUR", "MINUTE", "SECOND", "ESCAPE", "DIV", "MOD", "DESC", "ASC",
    "PRECEDING", "FOLLOWING", "CURRENT", "CURRENT_ROW", "CURRENT_TIME",
    "UNBOUNDED", "OPEN", "MAXSIZE", "EXCLUDE", "INSTANCE_NOT_IN_WINDOW",
    "INTO", "OUTFILE", "OPTIONS", "VALUES", "TABLE", "INDEX", "KEY", "TS",
    "TTL", "TTL_TYPE",
}


def _like_to_regex(pattern: str) -> str:
    """SQL LIKE pattern -> anchored-regex body (% -> .*, _ -> .)."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def _infer_fmt(path: str) -> str:
    """Offline-path format when the table has none recorded yet: by
    extension, else the LOAD DATA default (csv)."""
    p = path.rstrip("/").lower()
    for fmt in ("parquet", "json", "tsv"):
        if p.endswith("." + fmt):
            return fmt
    return "csv"


def _declared_aliases(toks: list[Tok]) -> set[str]:
    """Names declared as table/subquery/column aliases in a token stream:
    a name after AS, or a name directly following another name / ')' in an
    alias position (``FROM t d``, ``) d``). Over-detection is safe — it only
    widens the set of qualifiers _mangle_sql leaves alone, and a genuine
    db-qualified ref never has its db token in alias position."""
    out: set[str] = set()
    for k in range(1, len(toks)):
        t = toks[k]
        if t.kind != "name" or t.upper in _ALIAS_STOPWORDS:
            continue
        prev = toks[k - 1]
        if prev.kind == "name" and prev.upper == "AS":
            out.add(t.text)
            continue
        if prev.text == ")" or (
            prev.kind == "name" and prev.upper not in _ALIAS_STOPWORDS
        ):
            nxt = toks[k + 1] if k + 1 < len(toks) else None
            if nxt is not None and nxt.text in ("(", "."):
                continue  # function call / qualifier, not an alias
            out.add(t.text)
    return out


def _split_commas(toks: list[Tok], angles: bool = False) -> list[list[Tok]]:
    """Split on top-level commas. ``angles=True`` additionally treats
    ``<...>`` as nesting — for CREATE TABLE bodies, where MAP<K, V> column
    types carry commas (never for expression lists, where ``<`` compares)."""
    out: list[list[Tok]] = []
    cur: list[Tok] = []
    depth = 0
    for t in toks:
        if t.text in "([" or (angles and t.text == "<"):
            depth += 1
        elif t.text in ")]" or (angles and t.text == ">"):
            depth -= 1
        if t.text == "," and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        out.append(cur)
    return out


def _parse_coltype(item: list[Tok], k: int) -> tuple[str, int]:
    """Column type at item[k:] -> (Spark DDL type, next index). Handles the
    reference's composite types (cases/plan/create.yaml id 35,
    map_data_type): ARRAY<T> / MAP<K, V>, arbitrarily nested."""
    if k >= len(item):
        raise ValueError("unterminated composite column type")
    base = item[k].text.strip("`").lower()
    if base in ("array", "map") and k + 1 < len(item) and item[k + 1].text == "<":
        t1, k = _parse_coltype(item, k + 2)
        if base == "map":
            if k >= len(item) or item[k].text != ",":
                raise ValueError("MAP<K, V> expected")
            t2, k = _parse_coltype(item, k + 1)
            if k >= len(item) or item[k].text != ">":
                raise ValueError("unterminated MAP<...> type")
            return f"map<{t1},{t2}>", k + 1
        if k >= len(item) or item[k].text != ">":
            raise ValueError("unterminated ARRAY<...> type")
        return f"array<{t1}>", k + 1
    t = _TYPES.get(base)
    if t is None:
        raise ValueError(f"unknown column type {item[k].text!r}")
    return t, k + 1


def _match_paren(toks: list[Tok], i: int) -> int:
    depth = 0
    for j in range(i, len(toks)):
        if toks[j].text == "(":
            depth += 1
        elif toks[j].text == ")":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parens")


def _literal(toks: list[Tok]):
    if len(toks) == 2 and toks[0].text == "-" and toks[1].kind == "num":
        toks = [Tok("num", "-" + toks[1].text)]
    if len(toks) != 1:
        raise ValueError(f"unsupported literal: {render(toks)}")
    t = toks[0]
    if t.kind == "str":
        return t.text[1:-1]
    if t.kind == "num":
        txt = t.text
        # dialect literal suffixes: 123L (long), 1.5f (float)
        if txt[-1] in "Ll" and txt[:-1].lstrip("-").isdigit():
            return int(txt[:-1])
        if txt[-1] in "Ff" and txt[:-1].replace(".", "", 1).lstrip("-").isdigit():
            return float(txt[:-1])
        return float(txt) if ("." in txt or "e" in txt.lower()) else int(txt)
    u = t.upper
    if u == "NULL":
        return None
    if u == "TRUE":
        return True
    if u == "FALSE":
        return False
    raise ValueError(f"unsupported literal {t.text!r}")


def _coerce(v, dtype):
    """INSERT literal -> python value for the declared column type (the
    dialect writes timestamps as ms-epoch ints or 'Y-m-d H:M:S' strings)."""
    from datetime import date, datetime, timezone

    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    if v is None:
        return None
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        if isinstance(v, (int, float)):
            return datetime.fromtimestamp(v / 1000.0, tz=timezone.utc).replace(tzinfo=None)
        return datetime.fromisoformat(str(v))
    if isinstance(dtype, DateType):
        return date.fromisoformat(str(v)) if not isinstance(v, date) else v
    return v


def _split_statements(script: str) -> list[str]:
    """Split on ';' outside string literals / comments."""
    stmts, cur, i, n = [], [], 0, len(script)
    while i < n:
        c = script[i]
        if c in "'\"":
            j = i + 1
            while j < n and (script[j] != c or script[j - 1] == "\\"):
                j += 1
            cur.append(script[i : j + 1])
            i = j + 1
            continue
        if c == "-" and script[i : i + 2] == "--":
            j = script.find("\n", i)
            i = n if j < 0 else j
            continue
        if c == ";":
            s = "".join(cur).strip()
            if s:
                stmts.append(s)
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    s = "".join(cur).strip()
    if s:
        stmts.append(s)
    return stmts


def _parse_options(opts_s: str, quoted: Optional[set] = None) -> dict[str, str]:
    """Option keys are case-insensitive; VALUES keep their original case —
    null_value='NULL', a quote char, or a path are case-significant.
    Keyword-valued options (mode/format/header) lowercase at the consumer.
    ``quoted`` (if given) collects keys whose value was a quoted string —
    the reference type-checks option values (header must be an unquoted
    bool literal; test_out_in id 13)."""
    parts: list[str] = []
    cur: list[str] = []
    q: Optional[str] = None
    for ch in opts_s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == ",":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    opts: dict[str, str] = {}
    for part in parts:
        if "=" not in part:
            continue
        k, v = part.split("=", 1)
        k, v = k.strip().lower(), v.strip()
        if quoted is not None and len(v) >= 2 and v[0] in "'\"" and v[-1] == v[0]:
            quoted.add(k)
        opts[k] = v.strip("'\"")
    return opts


#: SET-able system variables: the reference's supported set
#: (SET_STATEMENT.md) plus this repo's ttl_now_ms extension (pins "now"
#: for deterministic TTL tests)
_KNOWN_VARIABLES = {
    "execute_mode",
    "enable_trace",
    "sync_job",
    "sync_timeout",
    "job_timeout",
    "spark_config",
    "insert_memory_usage_limit",
    "ttl_now_ms",
}

#: where a SELECT's ``INTO OUTFILE '<path>' [OPTIONS(...)]`` tail starts
_INTO_OUTFILE = re.compile(r"\bINTO\s+OUTFILE\s+", re.IGNORECASE)

#: option keys the reference's LOAD DATA / SELECT INTO accept
#: (LOAD_DATA_STATEMENT.md:53-66 / SELECT_INTO_STATEMENT.md) — unknown
#: keys are rejected (test_out_in id 12)
_LOAD_OPTS = {"format", "delimiter", "header", "null_value", "quote", "mode", "deep_copy", "load_mode", "thread"}
_OUTFILE_OPTS = {"format", "delimiter", "header", "null_value", "quote", "mode", "coalesce"}
_BOOL_OPTS = {"header", "deep_copy"}


def _check_options(opts: dict, quoted: set, allowed: set, what: str) -> None:
    for k in opts:
        if k not in allowed:
            raise ValueError(f"unknown {what} option {k!r}")
        if k in _BOOL_OPTS:
            if k in quoted or opts[k].lower() not in ("true", "false"):
                raise ValueError(
                    f"{what} option {k!r} must be an unquoted bool literal"
                )
