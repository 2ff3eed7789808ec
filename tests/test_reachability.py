"""Every top-level def in ``openmldb_spark/pipeline/`` and
``openmldb_spark/streaming/`` must be reached from a root, or be a named
test oracle.

The walk is static (``ast`` only, nothing is imported). A def is reached
when a reached def or a loaded module's top-level code names it, directly,
through an import alias, through ``module.attr`` chains, or through a
``from m import *``. Reaching a class reaches all of its methods. Names
inside docstrings and comments are not references.

Roots:

- ``__spark_entry__``: ``entry``, ``queries`` and ``oracle_sql``;
- the Engine SQL surface: every def of every module outside ``pipeline/``
  and ``streaming/`` (this includes ``restful.py``);
- every def in ``perfbench/*.py``, ``bench.py``, ``tools/check_oracle.py``
  and the ``tools/port_*.py`` golden porters.

Tests and the other ``tools/`` scripts are not roots: a library def only a
test calls is dead code, unless it is the oracle a test checks a live def
against (``TEST_ORACLES``).

A second, repo-wide guard covers every def in ``openmldb_spark/``, methods
and nested defs included: its name must appear in some ``.py`` file of the
repository outside the def itself, as an identifier, an attribute, an
imported name or a whole string constant. Hooks a framework calls by name
are listed in ``FRAMEWORK_HOOKS``; dunder methods are exempt.
"""

from __future__ import annotations

import ast
import collections
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "openmldb_spark"
CHECKED = (f"{PKG}.pipeline", f"{PKG}.streaming")

#: unreached defs kept as the oracle of a live def -> the test using it
TEST_ORACLES = {
    f"{PKG}.pipeline.similarity.lsh_topk":
        "tests/test_pipeline.py::test_lsh_topk_join_matches_broadcast_path",
    f"{PKG}.pipeline.similarity.kmeans_centroids":
        "tests/test_pipeline.py::test_ivf_topk_join_with_trained_centroids",
}

#: defs a framework calls by name -> the framework
FRAMEWORK_HOOKS = {
    "log_message": "http.server.BaseHTTPRequestHandler (restful.py handler)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modname(path: str) -> str:
    rel = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


class _Module:
    def __init__(self, path: str):
        self.name = _modname(path)
        is_pkg = path.endswith("__init__.py")
        with open(path) as f:
            self.tree = ast.parse(f.read())
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEFS)}
        #: local name -> ("mod", module) | ("name", module, attr)
        self.imports: dict[str, tuple] = {}
        self.stars: list[str] = []
        for n in ast.walk(self.tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    top = a.name.split(".")[0]
                    self.imports[a.asname or top] = ("mod", a.name if a.asname else top)
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    pkg = self.name.split(".")[: None if is_pkg else -1]
                    pkg = pkg[: len(pkg) - (n.level - 1)]
                    base = ".".join(pkg + ([base] if base else []))
                for a in n.names:
                    if a.name == "*":
                        self.stars.append(base)
                    else:
                        self.imports[a.asname or a.name] = ("name", base, a.name)


def _load_modules() -> dict[str, _Module]:
    paths = []
    for dp, _, fs in os.walk(os.path.join(REPO, PKG)):
        paths += [os.path.join(dp, f) for f in fs if f.endswith(".py")]
    tools = os.path.join(REPO, "tools")
    paths += [os.path.join(tools, f) for f in os.listdir(tools)
              if f == "check_oracle.py" or (f.startswith("port_") and f.endswith(".py"))]
    bench = os.path.join(REPO, "perfbench")
    paths += [os.path.join(bench, f) for f in os.listdir(bench) if f.endswith(".py")]
    paths += [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    return {m.name: m for m in map(_Module, paths)}


class _Walker:
    def __init__(self, mods: dict[str, _Module]):
        self.mods = mods

    def name(self, mod: _Module, name: str, depth: int = 0):
        """What ``name`` means at the top level of ``mod``: ("def", m, n),
        ("mod", m), or None for anything outside the walked files."""
        if depth > 20:
            return None
        if name in mod.defs:
            return ("def", mod.name, name)
        imp = mod.imports.get(name)
        if imp is None:
            for star in mod.stars:
                if star in self.mods and not name.startswith("_"):
                    hit = self.name(self.mods[star], name, depth + 1)
                    if hit:
                        return hit
            return None
        if imp[0] == "mod":
            return imp
        _, base, attr = imp
        if f"{base}.{attr}" in self.mods:
            return ("mod", f"{base}.{attr}")
        if base in self.mods:
            return self.name(self.mods[base], attr, depth + 1)
        return None

    def expr(self, mod: _Module, node):
        if isinstance(node, ast.Name):
            return self.name(mod, node.id)
        if isinstance(node, ast.Attribute):
            base = self.expr(mod, node.value)
            if base and base[0] == "mod":
                sub = f"{base[1]}.{node.attr}"
                if sub in self.mods:
                    return ("mod", sub)
                if base[1] in self.mods:
                    return self.name(self.mods[base[1]], node.attr)
        return None

    def refs(self, mod: _Module, nodes) -> set:
        out = set()
        for top in nodes:
            for n in ast.walk(top):
                if isinstance(n, (ast.Name, ast.Attribute)):
                    hit = self.expr(mod, n)
                    if hit:
                        out.add(hit)
                elif isinstance(n, ast.Import):
                    out.update(("mod", a.name) for a in n.names)
                elif isinstance(n, ast.ImportFrom):
                    # an import loads its module; it references no def
                    for a in n.names:
                        hit = self.name(mod, a.asname or a.name)
                        if hit:
                            out.add(hit if hit[0] == "mod" else ("mod", hit[1]))
        return out

    def reached(self, roots) -> set:
        seen, loaded, todo = set(), set(), list(roots)
        while todo:
            r = todo.pop()
            if r[0] == "mod":
                parts = r[1].split(".")
                for i in range(1, len(parts) + 1):
                    m = ".".join(parts[:i])
                    if m in self.mods and m not in loaded:
                        loaded.add(m)
                        body = [s for s in self.mods[m].tree.body
                                if not isinstance(s, _DEFS)]
                        todo.extend(self.refs(self.mods[m], body))
            elif r not in seen:
                seen.add(r)
                todo.append(("mod", r[1]))
                mod = self.mods[r[1]]
                todo.extend(self.refs(mod, [mod.defs[r[2]]]))
        return {f"{m}.{n}" for _, m, n in seen}


def _roots(mods: dict[str, _Module]) -> list:
    roots = [("def", "__spark_entry__", n) for n in ("entry", "queries", "oracle_sql")]
    roots.append(("mod", "__spark_entry__"))
    for m in mods:
        engine_side = m.startswith(PKG) and not m.startswith(CHECKED)
        if engine_side or not (m.startswith(PKG) or m == "__spark_entry__"):
            roots += [("def", m, n) for n in mods[m].defs] + [("mod", m)]
    return roots


def _unreached() -> list[str]:
    mods = _load_modules()
    seen = _Walker(mods).reached(_roots(mods))
    return sorted(
        f"{m}.{n}"
        for m in mods if m.startswith(CHECKED)
        for n in mods[m].defs if f"{m}.{n}" not in seen
    )


def test_pipeline_and_streaming_defs_are_reached():
    dead = [d for d in _unreached() if d not in TEST_ORACLES]
    assert not dead, (
        "defs no root reaches (delete them, or list a test oracle in "
        f"TEST_ORACLES): {dead}"
    )


def test_oracle_allow_list_is_current():
    """Each allow-listed def is still unreached (else it needs no entry)
    and the named test exists and calls it."""
    unreached = set(_unreached())
    for qual, test_id in TEST_ORACLES.items():
        assert qual in unreached, f"{qual} is reached from a root; drop it"
        path, test_name = test_id.split("::")
        with open(os.path.join(REPO, path)) as f:
            tree = ast.parse(f.read())
        fn = next((n for n in tree.body if isinstance(n, ast.FunctionDef)
                   and n.name == test_name), None)
        assert fn is not None, f"{test_id} not found"
        called = {n.attr if isinstance(n, ast.Attribute) else n.id
                  for n in ast.walk(fn) if isinstance(n, (ast.Attribute, ast.Name))}
        assert qual.rsplit(".", 1)[1] in called, f"{test_id} does not use {qual}"


def _named(node) -> collections.Counter:
    """How often each name appears in ``node`` as an identifier, an
    attribute, an imported name or a whole string constant."""
    out: collections.Counter = collections.Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out[n.value] += 1
    return out


def test_every_library_def_is_named_outside_itself():
    named: collections.Counter = collections.Counter()
    defs = []
    for dp, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "spark-warehouse"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            named += _named(tree)
            rel = os.path.relpath(path, REPO)
            if rel.startswith(PKG + os.sep):
                defs += [(rel, n) for n in ast.walk(tree) if isinstance(n, _DEFS)]
    unnamed = [
        f"{rel}:{d.lineno} {d.name}"
        for rel, d in defs
        if not (d.name.startswith("__") and d.name.endswith("__"))
        and d.name not in FRAMEWORK_HOOKS
        and named[d.name] <= _named(d)[d.name]
    ]
    assert not unnamed, f"defs nothing names outside themselves (delete them): {unnamed}"
