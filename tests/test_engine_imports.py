"""Every top-level import in ``openmldb_spark/engine/`` must be used by the
module that makes it.

The check is static (``ast`` only, nothing is imported). A name bound by a
top-level ``import`` or ``from … import`` is used when the module's code
names it outside that import: as a bare name, as the base of an attribute
chain, inside a quoted annotation, or in ``__all__`` (a package's
deliberate re-export). ``from __future__`` imports bind nothing.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "openmldb_spark", "engine")


def _imported(tree: ast.Module) -> dict[str, int]:
    """Top-level imported name -> line of its import."""
    out: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                out[a.asname or a.name] = node.lineno
    return out


def _annotation_names(node) -> set[str]:
    """Names inside the string constants of an annotation subtree."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            try:
                sub = ast.parse(n.value, mode="eval")
            except SyntaxError:
                continue
            out |= {m.id for m in ast.walk(sub) if isinstance(m, ast.Name)}
    return out


def _used(tree: ast.Module) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = n.args
            for a in args.posonlyargs + args.args + args.kwonlyargs + [args.vararg, args.kwarg]:
                if a is not None and a.annotation is not None:
                    out |= _annotation_names(a.annotation)
            if n.returns is not None:
                out |= _annotation_names(n.returns)
        elif isinstance(n, ast.AnnAssign):
            out |= _annotation_names(n.annotation)
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            out |= {e.value for e in ast.walk(n.value) if isinstance(e, ast.Constant)}
    return out


def test_engine_modules_use_every_import():
    unused = []
    for fname in sorted(os.listdir(ENGINE)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(ENGINE, fname)) as f:
            tree = ast.parse(f.read())
        used = _used(tree)
        unused += [
            f"{fname}:{line} {name}"
            for name, line in _imported(tree).items()
            if name not in used
        ]
    assert not unused, "unused imports:\n" + "\n".join(unused)
