"""Static-reach gates: every package module is imported by an entry
point, and every top-level package function or class is named by live
code.

The module pass walks ``Import``/``ImportFrom`` nodes (module-level,
function-level and relative) from the CLIs, tools, benchmark harness,
``bench.py`` and ``__spark_entry__.py``. The function pass grows the
live set from those files and the module-level code of every reached
package module: a top-level ``def`` or ``class`` is live once live
code names it (a ``Name``, an ``Attribute`` or an imported alias), and
its body then counts as live code too. Code that only tests reach is
dead to every user of the repo; each gate fails naming it. Pure AST —
starts no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "etl_macropulse_br_spark"

ENTRY_POINTS = [
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / PKG / "__main__.py",
]

UNREACHED_BY_DESIGN = {
    # ROADMAP "Blocked": the fake-backed object-store test matrix stays.
    "operators.objectstore_clients",
}

UNNAMED_BY_DESIGN = {
    # reference twins that tests compare the Spark operators against
    "operators.features.zscore_pandas",
    "operators.features.weighted_sample",
    "functions.exprs.ptbr_format_number",
    # a plan probe that tests use
    "operators.skew.bucketed_join_is_shuffle_free",
    # ROADMAP "Blocked": the object-store lease provider and its fake
    "operators.statelock.ObjectStoreLockProvider",
    "operators.statelock.FakeConditionalStore",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_file(dotted: str) -> Path | None:
    """The source file of a package-local dotted name, or None."""
    if dotted != PKG and not dotted.startswith(PKG + "."):
        return None
    base = ROOT.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _dotted(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Every dotted name ``path`` imports, with its parent packages
    (importing ``a.b.c`` runs ``a`` and ``a.b`` too) and, for
    ``from m import x``, the candidate submodule ``m.x``."""
    is_pkg = path.name == "__init__.py"
    here = _dotted(path).split(".")
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            mods = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = here if is_pkg else here[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            mods = [base] + [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        for mod in mods:
            parts = mod.split(".")
            names.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return names


def _reached() -> set[Path]:
    seen = set(ENTRY_POINTS)
    todo = list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        for name in _imported_names(path):
            target = _module_file(name)
            if target is not None and target not in seen:
                seen.add(target)
                todo.append(target)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = _reached()
    unreached = {
        _dotted(p)[len(PKG) + 1 :]
        for p in (ROOT / PKG).rglob("*.py")
        if p not in reached
    }
    dead = sorted(unreached - UNREACHED_BY_DESIGN)
    assert not dead, f"no entry point imports: {', '.join(dead)}"
    # an exemption an entry point now reaches is stale: drop it
    assert UNREACHED_BY_DESIGN <= unreached


def _names(nodes: list[ast.AST]) -> set[str]:
    """Every identifier ``nodes`` name: loads, stores, attribute
    accesses and imported aliases."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rpartition(".")[2])
    return out


def _unnamed() -> set[str]:
    """``module.name`` of every top-level def or class in a reached
    package module that no live code names."""
    reached = _reached()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(reached):
        body = ast.parse(path.read_text(), filename=str(path)).body
        if path.is_relative_to(ROOT / PKG):
            mod = _dotted(path)[len(PKG) + 1 :]
            for stmt in body:
                if isinstance(stmt, _DEFS):
                    defs.setdefault(stmt.name, []).append((mod, stmt))
                else:
                    roots |= _names([stmt])
        else:
            roots |= _names(body)
    live: set[str] = set()
    seen = set(roots)
    todo = list(roots)
    while todo:
        for mod, node in defs.get(todo.pop(), []):
            live.add(f"{mod}.{node.name}")
            new = _names([node]) - seen
            seen |= new
            todo.extend(new)
    every = {f"{mod}.{n.name}" for ds in defs.values() for mod, n in ds}
    return every - live


def test_every_package_function_is_named_by_live_code():
    unnamed = _unnamed()
    dead = sorted(unnamed - UNNAMED_BY_DESIGN)
    assert not dead, f"only tests name: {', '.join(dead)}"
    # an exemption that live code now names (or that is gone) is stale
    assert UNNAMED_BY_DESIGN <= unnamed
