"""Static-reach gate: every package module is imported by an entry point.

Walks ``Import``/``ImportFrom`` nodes (module-level, function-level and
relative) from the CLIs, tools, benchmark harness, ``bench.py`` and
``__spark_entry__.py``. A package module that only tests import is
dead code to every user of the repo; this gate fails naming it. Pure
AST — starts no Spark.
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
