"""Static-reach gates: every package module is imported by an entry
point, every top-level package function or class is named by live
code, and no package function outside the query registry is reached
only through the aux oracle entries.

The module pass walks ``Import``/``ImportFrom`` nodes (module-level,
function-level and relative) from the CLIs, tools, benchmark harness,
``bench.py`` and ``__spark_entry__.py``. The function pass grows the
live set from those files and the module-level code of every reached
package module: a top-level ``def`` or ``class`` is live once live
code names it (a ``Name``, an ``Attribute`` or an imported alias), and
its body then counts as live code too. Code that only tests reach is
dead to every user of the repo; each gate fails naming it. The aux
pass reruns the function pass with the ``AUX_QUERIES``/``AUX_ORACLES``
assignments left out of the roots: an aux entry is a local oracle
probe, and a package function that only such probes reach is not
worth its lines unless the related work grounds it. Because an
imported alias counts as a live name, the import pass keeps the
function pass honest: every module-level import in the package, the
CLIs, the tools, the tests and ``bench.py`` must be named by its own
module outside its import statements. Pure AST — starts no Spark.
"""

from __future__ import annotations

import ast
import re
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
    # ROADMAP "Blocked": the object-store lease provider and its fake
    "operators.statelock.ObjectStoreLockProvider",
    "operators.statelock.FakeConditionalStore",
}

AUX_REGISTRIES = {"AUX_QUERIES", "AUX_ORACLES"}

AUX_ONLY_BY_DESIGN = {
    # PAPERS.md: Continuously Adaptive Similarity Search (SIGMOD 2020)
    # grounds IVF serving over a trained codebook
    "operators.clustering.ivf_kmeans_topk",
    # PAPERS.md: Incremental Based Framework for Efficient Top-K
    # Similarity Search (EDBT 2020) grounds the fused top-k ranking
    "operators.similarity.hybrid_rrf",
    # PAPERS.md: Approximation Algorithms for Large Scale Data
    # Analysis (PODS 2021) grounds the mergeable per-group quantiles
    "operators.sketches.hdr_quantiles_by",
    "operators.sketches.hdr_signed_quantiles_by",
    # the iterative reference dup_clusters_plan is tested against, and
    # the only connected-components path that raises on
    # non-convergence
    "operators.dedup.dup_clusters",
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


def _is_aux_registry(mod: str, stmt: ast.stmt) -> bool:
    if mod != "plans.queries":
        return False
    if isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    elif isinstance(stmt, ast.Assign):
        targets = stmt.targets
    else:
        return False
    return any(
        isinstance(t, ast.Name) and t.id in AUX_REGISTRIES for t in targets
    )


def _unnamed(skip_aux: bool = False) -> set[str]:
    """``module.name`` of every top-level def or class in a reached
    package module that no live code names; with ``skip_aux``, the
    aux registries name nothing."""
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
                elif not (skip_aux and _is_aux_registry(mod, stmt)):
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


def test_no_package_function_is_reached_only_by_aux_queries():
    aux_only = {
        name
        for name in _unnamed(skip_aux=True) - _unnamed()
        if not name.startswith("plans.queries.")
    }
    dead = sorted(aux_only - AUX_ONLY_BY_DESIGN)
    assert not dead, f"only aux oracle entries reach: {', '.join(dead)}"
    # an exemption that non-aux code now reaches (or that is gone) is
    # stale
    assert AUX_ONLY_BY_DESIGN <= aux_only


IMPORT_CHECKED = [
    *sorted(p for p in (ROOT / PKG).rglob("*.py") if p.name != "__init__.py"),
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "tests").glob("*.py")),
    ROOT / "bench.py",
]


_NOQA_F401 = re.compile(r"#\s*noqa:[^#]*\bF401\b")


def _top_level_imports(body: list[ast.stmt]):
    """Import statements of a module body, including those under a
    top-level ``if``/``try``/``with``, but not inside a def or class."""
    for stmt in body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            yield stmt
        elif not isinstance(stmt, _DEFS):
            for field in ("body", "orelse", "finalbody", "handlers"):
                yield from _top_level_imports(getattr(stmt, field, []))


def _unused_imports(path: Path) -> list[str]:
    source = path.read_text()
    lines = source.splitlines()
    tree = ast.parse(source, filename=str(path))
    named = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    unused = []
    for stmt in _top_level_imports(tree.body):
        if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
            continue
        for alias in stmt.names:
            bound = alias.asname or alias.name.split(".")[0]
            noqa = lines[stmt.lineno - 1] + lines[alias.lineno - 1]
            if bound in named or _NOQA_F401.search(noqa):
                continue
            unused.append(f"{path.relative_to(ROOT)}:{alias.lineno} {bound}")
    return unused


def test_every_module_level_import_is_used():
    unused = [u for path in IMPORT_CHECKED for u in _unused_imports(path)]
    assert not unused, f"imported, never named: {', '.join(unused)}"
