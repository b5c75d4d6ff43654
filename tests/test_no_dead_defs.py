"""Every module-level definition in ``shapefile_rs_spark/`` has a caller.

The guard walks the module-level functions, classes and assignments of
the package with ``ast`` and fails on any that nothing in product code
references by name, by attribute or by import.  Product code is the
package itself, ``__spark_entry__.py``, ``jobs/``, ``bench.py``,
``bench_extra.py``, ``perfbench/`` and ``tools/``; tests are not callers.
Only AST names count, so a docstring or comment that cites a definition
does not keep it alive, and a definition's references to itself (a
recursive call, a docstring example) are not counted either.

``ORACLES`` names the definitions kept only as references that tests
compare product code against; ``PENDING`` the few whose deletion is
still an open question.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "shapefile_rs_spark"
PRODUCT = [
    PACKAGE,
    ROOT / "__spark_entry__.py",
    ROOT / "jobs",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "perfbench",
    ROOT / "tools",
]

ORACLES = {
    "geom/pip.py:nested_loop_pip_oracle": "the even-odd reference every PIP path is pinned against",
    "geom/pip.py:rings_bbox": "bbox of the oracle's ring lists, the covering tests' reference",
    "cells.py:classify_cover": "scalar twin the bulk classify_cover_batch is pinned against",
    "cells.py:cover_bbox": "scalar bbox covering the cell-cover tests check cells against",
    "cells.py:cell_bounds": "scalar cell geometry the covering tests check cells against",
    "cells.py:tile_xy": "numpy twin the Column tile_x_col/tile_y_col are pinned against",
    "pages.py:lonlat_numpy": "numpy twin the geotag parse is pinned bit-exact against",
    "pages.py:extract_text": "body extractor the byte-identical text-per-url invariant is checked with",
    "fixtures.py:JOIN_GOLDEN": "golden pairs of the flagship join fixture",
    "operators/dedup.py:simhash_from_hashes_expr": "Catalyst twin the Arrow simhash kernel is pinned against",
    "operators/lm.py:bpe_encode": "two-operator reference the fused bpe_learn_encode is pinned against",
}

# Caller-less definitions kept while their deletion is an open question
# (ROADMAP "Smaller carry-overs"); each is pinned by its own tests.
PENDING = {
    "operators/dedup.py:exact_dedup": "window-form exact dedup; q_dedup_exact spells its own groupBy",
    "shapelib/shp.py:read_nth_shape": "the codec's .shx random access, mirroring the reference reader",
}


def _py_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                names.append(node.id)
    return names


def _referenced_names(node: ast.AST) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.ImportFrom):
            names.update(a.name for a in sub.names)
    return names


def dead_definitions() -> list[str]:
    """``module:name`` of every package definition product code never references."""
    # For each (file, top-level statement): the names it references.  A
    # definition's own statement is left out when counting its callers.
    refs: list[tuple[Path, int, set[str]]] = []
    defs: list[tuple[Path, int, str]] = []
    for root in PRODUCT:
        for path in _py_files(root):
            tree = ast.parse(path.read_text(), filename=str(path))
            for i, stmt in enumerate(tree.body):
                refs.append((path, i, _referenced_names(stmt)))
                if PACKAGE in path.parents:
                    for name in _defined_names(stmt):
                        if not (name.startswith("__") and name.endswith("__")):
                            defs.append((path, i, name))
    dead = []
    for path, i, name in defs:
        if not any(name in names for p, j, names in refs if (p, j) != (path, i)):
            dead.append(f"{path.relative_to(PACKAGE).as_posix()}:{name}")
    return dead


def test_no_dead_definitions():
    dead = [d for d in dead_definitions() if d not in ORACLES and d not in PENDING]
    assert not dead, (
        "module-level definitions with no caller in product code "
        f"(delete them, or name a reference oracle in ORACLES): {dead}"
    )


def test_allow_list_is_not_stale():
    # An entry whose definition is gone, or that product code now calls,
    # no longer needs to be listed.
    dead = set(dead_definitions())
    assert sorted((set(ORACLES) | set(PENDING)) - dead) == []
