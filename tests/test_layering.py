"""Import-direction guard for the package layers (no Spark session).

Layer order: functions/operators -> stages -> plans / release /
streaming -> CLI. The shared pipeline stages live in ``stages.py``, so
nothing below or beside ``plans/`` needs it; and every package import
sits at module top, where an import cycle fails at import time instead
of hiding inside a function body.
"""

from __future__ import annotations

import ast
import pathlib

PKG = "etl_wikipedia_updates_spark"
ROOT = pathlib.Path(__file__).resolve().parents[1] / PKG

BELOW_PLANS = [
    *sorted((ROOT / "functions").rglob("*.py")),
    *sorted((ROOT / "operators").rglob("*.py")),
    *sorted((ROOT / "streaming").rglob("*.py")),
    *(
        ROOT / f
        for f in (
            "stages.py", "caches.py", "tables.py", "release.py", "vector_index.py"
        )
    ),
]


def _package_imports(node: ast.AST, path: pathlib.Path) -> list[str]:
    """The absolute package modules an import statement in ``path``
    names (``from X import name`` counts as X.name when X is a
    package, so ``from pkg import plans`` is caught)."""
    if isinstance(node, ast.Import):
        return [a.name for a in node.names if a.name.split(".")[0] == PKG]
    if not isinstance(node, ast.ImportFrom):
        return []
    mod = node.module or ""
    if node.level:
        parts = path.relative_to(ROOT.parent).with_suffix("").parts
        mod = ".".join([*parts[: -node.level], *([mod] if mod else [])])
    if mod.split(".")[0] != PKG:
        return []
    if mod == PKG or not node.module:
        return [f"{mod}.{a.name}" for a in node.names]
    return [mod]


def test_layers_below_plans_do_not_import_plans():
    bad = [
        f"{path.relative_to(ROOT.parent)}:{node.lineno} imports {mod}"
        for path in BELOW_PLANS
        for node in ast.walk(ast.parse(path.read_text()))
        for mod in _package_imports(node, path)
        if mod == f"{PKG}.plans" or mod.startswith(f"{PKG}.plans.")
    ]
    assert not bad, bad


def test_no_function_local_package_imports():
    bad = []
    for path in sorted(ROOT.rglob("*.py")):
        if path.name == "__main__.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                for mod in _package_imports(node, path):
                    bad.append(
                        f"{path.relative_to(ROOT.parent)}:{node.lineno} "
                        f"imports {mod} inside {fn.name}"
                    )
    assert not bad, bad
