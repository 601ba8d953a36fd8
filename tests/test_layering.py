"""Import-direction guard for the package layers (no Spark session).

Layer order: functions/operators -> stages -> plans / release /
streaming -> CLI. The shared pipeline stages live in ``stages.py``, so
nothing below or beside ``plans/`` needs it; and every package import
sits at module top, where an import cycle fails at import time instead
of hiding inside a function body. No package definition is reachable
only from tests unless it is allow-listed with its reason.
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


# Top-level package definitions no root reaches, each with the reason it
# stays: the SURVEY contract names it, or tests compare against it as a
# reference (or it is a helper of one).
UNREACHED_ALLOWED = {
    "windowed_counts": "SURVEY S2 (watermarked tumbling window)",
    "session_counts": "SURVEY S2 (session-window variant of Q21)",
    "progress_velocity": "SURVEY D5 (inputRowsPerSecond velocity)",
    "rollup_partials": "SURVEY rollup maintenance",
    "rollup_view": "SURVEY rollup maintenance",
    "ingest_with_rollup": "SURVEY rollup maintenance",
    "decode_image": "SURVEY multimodal decode",
    "_decode_one": "SURVEY multimodal decode (decode_image helper)",
    "_decode_ppm": "SURVEY multimodal decode (decode_image helper)",
    "_decode_bmp": "SURVEY multimodal decode (decode_image helper)",
    "_thumbnail": "SURVEY multimodal decode (decode_image helper)",
    "frame_sample": "SURVEY multimodal frame sampling",
    "_frame_sample_batches": "SURVEY frame sampling (frame_sample helper)",
    "batch_quality_neardup_keep": "test reference (streaming twin)",
    "batch_embedding_neardup_keep": "test reference (streaming twin)",
    "batch_span_keep": "test reference (streaming twin)",
    "batch_verified_neardup_keep": "test reference (streaming twin)",
    "batch_verified_embedding_keep": "test reference (streaming twin)",
    "_batch_verified_keep": "test reference (verified twins' helper)",
}


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` can refer to: identifiers, attribute names,
    imported names, and identifier-shaped strings (getattr/patch
    targets)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _unreached_definitions() -> dict[str, str]:
    """{name: path} of top-level package functions and classes that no
    root reaches, by name: the roots are module-level package code,
    ``__main__.py``, ``tools/*.py``, ``bench.py``, ``__spark_entry__.py``
    and the non-test perfbench modules."""
    repo = ROOT.parent
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(ROOT.rglob("*.py")):
        tree = ast.parse(path.read_text())
        if path.name == "__main__.py":
            roots |= _names(tree)
            continue
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                rel = str(path.relative_to(repo))
                defs.setdefault(node.name, []).append((rel, node))
                for deco in node.decorator_list:
                    roots |= _names(deco)
            else:
                roots |= _names(node)
    for path in [
        *sorted((repo / "tools").glob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
        *sorted((repo / "perfbench").glob("*.py")),
    ]:
        roots |= _names(ast.parse(path.read_text()))
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs)
    return {
        name: sites[0][0] for name, sites in defs.items() if name not in reached
    }


def test_no_package_code_is_reachable_only_from_tests():
    unreached = _unreached_definitions()
    new = sorted(f"{p}::{n}" for n, p in unreached.items()
                 if n not in UNREACHED_ALLOWED)
    assert not new, f"reachable only from tests (wire, move or delete): {new}"
    stale = sorted(set(UNREACHED_ALLOWED) - set(unreached))
    assert not stale, f"allow-listed but gone or now reachable: {stale}"
