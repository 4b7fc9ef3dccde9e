"""Orphan guard: every top-level function and class in the package must
be reachable by name from the package itself, the tests, the CLI jobs,
the benchmark or the driver entry module.

A name counts as used when it is loaded (``Name`` / ``Attribute``),
imported (an import alias) or spelled as a string constant (an
``__all__`` entry, a ``getattr`` / monkeypatch target). Code that no
caller reaches is deleted, not kept "for composability".
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ontology_learning_spark"
CALLER_TREES = [PACKAGE, ROOT / "tests", ROOT / "jobs", ROOT / "perfbench"]
CALLER_FILES = [ROOT / "__spark_entry__.py"]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _used_names() -> set[str]:
    files = [p for d in CALLER_TREES for p in sorted(d.rglob("*.py"))] + CALLER_FILES
    used: set[str] = set()
    for path in files:
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                used.add(node.value)
    return used


def _top_level_defs() -> list[tuple[str, str]]:
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out.append((f"{path.relative_to(ROOT)}:{node.lineno}", node.name))
    return out


def test_no_orphan_definitions():
    used = _used_names()
    orphans = [f"{where} {name}" for where, name in _top_level_defs() if name not in used]
    assert not orphans, "top-level definitions no caller reaches:\n" + "\n".join(orphans)
