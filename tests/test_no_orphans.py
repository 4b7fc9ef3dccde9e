"""Orphan guard: every top-level function and class in the package must
be reachable from what ships — the CLI jobs, the benchmark, the driver
entry module and the package's own module-level code — or from a
``TEST_ONLY`` entry.

Reachability is a closure over names: a root's names reach the
top-level definitions of those names, and a reached definition's body
reaches the names it uses in turn. A name counts as used when it is
loaded (``Name`` / ``Attribute``), imported (an import alias) or spelled
as a string constant (an ``__all__`` entry, a ``getattr`` / monkeypatch
target). So a helper whose only caller is itself unreached is an orphan
too. Code that no caller reaches is deleted, not kept "for
composability".

A definition that only the tests reach must be listed in ``TEST_ONLY``
below: a reference feature with its COVERAGE.md row, or the oracle or
fixture of a named test. Anything else that only tests reach is a second
copy of something the system already does, and is deleted with its
tests moved to the kept path.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ontology_learning_spark"
TESTS = ROOT / "tests"
SHIPPED_TREES = [ROOT / "jobs", ROOT / "perfbench"]
SHIPPED_FILES = [ROOT / "__spark_entry__.py"]

# name -> ("row", COVERAGE.md row label) | ("test", test file it serves)
TEST_ONLY = {
    "generate_alias_edges": ("test", "test_graph_layer.py"),
    "robust_json": ("row", "E6"),
    "parse_triple_strings": ("row", "S10"),
    "xxh64_str": ("test", "test_round6_band_arrow.py"),
    "compare_threshold_configs": ("row", "A13"),
    "review_queue": ("row", "A19"),
    "graph_viz_sample": ("row", "A20"),
    "decision_stats": ("row", "A1"),
    "exact_dup_groups": ("row", "Exact dedup"),
    "word_shingles_catalyst": ("test", "test_round6_shingles.py"),
    "minhash_band_table_catalyst": ("test", "test_round6_band_arrow.py"),
    "decontaminate": ("row", "Decontamination"),
    "export_jsonld": ("row", "S11"),
    "export_report": ("row", "S11"),
    "latest_run": ("row", "A21"),
    "export_ntriples": ("row", "RDF serialization"),
    "turtle_document": ("row", "RDF serialization"),
    "graphml_document": ("row", "RDF serialization"),
    "graph_stats": ("row", "A2/A16"),
    "decode_media": ("row", "Multimodal decode"),
    "decode_media_refs": ("test", "test_round6_multimodal_fusion.py"),
    "sample_frames": ("row", "Multimodal decode"),
    "media_refs_from_spans": ("test", "test_round6_multimodal_fusion.py"),
    "answer_question": ("row", "Deterministic NL→SQL QA chain"),
    "corpus_summary": ("row", "A18"),
    "ivf_pq_topk": ("row", "Product-quantization ANN"),
    "create_snapshot": ("row", "S13"),
    "list_snapshots": ("row", "S13"),
    "restore_snapshot": ("row", "S13"),
    "text_profile": ("row", "Intra-doc repetition"),
    "validation_report": ("row", "Schema.org/JSON-LD validation"),
    "product_ontology_uri_audit": ("row", "Schema.org/JSON-LD validation"),
    "fold_canonical_mapping": ("row", "Incremental canonicalization"),
    "run_streaming_near_dedup": ("row", "Incremental near-dup dedup"),
    "streaming_exact_dedup": ("row", "Stateful streaming dedup"),
    "streaming_windowed_doc_counts": ("row", "Watermarked windowed ingest counts"),
    "batch_exact_dedup_equivalent": ("test", "test_stateful_streaming.py"),
    "streaming_concept_saturation": ("row", "A15 live (streaming saturation)"),
    "saturation_curve": ("row", "A15 live (streaming saturation)"),
}


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _names(node: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            used.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            used.add(n.value)
    return used


def _used_names(trees: list[Path], files: list[Path] = ()) -> set[str]:
    files = [p for d in trees for p in sorted(d.rglob("*.py"))] + list(files)
    return set().union(*(_names(_parse(p)) for p in files))


DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _top_level_defs() -> list[tuple[str, ast.AST]]:
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in _parse(path).body:
            if isinstance(node, DEF_TYPES):
                out.append((f"{path.relative_to(ROOT)}:{node.lineno}", node))
    return out


def _module_level_names() -> set[str]:
    """Names the package's import-time code uses: every statement
    outside a top-level def or class body, plus the decorators, default
    values and base classes of those definitions."""
    used: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in _parse(path).body:
            if not isinstance(node, DEF_TYPES):
                used |= _names(node)
                continue
            parts = list(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                parts += node.bases + node.keywords
            else:
                parts += node.args.defaults + [d for d in node.args.kw_defaults if d]
            for part in parts:
                used |= _names(part)
    return used


def _reached(roots: set[str]) -> set[str]:
    """Names of the top-level definitions reachable from ``roots``."""
    bodies: dict[str, list[ast.AST]] = {}
    for _, node in _top_level_defs():
        bodies.setdefault(node.name, []).append(node)
    reached: set[str] = set()
    frontier = [n for n in roots if n in bodies]
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in bodies[name]:
            frontier.extend(n for n in _names(node) if n in bodies and n not in reached)
    return reached


def _shipped_roots() -> set[str]:
    return _used_names(SHIPPED_TREES, SHIPPED_FILES) | _module_level_names()


def test_no_orphan_definitions():
    reached = _reached(_shipped_roots() | set(TEST_ONLY))
    tested = _used_names([TESTS])
    orphans = [
        f"{where} {node.name}" + (" (only tests reach it)" if node.name in tested else "")
        for where, node in _top_level_defs() if node.name not in reached
    ]
    assert not orphans, (
        "top-level definitions nothing shipped or listed in TEST_ONLY reaches "
        "(a second copy? delete it and move its tests to the kept path):\n"
        + "\n".join(orphans))


def test_test_only_definitions_are_listed():
    shipped = _reached(_shipped_roots())
    tested = _used_names([TESTS])
    defined = {node.name for _, node in _top_level_defs()}
    stale = sorted(n for n in TEST_ONLY if n not in defined or n in shipped or n not in tested)
    assert not stale, f"TEST_ONLY entries no longer test-only or gone: {stale}"

    coverage = (ROOT / "COVERAGE.md").read_text(encoding="utf-8")
    for name, (kind, ref) in TEST_ONLY.items():
        if kind == "row":
            assert f"| {ref} |" in coverage, f"{name}: no COVERAGE.md row {ref!r}"
        else:
            assert kind == "test", name
            assert name in (TESTS / ref).read_text(encoding="utf-8"), f"{name}: {ref}"


def _imported_modules(path: Path) -> set[tuple[str, ...]]:
    """Dotted module paths (as tuples) a package file imports, relative
    imports resolved against the file's package."""
    pkg = path.relative_to(ROOT).parts[:-1]
    out: set[tuple[str, ...]] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out |= {tuple(a.name.split(".")) for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = pkg[:len(pkg) - node.level + 1] if node.level else ()
            mod = base + tuple(node.module.split(".") if node.module else ())
            out.add(mod)
            out |= {mod + (a.name,) for a in node.names}
    return out


def test_oracle_is_imported_by_no_package_module():
    """``oracle.reference`` checks what the build produces, so no build
    code may call into it: an oracle that shares the build's function
    would agree with any bug in it."""
    oracle = ("ontology_learning_spark", "oracle")
    offenders = [
        str(path.relative_to(ROOT)) for path in sorted(PACKAGE.rglob("*.py"))
        if "oracle" not in path.relative_to(PACKAGE).parts
        and any(m[:2] == oracle for m in _imported_modules(path))
    ]
    assert not offenders, f"package modules importing the oracle: {offenders}"
