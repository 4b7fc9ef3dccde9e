"""Orphan guard: every top-level function and class in the package must
be reachable by name from the package itself, the tests, the CLI jobs,
the benchmark or the driver entry module.

A name counts as used when it is loaded (``Name`` / ``Attribute``),
imported (an import alias) or spelled as a string constant (an
``__all__`` entry, a ``getattr`` / monkeypatch target). Code that no
caller reaches is deleted, not kept "for composability".

A definition that only the tests reach must also be listed in
``TEST_ONLY`` below: a reference feature with its COVERAGE.md row, or
the oracle or fixture of a named test. Anything else that only tests
reach is a second copy of something the system already does, and is
deleted with its tests moved to the kept path.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ontology_learning_spark"
TESTS = ROOT / "tests"
SHIPPED_TREES = [PACKAGE, ROOT / "jobs", ROOT / "perfbench"]
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


def _used_names(trees: list[Path], files: list[Path] = ()) -> set[str]:
    files = [p for d in trees for p in sorted(d.rglob("*.py"))] + list(files)
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
    used = _used_names(SHIPPED_TREES + [TESTS], SHIPPED_FILES)
    orphans = [f"{where} {name}" for where, name in _top_level_defs() if name not in used]
    assert not orphans, "top-level definitions no caller reaches:\n" + "\n".join(orphans)


def test_test_only_definitions_are_listed():
    shipped = _used_names(SHIPPED_TREES, SHIPPED_FILES)
    tested = _used_names([TESTS])
    test_only = {name: where for where, name in _top_level_defs()
                 if name not in shipped and name in tested}
    unlisted = [f"{where} {name}" for name, where in test_only.items()
                if name not in TEST_ONLY]
    assert not unlisted, (
        "top-level definitions only tests reach, not listed in TEST_ONLY "
        "(a second copy? delete it and move its tests to the kept path):\n"
        + "\n".join(unlisted))
    stale = sorted(set(TEST_ONLY) - set(test_only))
    assert not stale, f"TEST_ONLY entries no longer test-only or gone: {stale}"

    coverage = (ROOT / "COVERAGE.md").read_text(encoding="utf-8")
    for name, (kind, ref) in TEST_ONLY.items():
        if kind == "row":
            assert f"| {ref} |" in coverage, f"{name}: no COVERAGE.md row {ref!r}"
        else:
            assert kind == "test", name
            assert name in (TESTS / ref).read_text(encoding="utf-8"), f"{name}: {ref}"
