"""End-to-end golden test: Spark plan vs pure-Python oracle (SURVEY.md §5.2.3).

Both sides share the rule set, so the triple sets should match exactly;
the P/R >= 0.95 gate is the BASELINE.json requirement, asserted on top
of set equality diagnostics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.oracle import reference as O
from ontology_learning_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, docs_df):
    return run_pipeline(spark, docs_df)


def test_mentions_parity(result, oracle_result):
    got = {
        (r["doc_id"], r["surface"], r["char_offset"])
        for r in result.mentions.collect()
    }
    expected = {
        (m["doc_id"], m["surface"], m["char_offset"])
        for m in oracle_result["mentions"]
    }
    missing = expected - got
    extra = got - expected
    assert not missing and not extra, f"missing={list(missing)[:5]} extra={list(extra)[:5]}"


def test_concepts_parity(result, oracle_result):
    got = {r["concept"] for r in result.concepts.collect()}
    assert got == set(oracle_result["concepts"])


def test_decisions_parity(result, oracle_result):
    got = {
        r["concept"]: (r["decision"], r["target"], round(r["confidence"], 6))
        for r in result.decisions.collect()
    }
    exp = {
        k: (v["decision"], v["target"], round(v["confidence"], 6))
        for k, v in oracle_result["decisions"].items()
    }
    diffs = {k: (got.get(k), exp[k]) for k in exp if got.get(k) != exp[k]}
    extra = set(got) - set(exp)
    assert not diffs and not extra, f"{len(diffs)} diffs, sample={list(diffs.items())[:5]}, extra={list(extra)[:3]}"


def test_decision_stats(result):
    from collections import Counter

    from ontology_learning_spark.functions import semantics as S
    from ontology_learning_spark.operators.decisions import decision_stats

    rows = result.decisions.select("decision", "confidence").collect()
    by = Counter(r["decision"] for r in rows)
    automated = by[S.EXTEND] + by[S.MAP_EXACT] + by[S.MAP_SIMILAR]
    got = decision_stats(result.decisions).collect()[0]
    assert (got["total"], got["extended"], got["mapped_exact"], got["mapped_similar"],
            got["uncertain"]) == (len(rows), by[S.EXTEND], by[S.MAP_EXACT],
                                  by[S.MAP_SIMILAR], by[S.UNCERTAIN])
    assert got["automation_rate"] == pytest.approx(automated / len(rows))
    assert got["average_confidence"] == pytest.approx(
        sum(r["confidence"] for r in rows) / len(rows))


def test_triples_pr_gate(result, oracle_result):
    got = {(r["subj"], r["pred"], r["obj"]) for r in result.triples.collect()}
    expected = oracle_result["triples"]
    p, r, f1 = O.precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.4f} R={r:.4f}; missing={list(expected - got)[:5]} extra={list(got - expected)[:5]}"
    )


def test_span_sequence_invariant(docs_df, fixture_docs):
    """Per-row invariant: (kind, text, media_ref, order) survives the
    pipeline's view of the documents — the pipeline never mutates spans."""
    from ontology_learning_spark.operators import extraction as E

    through = E.preprocess(E.concat_text_spans(docs_df))
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in through.select("doc_id", "spans").collect()
    }
    for doc in fixture_docs:
        expected = [
            (s["kind"], s["text"], s["media_ref"])
            for s in sorted(doc["spans"], key=lambda s: s["offset"])
        ]
        assert got[doc["doc_id"]] == expected


def test_parquet_checkpoint_pipeline_equivalence(spark, docs_df, result, monkeypatch):
    """The flagship's output must be invariant to the corpus-checkpoint
    strategy: forcing the multi-executor parquet mode (zstd round trip
    + per-leg column pruning) yields the same triples and decision mix
    as the default block checkpoint this module's golden tests pin."""
    monkeypatch.setenv("OLS_CORPUS_CHECKPOINT", "parquet")
    alt = run_pipeline(spark, docs_df)
    base_triples = {tuple(r) for r in result.triples.select("subj", "pred", "obj").collect()}
    alt_triples = {tuple(r) for r in alt.triples.select("subj", "pred", "obj").collect()}
    assert alt_triples == base_triples
    base_mix = sorted(map(tuple, result.decisions.groupBy("decision").count().collect()))
    alt_mix = sorted(map(tuple, alt.decisions.groupBy("decision").count().collect()))
    assert alt_mix == base_mix
