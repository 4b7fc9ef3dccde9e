"""Hypothesis property tests for the shared rule set (SURVEY §5: the
reference has no property tests; we add them), plus the incremental
connected-components fold against a full recompute."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ontology_learning_spark.functions import semantics as S

words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=12)
texts = st.text(
    alphabet=string.ascii_letters + string.digits + " .,!#*_[]()/:-\n\t",
    max_size=300,
)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_preprocess_idempotent(t):
    once = S.preprocess_text(t)
    assert S.preprocess_text(once) == once


@settings(max_examples=200, deadline=None)
@given(texts)
def test_preprocess_output_invariants(t):
    out = S.preprocess_text(t)
    assert out == out.strip()
    assert "  " not in out
    assert out == out.lower()


@settings(max_examples=200, deadline=None)
@given(words)
def test_normalize_idempotent(w):
    once = S.normalize_name(w)
    assert S.normalize_name(once) == once


@settings(max_examples=200, deadline=None)
@given(st.lists(words, min_size=1, max_size=3).map(" ".join))
def test_normalize_only_touches_head_token(phrase):
    out = S.normalize_name(phrase)
    assert out.split(" ")[:-1] == phrase.lower().split(" ")[:-1]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=64),
       st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=64))
def test_cosine_bounds(a, b):
    n = min(len(a), len(b))
    c = S.cosine(a[:n], b[:n])
    assert -1.0000001 <= c <= 1.0000001


@settings(max_examples=100, deadline=None)
@given(texts)
def test_embedding_unit_norm_or_zero(t):
    v = S.hashed_embedding(t)
    norm2 = sum(x * x for x in v)
    assert abs(norm2 - 1.0) < 1e-9 or norm2 == 0.0


def test_incremental_components_equals_full_recompute(spark):
    """incremental_components(CC(base), delta) must be row-identical to
    CC(base ∪ delta) — merges across existing components, brand-new
    nodes, no-op intra-component edges, empty deltas, and the
    distributed contracted-graph fallback all included."""
    import random

    from ontology_learning_spark.operators import canonicalize as CC

    rng = random.Random(51)
    nodes = [f"n{i:03d}" for i in range(60)]
    all_edges = list({(a, b) for a, b in
                      ((rng.choice(nodes), rng.choice(nodes)) for _ in range(80))
                      if a != b})
    base, delta = all_edges[:50], all_edges[50:]
    # brand-new nodes, a chain tying them into an existing component,
    # and a duplicate no-op edge
    delta = delta + [("z_new1", "z_new2"), ("z_new2", nodes[0]), base[0]]

    bdf = spark.createDataFrame(base, "src string, dst string")
    ddf = spark.createDataFrame(delta, "src string, dst string")
    full = {tuple(r) for r in CC.connected_components(
        spark.createDataFrame(base + delta, "src string, dst string")).collect()}
    base_cc = CC.connected_components(bdf)
    inc = {tuple(r) for r in CC.incremental_components(base_cc, ddf).collect()}
    assert inc == full
    # empty delta is the identity
    empty = spark.createDataFrame([], "src string, dst string")
    assert {tuple(r) for r in CC.incremental_components(base_cc, empty).collect()} \
        == {tuple(r) for r in base_cc.collect()}
    # force the distributed contracted-CC path
    inc2 = {tuple(r) for r in CC.incremental_components(
        base_cc, ddf, small_threshold=0).collect()}
    assert inc2 == full
