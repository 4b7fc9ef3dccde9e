"""Round-5 guards for the ADVICE.md items: minhash_plan degraded-regime
warning, simhash corpus-size threading, and the dedup_clusters
pad-width contract for long string ids."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.operators.dedup import (
    dedup_clusters,
    minhash_plan,
    simhash_near_dups,
)


def test_minhash_plan_warns_only_when_cap_binds():
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert minhash_plan(0.9) == (90, 10)
    assert not rec, "no warning expected when the midpoint clears"
    with pytest.warns(UserWarning, match="cap binds"):
        minhash_plan(0.5)


def test_simhash_blocks_guard(spark):
    df = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("hello world text").alias("text")
    )
    # n_docs threading skips the count and matches the counted plan
    got = simhash_near_dups(df, max_hamming=3, n_docs=4).count()
    assert got == simhash_near_dups(df, max_hamming=3).count()


def test_dedup_clusters_long_string_ids_do_not_collide(spark):
    # two distinct 24-char ids sharing a 20-char prefix; under the old
    # fixed lpad(20) both truncated to the same CC node and idmap key,
    # merging two disjoint near-dup pairs into one corrupt cluster
    base = "Z" * 20
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight nine"
    rows = [
        (base + "AAAA", text_a),
        (base + "BBBB", text_a + " iota"),
        ("shortA", text_b),
        ("shortB", text_b + " ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = dedup_clusters(df, threshold=0.5).orderBy("canonical_id").collect()
    assert [(r["canonical_id"], r["cluster_size"]) for r in out] == [
        (base + "AAAA", 2),
        ("shortA", 2),
    ]
