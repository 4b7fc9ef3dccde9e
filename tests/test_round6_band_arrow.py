"""Round-6 parity pins for the fused Arrow minhash band table.

Two layers:
1. ``functions.xxh64`` (scalar + vectorized) is bit-exact with the JVM
   ``F.xxhash64`` — the whole fast path rests on this.
2. ``minhash_band_table`` (one fused mapInArrow pass) emits row-for-row
   the same (id, band, bh) set as the JVM reference
   ``minhash_band_table_catalyst`` on adversarial texts and on the
   driver corpus, at two thresholds (different geometries).
"""

import random

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.functions.xxh64 import xxh64_many, xxh64_signed, xxh64_str
from ontology_learning_spark.operators.dedup import (
    _MERSENNE_P,
    _hash_params,
    _signature_mins,
    minhash_band_table,
    minhash_band_table_catalyst,
)

SF_DIR = "/root/testdata/sf0.001"


def test_xxh64_matches_jvm(spark):
    rng = random.Random(7)
    cases = ["", "a", "hello world", "naïve café", "日本語テキスト",
             "\x00\x01\x02", "x" * 31, "y" * 32, "z" * 33, "w" * 100, "€" * 40]
    for _ in range(400):
        n = rng.randrange(0, 90)
        cases.append("".join(
            chr(rng.choice([rng.randrange(32, 127), rng.randrange(0x80, 0x2FFF)]))
            for _ in range(n)))
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    jvm = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in cases:
        assert xxh64_str(s) == jvm[s]


def test_xxh64_many_matches_scalar():
    rng = random.Random(11)
    items = [b"", b"q" * 32, b"r" * 65, bytes(range(256))]
    items += [bytes(rng.randrange(0, 256) for _ in range(rng.randrange(0, 130)))
              for _ in range(800)]
    vec = xxh64_many(items)
    for b, got in zip(items, vec):
        assert xxh64_signed(b) == got


ADVERSARIAL = [
    ("a", None), ("b", ""), ("c", "one two"), ("d", "one two three"),
    ("e", "x \t\n y \x0b z w"), ("f", " lead trail  mid   gap words here "),
    ("g", "ünï çödé tökens ünï çödé tökens more"), ("h", "r r r r r r r r"),
    ("i", "A B C a b c A B C d"),
]


@pytest.mark.parametrize("threshold", [0.9, 0.7])
def test_band_table_parity_adversarial(spark, threshold):
    df = spark.createDataFrame(ADVERSARIAL, "doc_id string, text string")
    new = minhash_band_table(df, threshold=threshold)
    old = minhash_band_table_catalyst(df, threshold=threshold)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert [f.simpleString() for f in new.schema.fields] == \
        [f.simpleString() for f in old.schema.fields]


def test_band_table_parity_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = minhash_band_table(docs, threshold=0.9)
    old = minhash_band_table_catalyst(docs, threshold=0.9)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_exploded_gram_hashes_parity(spark):
    from ontology_learning_spark.operators.dedup import (
        exploded_gram_hashes,
        exploded_shingles,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    adv = spark.createDataFrame(ADVERSARIAL, "doc_id string, text string")
    for df, n in ((docs, 8), (docs, 3), (adv, 2)):
        ref = exploded_shingles(df, "text", "doc_id", n).select(
            "id", F.xxhash64("g").alias("gh"))
        new = exploded_gram_hashes(df, "text", "doc_id", n)
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0


def test_signature_mins_chunks_inside_an_oversized_document():
    """A document with more grams than the chunk cap is folded in gram
    slices; the signatures, and so the band rows, are byte-identical to
    the unchunked fold and to a per-document min."""
    import numpy as np

    rng = np.random.default_rng(5)
    sizes = [1, 5, 23, 7, 2, 40, 3, 8]  # cap 7: 23, 40 and 8 exceed it, 7 fits
    offsets = np.concatenate([[0], np.cumsum(sizes)]).tolist()
    base = rng.integers(0, 1 << 31, size=offsets[-1], dtype=np.int64)
    params = _hash_params(12)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    chunked = _signature_mins(base, offsets, a_vec, b_vec, 7)
    whole = _signature_mins(base, offsets, a_vec, b_vec, offsets[-1])
    assert chunked.tobytes() == whole.tobytes()
    for d in range(len(sizes)):
        grams = base[offsets[d]:offsets[d + 1]].tolist()
        want = [min((g * a + b) % _MERSENNE_P for g in grams) for a, b in params]
        assert chunked[d].tolist() == want
