"""Seeded inputs for the query workload's corpus ops (near-dup dedup and
vector search). The KG corpus itself comes from
``fixtures.generator.generate_documents``; these two tables have the
column layout the package's ``documents`` / ``embeddings`` operators
read (doc_id, text, lang, source, n_chars) and (vec_id, embedding,
label).

Every generator parameter comes from ``corpus_profile.json``, which
``profile_corpus.py`` measured on the package's sf0.1 reference tables
(5,000 documents, 2,000 vectors):

- original documents: length uniform over the profiled word range,
  words drawn from the profiled vocabulary with its frequencies;
- copies, at the profiled rate: another document (itself possibly a
  copy) with the profiled marker word appended, which is how the
  reference's near-duplicates (word 3-shingle Jaccard >= 0.9) are
  formed; two copies of one document are the exact duplicates;
- language shares as profiled, sources assigned round robin;
- vectors isotropic and unit-norm with labels uniform over the
  profiled label count (the reference's label centres have the norm
  isotropic noise gives, so labels carry no geometry).
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = json.loads((Path(__file__).resolve().parent / "corpus_profile.json").read_text())


def text_documents(n_docs: int, seed: int, prof: dict = PROFILE["documents"]) -> pa.Table:
    rng = random.Random(seed)
    vocab, weights = list(prof["vocabulary"]), list(prof["vocabulary"].values())
    lo, hi = prof["words_per_original"]["min"], prof["words_per_original"]["max"]
    marker = max(prof["appended_words"], key=prof["appended_words"].get)
    langs, lang_w = list(prof["langs"]), list(prof["langs"].values())
    texts = [" ".join(rng.choices(vocab, weights, k=rng.randint(lo, hi))) for _ in range(n_docs)]
    for i in range(n_docs):
        if rng.random() < prof["copy_rate"]:
            j = rng.randrange(n_docs - 1)
            texts[i] = texts[j + (j >= i)] + " " + marker
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(langs, lang_w, k=n_docs),
        "source": [f"src{i % prof['sources']}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n_vecs: int, seed: int, prof: dict = PROFILE["embeddings"]) -> pa.Table:
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n_vecs, prof["dim"]))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, prof["labels"], size=n_vecs), pa.int32()),
    })


def write_corpus_tables(sf_dir: Path, n_docs: int, n_vecs: int, seed: int) -> None:
    sf_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(text_documents(n_docs, seed), sf_dir / "documents.parquet")
    pq.write_table(embeddings(n_vecs, seed), sf_dir / "embeddings.parquet")
