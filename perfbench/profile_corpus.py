"""Measure the statistics the query workload's corpus generator copies.

    python3 perfbench/profile_corpus.py <dir with documents.parquet and
        embeddings.parquet> [--out perfbench/corpus_profile.json]

The corpus ops (near-dup dedup and vector search) read two tables,
``documents`` (doc_id, text, lang, source, n_chars) and ``embeddings``
(vec_id, embedding, label). This script profiles a reference copy of
those tables: document length, vocabulary, how near-duplicates are
formed and how often, the LSH-relevant candidate fan-out (pairs that
share a word 3-shingle), and the geometry of the vectors. ``inputs.py``
generates seeded tables from the profile, and ``selfcheck.py`` profiles
a generated corpus and checks it against the recorded one.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import Counter, defaultdict
from itertools import combinations
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

NEAR_DUP_JACCARD = 0.9  # the threshold minhash_near_dups / dedup_clusters use


def shingles(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def shared_shingle_counts(sh: list[set[str]]) -> Counter:
    """(a, b) with a < b → number of shingles they share, for every pair
    sharing at least one (an inverted index, so exact and sub-quadratic)."""
    postings: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sh):
        for g in s:
            postings[g].append(i)
    shared: Counter = Counter()
    for ps in postings.values():
        for a, b in combinations(ps, 2):
            shared[(a, b)] += 1
    return shared


def profile_documents(rows: list[dict]) -> dict:
    texts = [r["text"] for r in rows]
    sh = [shingles(t) for t in texts]
    shared = shared_shingle_counts(sh)
    near, forms, appended = [], Counter(), Counter()
    for (a, b), c in shared.items():
        if c / (len(sh[a]) + len(sh[b]) - c) < NEAR_DUP_JACCARD:
            continue
        near.append((a, b))
        wa, wb = texts[a].split(), texts[b].split()
        if wa == wb:
            forms["exact_copy"] += 1
        elif wb[:-1] == wa or wa[:-1] == wb:
            forms["one_word_appended"] += 1
            appended[(wb if len(wb) > len(wa) else wa)[-1]] += 1
        else:
            forms["other"] += 1
    n = len(rows)
    # a copy is a document ending in an appended word; the rest are
    # originals, whose length and words the generator draws
    is_copy = [t.split()[-1] in appended for t in texts]
    originals = [t.split() for t, c in zip(texts, is_copy) if not c]
    lens = [len(w) for w in originals]
    n_src = len({r["source"] for r in rows})
    return {
        "rows": n,
        "words_per_original": {"min": min(lens), "max": max(lens),
                               "deciles": statistics.quantiles(lens, n=10)},
        "vocabulary": dict(Counter(w for ws in originals for w in ws).most_common()),
        "copy_rate": sum(is_copy) / n,
        "appended_words": dict(appended),
        "near_dup_pairs_per_doc": len(near) / n,
        "near_dup_forms": dict(forms),
        "exact_copy_rate": sum(c - 1 for c in Counter(texts).values() if c > 1) / n,
        "pairs_sharing_a_shingle_per_doc": 2 * len(shared) / n,
        "langs": {k: v / n for k, v in sorted(Counter(r["lang"] for r in rows).items())},
        "sources": n_src,
        "source_is_round_robin": all(r["source"] == f"src{r['doc_id'] % n_src}" for r in rows),
        "n_chars_is_len": all(r["n_chars"] == len(r["text"]) for r in rows),
    }


def profile_embeddings(vecs: np.ndarray, labels: np.ndarray) -> dict:
    norms = np.linalg.norm(vecs, axis=1)
    centres = np.array([vecs[labels == k].mean(axis=0) for k in np.unique(labels)])
    unit = vecs / norms[:, None]
    sims = unit[1:] @ unit[0]
    return {
        "rows": int(len(vecs)),
        "dim": int(vecs.shape[1]),
        "labels": int(len(centres)),
        "norm_min": float(norms.min()),
        "norm_max": float(norms.max()),
        # isotropic unit vectors give centre norms of about 1/sqrt(rows per label)
        "label_centre_norm_mean": float(np.linalg.norm(centres, axis=1).mean()),
        "component_std": float(vecs.std(axis=0).mean()),
        "top10_cosine_to_vec0": sorted(float(x) for x in np.sort(sims)[-10:]),
    }


def profile(sf_dir: Path) -> dict:
    docs = pq.read_table(sf_dir / "documents.parquet").to_pylist()
    emb = pq.read_table(sf_dir / "embeddings.parquet")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    labels = np.array(emb.column("label").to_pylist())
    return {"documents": profile_documents(docs), "embeddings": profile_embeddings(vecs, labels)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", type=Path)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    text = json.dumps(profile(args.sf_dir), indent=1)
    if args.out:
        args.out.write_text(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
