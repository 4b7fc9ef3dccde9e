"""Tiny-input self-check of the benchmark's plumbing; no Spark needed.

    python3 perfbench/selfcheck.py

Checks the percentile math, failure counting, the row
comparison the oracles rely on, the graph and near-dup oracles, span
self-time, and that the corpus-op generator reproduces the statistics
recorded in ``corpus_profile.json``. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

import inputs  # noqa: E402
import oracle  # noqa: E402
import profile_corpus  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import (OpLog, layer_values, median, near_dup_pairs_match,  # noqa: E402
                   normalize_rows, percentile, precision_recall, rows_match)


def check_percentiles() -> None:
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == median(xs) == 2.5
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    assert percentile(xs, 75) == 3.25  # inclusive interpolation
    assert percentile([7.0], 75) == 7.0
    q1, _, q3 = statistics.quantiles(list(range(1, 11)), n=4, method="inclusive")
    assert (percentile(list(range(1, 11)), 25), percentile(list(range(1, 11)), 75)) == (q1, q3)


def check_failure_counting() -> None:
    log = OpLog()
    log.record(1.0, True)
    log.record(2.0, False, "boom")
    log.record(3.0, True)
    assert (log.attempted, log.failed, log.errors) == (3, 1, ["boom"])
    log.fail_unchecked(5, "late oracle mismatch")  # never more than the ops still ok
    assert log.failed == 3 and log.error_rate == 1.0
    assert log.latencies == [1.0, 2.0, 3.0]
    samples = {"a_s": [3.0, 1.0, 2.0], "peak_mb": [5.0, 9.0], "other_s": [4.0]}
    vals, missing = layer_values(["a_s", "peak_mb", "gone_s", "other_s"], {"a_s", "peak_mb", "gone_s"},
                                 samples.get, largest={"peak_mb"})
    assert vals == {"a_s": 2.0, "peak_mb": 9.0, "gone_s": 0.0, "other_s": 0.0}
    assert missing == ["gone_s"]  # required but never measured: reported, not a silent 0


def check_row_comparison() -> None:
    got = normalize_rows([("b", 1, 0.12345), ("a", 2, None), ("c", 3, [1, 2])])
    want = normalize_rows([["c", 3, (1, 2)], ["a", 2, None], ["b", 1, 0.1235]])
    assert rows_match(got, want)  # order-free, float within tolerance, list == tuple
    assert not rows_match(got, want[:2])  # a missing row
    assert not rows_match(normalize_rows([("a", 1)]), normalize_rows([("a", 2)]))
    assert not rows_match(normalize_rows([("a", 1.0)]), normalize_rows([("a", 1.01)]))
    dup = normalize_rows([("a",), ("a",)])
    assert not rows_match(dup, normalize_rows([("a",)]))  # multiset, not set
    assert precision_recall({1, 2}, {2, 3}) == (0.5, 0.5)
    assert precision_recall(set(), set()) == (1.0, 1.0)


def check_oracles() -> None:
    edges = [("b", "SUBCLASS_OF", "a"), ("c", "SUBCLASS_OF", "b"), ("a", "SUBCLASS_OF", "c"),
             ("d", "RELATEDTO", "c")]
    # cycle a<-b<-c<-a: the root is re-found at depth 3
    assert oracle.bfs_descendants(edges, "a") == [("a", 3), ("b", 1), ("c", 2)]
    assert oracle.bfs_ancestors(edges, "c") == [("a", 2), ("b", 1), ("c", 3)]
    assert oracle.bfs_shortest_path(edges, "d", "a") == 2
    assert oracle.bfs_shortest_path(edges, "d", "zz") is None
    base = " ".join(f"w{i}" for i in range(30))
    docs = [(0, base), (1, base.replace("w29", "x")), (2, "completely different text here"),
            (3, base), (4, "two words")]
    pairs = oracle.jaccard_pairs(docs, threshold=0.9)
    assert [(a, b) for a, b, _ in pairs] == [(0, 1), (0, 3), (1, 3)]
    assert pairs[1][2] == 1.0 and round(27 / 29, 4) == pairs[0][2]
    assert oracle.near_dup_clusters(pairs) == [(0, 3)]
    exact = normalize_rows([(0, 1, 0.92), (0, 3, 1.0), (1, 3, 0.92)])
    assert near_dup_pairs_match(exact, exact, sure=0.97)
    assert near_dup_pairs_match([(0, 3, 1.0)], exact, sure=0.97)  # missed only below `sure`
    assert not near_dup_pairs_match([(0, 1, 0.92)], exact, sure=0.97)  # missed a sure pair
    assert not near_dup_pairs_match(exact + [(2, 4, 0.95)], exact, sure=0.97)  # not a near-dup
    assert not near_dup_pairs_match([(0, 1, 0.95), (0, 3, 1.0)], exact, sure=0.97)  # wrong Jaccard
    assert not near_dup_pairs_match([(0, 3, 1.0), (0, 3, 1.0)], exact, sure=0.97)  # reported twice


class _StubContext:
    def __init__(self) -> None:
        self.props: dict = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v


class _StubSpark:
    sparkContext = _StubContext()


def check_self_time() -> None:
    tr = Tracer(_StubSpark())
    tr.spans = [
        {"id": 1, "name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": 0},
        {"id": 2, "name": "a", "start": 1.0, "end": 4.0, "parent": 1, "op": 0},
        {"id": 3, "name": "b", "start": 3.0, "end": 6.0, "parent": 1, "op": 0},  # overlaps a
        {"id": 4, "name": "c", "start": 2.0, "end": 3.0, "parent": 2, "op": 0},
    ]
    st = tr.self_times()
    assert st == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}, st
    per = tr.per_op(lambda n: n + "_s" if n != "op" else None)
    assert dict(per[0]) == {"a_s": 2.0, "b_s": 3.0, "c_s": 1.0}


def check_corpus_profile() -> None:
    want = inputs.PROFILE
    got = profile_corpus.profile_documents(inputs.text_documents(2000, seed=1).to_pylist())
    wd = want["documents"]
    assert got["vocabulary"].keys() == wd["vocabulary"].keys()
    assert got["appended_words"].keys() == wd["appended_words"].keys()
    for k in ("min", "max"):
        assert got["words_per_original"][k] == wd["words_per_original"][k]
    for g, w in zip(got["words_per_original"]["deciles"], wd["words_per_original"]["deciles"]):
        assert abs(g - w) <= 4, (g, w)
    assert abs(got["copy_rate"] - wd["copy_rate"]) <= 0.015, got["copy_rate"]
    assert abs(got["near_dup_pairs_per_doc"] - wd["near_dup_pairs_per_doc"]) <= 0.015
    for lang, share in wd["langs"].items():
        assert abs(got["langs"][lang] - share) <= 0.03, (lang, got["langs"][lang])
    assert got["sources"] == wd["sources"] and got["source_is_round_robin"]
    assert got["n_chars_is_len"]
    emb = inputs.embeddings(2000, seed=1)
    vecs = np.array(emb.column("embedding").to_pylist())
    ge = profile_corpus.profile_embeddings(vecs, np.array(emb.column("label").to_pylist()))
    we = want["embeddings"]
    assert (ge["dim"], ge["labels"]) == (we["dim"], we["labels"])
    assert abs(ge["norm_min"] - 1) < 1e-5 and abs(ge["norm_max"] - 1) < 1e-5
    assert abs(ge["label_centre_norm_mean"] - we["label_centre_norm_mean"]) <= 0.01
    assert abs(ge["component_std"] - we["component_std"]) <= 0.005


CHECKS = (check_percentiles, check_failure_counting, check_row_comparison,
          check_oracles, check_self_time, check_corpus_profile)


def main() -> int:
    for check in CHECKS:
        check()
        print(f"ok  {check.__name__}")
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
