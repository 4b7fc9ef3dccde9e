"""Product-quantization ANN: codebook training determinism, encode
contract, ADC recall vs exact cosine, and the IVF-PQ degradation
identity (n_probe = all clusters ≡ plain PQ scan)."""

from __future__ import annotations

import numpy as np
import pytest

from ontology_learning_spark.operators import simsearch as SS


@pytest.fixture(scope="module")
def clustered_df(spark):
    rng = np.random.RandomState(11)
    centers = rng.randn(4, 16) * 5
    rows = []
    for i in range(240):
        c = i % 4
        v = centers[c] + 0.3 * rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()


def test_codebooks_deterministic_and_shaped(clustered_df):
    b1 = SS.train_pq_codebooks(clustered_df, m=4, n_codes=16, sample_size=200, seed=5)
    b2 = SS.train_pq_codebooks(clustered_df, m=4, n_codes=16, sample_size=200, seed=5)
    assert b1.shape == (4, 16, 4)
    assert np.array_equal(b1, b2)
    with pytest.raises(ValueError, match="not divisible"):
        SS.train_pq_codebooks(clustered_df, m=5, n_codes=16, sample_size=200)


def test_pq_encode_contract_and_quantization_error(clustered_df):
    books = SS.train_pq_codebooks(clustered_df, m=4, n_codes=16, sample_size=240, seed=5)
    codes = SS.pq_encode(clustered_df, books)
    rows = codes.collect()
    assert len(rows) == 240
    m, k, sub = books.shape
    for r in rows[:20]:
        assert len(r["pq_code"]) == m
        assert all(0 <= c < k for c in r["pq_code"])
    # reconstruction error small relative to vector norm on clustered
    # data (each subspace has 16 codewords for ~4 true clusters)
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in clustered_df.collect()}
    errs, norms = [], []
    for r in rows:
        v = vecs[r["vec_id"]]
        rec = np.concatenate([books[j][r["pq_code"][j]] for j in range(m)])
        errs.append(np.linalg.norm(v - rec))
        norms.append(np.linalg.norm(v))
    assert np.mean(errs) / np.mean(norms) < 0.15


def test_pq_topk_recall_vs_exact(clustered_df):
    # finer geometry than the contract tests: recall of tightly-packed
    # within-cluster neighbors needs sub-cluster resolution
    books = SS.train_pq_codebooks(clustered_df, m=8, n_codes=32, sample_size=240, seed=5)
    codes = SS.pq_encode(clustered_df, books).cache()
    q = [float(x) for x in clustered_df.where("vec_id = 3").first()["embedding"]]
    # this corpus's exact ranks 5-20 are separated by ~5e-4 cosine —
    # quantization cannot resolve near-ties, so the right bound is
    # containment in a modestly widened exact set, not strict recall@10
    exact25 = {r["vec_id"] for r in SS.brute_force_topk(clustered_df, q, k=25).collect()}
    approx = SS.pq_topk(codes, q, books, k=10)
    got = approx.collect()
    assert [r["rank"] for r in got] == list(range(1, 11))
    assert got[0]["vec_id"] == 3, "the query itself must win"
    approx_ids = {r["vec_id"] for r in got}
    assert approx_ids <= exact25, f"stray result outside exact top-25: {approx_ids - exact25}"
    # every hit from the query's planted cluster (ids ≡ 3 mod 4)
    assert all(i % 4 == 3 for i in approx_ids)
    # adc_cosine approximates the true cosine of the top hit
    assert got[0]["adc_cosine"] == pytest.approx(1.0, abs=0.05)
    # plan shape: codes scan -> Arrow scorer -> TakeOrderedAndProject
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ivf_pq_full_probe_equals_plain_pq(clustered_df):
    books = SS.train_pq_codebooks(clustered_df, m=4, n_codes=16, sample_size=240, seed=5)
    cents = SS.train_ivf_centroids(clustered_df, n_centroids=4, n_iters=6)
    q = [float(x) for x in clustered_df.where("vec_id = 7").first()["embedding"]]
    codes = SS.pq_encode(clustered_df, books)
    plain = [(r["vec_id"], round(r["adc_cosine"], 9))
             for r in SS.pq_topk(codes, q, books, k=8).collect()]
    full = [(r["vec_id"], round(r["adc_cosine"], 9))
            for r in SS.ivf_pq_topk(clustered_df, q, cents, books, k=8, n_probe=4).collect()]
    assert plain == full
    # n_probe=1: the query's own planted cluster carries its neighbors;
    # near-tied exact ranks mean containment-in-top-25 is the sound
    # bound (see test_pq_topk_recall_vs_exact)
    one = {r["vec_id"] for r in SS.ivf_pq_topk(clustered_df, q, cents, books, k=8, n_probe=1).collect()}
    exact25 = {r["vec_id"] for r in SS.brute_force_topk(clustered_df, q, k=25).collect()}
    assert all(i % 4 == 3 for i in one), "hit outside the query's planted cluster"
    assert len(one & exact25) >= 6


def _lloyd_with_matmul(X, m, n_codes, n_iters, seed):
    """The Lloyd loop as it read with ``Xj @ C_.T`` distances."""
    sub = X.shape[1] // m
    k = min(n_codes, X.shape[0])
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, sub))
    for j in range(m):
        Xj = X[:, j * sub:(j + 1) * sub]
        C_ = Xj[rng.permutation(Xj.shape[0])[:k]].copy()
        for _ in range(n_iters):
            dist = (C_ * C_).sum(axis=1)[None, :] - 2.0 * (Xj @ C_.T)
            a = np.argmin(dist, axis=1)
            newC = C_.copy()
            for c in range(k):
                mask = a == c
                if mask.any():
                    newC[c] = Xj[mask].mean(axis=0)
                else:
                    newC[c] = Xj[int(np.argmax(dist[np.arange(len(a)), a]))]
            done = np.allclose(newC, C_, atol=1e-10)
            C_ = newC
            if done:
                break
        books[j] = C_
    return books


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_lloyd_codebooks_match_the_matmul_loop(seed):
    # the benchmark's shape: ~2,000 sample rows, d=64, m=8, 64 codes
    rng = np.random.RandomState(seed)
    X = rng.randn(2010, 64) + rng.randn(8, 64)[rng.randint(0, 8, 2010)] * 3
    got = SS._lloyd_codebooks(X, m=8, n_codes=64, n_iters=10, seed=42)
    assert np.array_equal(got, _lloyd_with_matmul(X, 8, 64, 10, 42))
