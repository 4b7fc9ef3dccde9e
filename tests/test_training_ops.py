"""Tests for the training-data pipeline operators: dedup family,
similarity search, text stats, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.operators import dedup as DD
from ontology_learning_spark.operators import multimodal as MM
from ontology_learning_spark.operators import simsearch as SS
from ontology_learning_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def text_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup
        (4, "completely different content about voltage regulators and antennas"),
        (5, "spark window join filter hash aggregate sort merge partition"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string").cache()


def test_exact_dedup(text_df):
    groups = DD.exact_dedup(text_df).collect()
    assert len(groups) == 5  # 1&2 collapse
    dups = DD.exact_dup_groups(text_df).collect()
    assert len(dups) == 1 and dups[0]["doc_id"] == 1 and dups[0]["dup_count"] == 2


def test_minhash_lsh_near_dup(text_df):
    pairs = DD.ngram_jaccard_pairs(text_df, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got          # identical
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert all({a, b} & {4, 5} == set() or (a, b) in {(1, 2)} for a, b in got if {a, b} & {4, 5}), got


def test_jaccard_values(text_df):
    cands = text_df.sparkSession.createDataFrame([(1, 2), (1, 4)], "id_a int, id_b int")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in DD.jaccard_verify(cands, text_df, threshold=0.0).collect()}
    assert j[(1, 2)] == 1.0
    assert j[(1, 4)] == 0.0


def test_simhash_near_dups(text_df):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             DD.simhash_near_dups(text_df, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0          # identical text → identical simhash
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 10
    assert (1, 4) not in pairs or pairs[(1, 4)] > 3


@pytest.fixture(scope="module")
def emb_df(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.randn(20, 8)
    base[1] = base[0] + 0.01 * rng.randn(8)   # near dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()


def test_brute_force_topk(emb_df):
    q = [float(x) for x in emb_df.where("vec_id = 0").first()["embedding"]]
    top = SS.brute_force_topk(emb_df, q, k=3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine_sim"] > 0.999999
    assert top[1]["vec_id"] == 1  # the planted near-dup


def test_lsh_topk_recalls_near_neighbor(emb_df):
    """The ANN behind the ``emb_lsh_topk`` query on a second input: 20
    random 8-d vectors, one planted near-dup of vector 0."""
    q = [float(x) for x in emb_df.where("vec_id = 0").first()["embedding"]]
    got = [r["vec_id"] for r in SS.lsh_banded_topk(emb_df, q, k=2).collect()]
    assert got == [0, 1]  # itself, then its planted near-dup


def test_embedding_near_dups(emb_df):
    pairs = {(r["id_a"], r["id_b"]) for r in SS.embedding_near_dups(emb_df, threshold=0.95).collect()}
    assert (0, 1) in pairs


@pytest.fixture(scope="module")
def planted_emb_df(spark):
    """40 random 32-dim vectors + 12 planted near-dups (cos >= ~0.97)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    for j in range(12):
        v = base[j] + 0.05 * rng.randn(32)
        rows.append((100 + j, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()


def _exact_pairs(df, threshold):
    import numpy as np

    rows = df.collect()
    V = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    out = set()
    ids = sorted(V)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            c = V[a] @ V[b] / (np.linalg.norm(V[a]) * np.linalg.norm(V[b]))
            if c >= threshold:
                out.add((a, b))
    return out


def test_embedding_near_dups_recall(planted_emb_df):
    """Banded OR-construction must recover the full planted-pair set
    (round-1's single AND band returned 0 rows at ~28% recall)."""
    truth = _exact_pairs(planted_emb_df, 0.95)
    assert len(truth) >= 10  # the plant worked
    got = {(r["id_a"], r["id_b"])
           for r in SS.embedding_near_dups(planted_emb_df, threshold=0.95).collect()}
    assert got == truth  # recall 1.0 on this corpus, no false positives


def test_lsh_banded_topk_exact_on_near_neighborhood(planted_emb_df):
    q = [float(x) for x in planted_emb_df.where("vec_id = 0").first()["embedding"]]
    got = [r["vec_id"] for r in SS.lsh_banded_topk(planted_emb_df, q, k=2).collect()]
    assert got[0] == 0 and got[1] == 100  # itself, then its planted near-dup


def test_ivf_training_wide_dim(spark):
    """Lloyd update must stay long-format: training a d=512 index
    would blow up the round-1 one-agg-column-per-dimension plan."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.randn(4, 512) * 5
    rows = []
    for i in range(64):
        rows.append((i, [float(x) for x in centers[i % 4] + rng.randn(512)]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = SS.train_ivf_centroids(df, n_centroids=4, n_iters=2, seed=1)
    assert cents.shape == (4, 512)
    assigned = SS.assign_ivf(df, cents)
    # cluster purity: vectors from the same true center share a cluster
    groups = {}
    for r in assigned.collect():
        groups.setdefault(r["vec_id"] % 4, set()).add(r["ivf_cluster"])
    pure = sum(1 for s in groups.values() if len(s) == 1)
    assert pure >= 3


def test_pairwise_topk(emb_df, spark):
    queries = emb_df.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = SS.pairwise_topk(emb_df, queries, k=2)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in res.collect()}
    assert got[(0, 1)] == 0 and got[(1, 1)] == 1
    assert got[(0, 2)] == 1 and got[(1, 2)] == 0


def test_textstats(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox is in the yard, and it is fine."),
         (2, "der hund ist nicht mit der katze und der maus"),
         (3, "你好 世界"),
         (4, "!!! ??? ...")],
        "doc_id int, text string",
    )
    prof = {r["doc_id"]: r for r in TS.text_profile(df).collect()}
    assert prof[1]["lang_pred"] == "en"
    assert prof[2]["lang_pred"] == "de"
    assert prof[3]["lang_pred"] == "zh"
    assert prof[4]["lang_pred"] == "unknown"
    assert prof[1]["n_tokens"] == 12
    assert prof[1]["quality"] > prof[4]["quality"]
    assert prof[1]["fingerprint"] == prof[1]["fingerprint"]
    # fingerprint is whitespace/case-insensitive
    df2 = spark.createDataFrame([(9, "THE  quick   brown fox is in the yard, and it is fine.")],
                                "doc_id int, text string")
    fp2 = TS.text_profile(df2).collect()[0]["fingerprint"]
    assert fp2 == prof[1]["fingerprint"]


def test_pii_scrub(spark):
    df = spark.createDataFrame(
        [(1, "mail alice.smith+x@sub.example.org and bob@ex.io now"),
         (2, "call 555-010-1234 or 555 010 9999 from 10.0.0.1"),
         (3, "clean text with no secrets at all"),
         (4, "version 1.2.3 is not an ip, nor is 1.2.3.4.5 a clean one")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in TS.pii_report(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"], rows[1]["n_ipv4"]) == (2, 0, 0)
    assert (rows[2]["n_emails"], rows[2]["n_phones"], rows[2]["n_ipv4"]) == (0, 2, 1)
    assert (rows[3]["n_emails"], rows[3]["n_phones"], rows[3]["n_ipv4"]) == (0, 0, 0)
    # "1.2.3" must not match; "1.2.3.4.5" greedily matches its dotted-quad
    # prefix (documented \b-delimited behavior, same in RE2 and Java)
    assert rows[4]["n_ipv4"] == 1
    # the scrub replaces bytes, not just counts: redacted text differs,
    # clean text's md5 is the identity
    import hashlib
    assert rows[3]["scrubbed_md5"] == hashlib.md5(
        b"clean text with no secrets at all").hexdigest()
    scrubbed = df.select("doc_id", TS.scrub_pii(F.col("text")).alias("t")).collect()
    t1 = {r["doc_id"]: r["t"] for r in scrubbed}
    assert t1[1] == "mail <EMAIL> and <EMAIL> now"
    assert t1[2] == "call <PHONE> or <PHONE> from <IP>"


def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [(1, "apple apple banana common"),
         (2, "banana cherry common"),
         (3, "cherry cherry cherry common")],
        "doc_id int, text string",
    )
    out = TS.tfidf_top_terms(df, k=2, n_docs=3)
    rows = {(r["doc_id"], r["rnk"]): r for r in out.collect()}
    # doc 1: apple tf=2 df=1 → 2*4*1e6 div 2 = 4e6; banana tf=1 df=2 →
    # 4e6 div 3 = 1333333; common tf=1 df=3 → 1e6. Top-2 = apple, banana.
    assert rows[(1, 1)]["term"] == "apple" and rows[(1, 1)]["score_micro"] == 4_000_000
    assert rows[(1, 2)]["term"] == "banana" and rows[(1, 2)]["score_micro"] == 1_333_333
    # doc 3: cherry tf=3 df=2 → 3*4*1e6 div 3 = 4e6 beats common
    assert rows[(3, 1)]["term"] == "cherry" and rows[(3, 1)]["score_micro"] == 4_000_000
    # deterministic ordering: doc 2 banana vs cherry tie on tf=1,df=2 →
    # same score, term asc breaks the tie
    assert rows[(2, 1)]["term"] == "banana" and rows[(2, 2)]["term"] == "cherry"
    # n_docs threading: explicit n_docs must equal the count() fallback
    out2 = TS.tfidf_top_terms(df, k=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_hash_split(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = TS.hash_split(df).cache()
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # exhaustive + disjoint by construction (one split column per row)
    assert sum(counts.values()) == 2000
    # proportions near the 80/10/10 weights (md5 buckets are uniform;
    # ±4 pp at n=2000 is far beyond the binomial noise floor)
    assert abs(counts["train"] / 2000 - 0.8) < 0.04
    assert abs(counts["val"] / 2000 - 0.1) < 0.04
    assert abs(counts["test"] / 2000 - 0.1) < 0.04
    # pure function of (salt, key): re-run identical, new salt re-draws
    again = {(r["doc_id"], r["split"]) for r in TS.hash_split(df).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out.collect()}
    redrawn = {(r["doc_id"], r["split"])
               for r in TS.hash_split(df, salt="split-v2").collect()}
    assert redrawn != again
    out.unpersist()


def test_multimodal_plumbing(docs_df):
    media = MM.media_refs_from_spans(docs_df)
    n_media = media.count()
    assert n_media > 0
    decoded = MM.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == n_media
    assert all(r["decode_ok"] for r in rows)
    # real header parse: planted dimensions come back for image rows,
    # planted audio params for wav rows
    import hashlib

    for r in rows:
        h = hashlib.md5(r["media_ref"].encode()).digest()
        if r["codec"] in ("png", "jpeg", "gif"):
            assert r["media_type"] == "image"
            assert (r["width"], r["height"]) == (64 + h[0] % 192, 64 + h[1] % 192)
            assert r["channels"] is None and r["duration_ms"] is None
        else:
            assert r["codec"] == "wav" and r["media_type"] == "audio"
            assert r["channels"] == 1 + h[0] % 2
            assert r["duration_ms"] == 100 * (1 + h[2] % 50)
    codecs = {r["codec"] for r in rows}
    assert len(codecs) >= 3, f"format cycling should cover several codecs, got {codecs}"
    # determinism
    again = {r["media_ref"]: (r["width"], r["height"]) for r in MM.decode_media(media).collect()}
    for r in rows:
        assert again[r["media_ref"]] == (r["width"], r["height"])
    frames = MM.sample_frames(decoded, every_n=5)
    assert frames.count() >= n_media  # at least frame 0 per media
    assert frames.where(F.col("frame_idx") % 5 != 0).count() == 0


def test_decode_media_header_real_formats():
    # hand-built fixtures, not make_media_bytes, so the parser and the
    # generator can't share a bug
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4)
    d = MM.decode_media_header(png)
    assert (d["codec"], d["width"], d["height"]) == ("png", 640, 480)

    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"          # APP0 to skip
            + b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, 1080, 1920, 3)
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01" + b"\xff\xd9")
    d = MM.decode_media_header(jpeg)
    assert (d["codec"], d["width"], d["height"]) == ("jpeg", 1920, 1080)

    gif = b"GIF87a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    d = MM.decode_media_header(gif)
    assert (d["codec"], d["width"], d["height"]) == ("gif", 320, 200)

    fmt_chunk = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 44100 * 4, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + 441000 * 4) + b"WAVE" + fmt_chunk
           + b"data" + struct.pack("<I", 441000 * 4))
    d = MM.decode_media_header(wav)
    assert (d["codec"], d["channels"], d["sample_rate"], d["duration_ms"]) == (
        "wav", 2, 44100, 10_000)

    # junk / truncated payloads refuse rather than mis-parse
    assert MM.decode_media_header(b"not media") is None
    assert MM.decode_media_header(png[:10]) is None
    assert MM.decode_media_header(b"") is None
    assert MM.decode_media_header(b"\xff\xd8\xff\xd9") is None


def test_incremental_dedup_state(spark, tmp_path):
    """run_streaming_near_dedup over a base file then a delta file must
    produce the same mapping and clusters as the one-shot pipeline over
    the whole corpus — cross-split dups, intra-delta dups, and no-dup
    delta docs included."""
    import random
    from pathlib import Path

    from ontology_learning_spark.operators.canonicalize import connected_components
    from ontology_learning_spark.streaming.incremental import run_streaming_near_dedup

    rng = random.Random(9)
    words = [f"w{i}" for i in range(50)]

    def mk():
        return " ".join(rng.choice(words) for _ in range(30))

    rows = [(str(i), mk()) for i in range(90)]
    rows[10] = ("10", rows[0][1])                    # base cluster {0,10}
    rows[11] = ("11", rows[1][1])                    # base cluster {1,11}
    tweak = rows[1][1].split(); tweak[0] = "zz"
    delta = [
        ("90", rows[0][1]),                          # grows {0,10}
        ("91", " ".join(tweak)),                     # near-dup grows {1,11}
        ("92", mk()),
        ("94", mk()),                                # no dup
    ]
    delta.append(("93", delta[2][1]))                # intra-delta cluster {92,93}

    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    for part in (rows, delta):                       # one file each: base, then delta
        spark.createDataFrame(part, "doc_id string, text string") \
            .coalesce(1).write.mode("append").parquet(in_dir)
    run_streaming_near_dedup(spark, in_dir, state, str(tmp_path / "ckpt"),
                             threshold=0.5, max_files_per_trigger=1)

    versions = sorted(p.name for p in (Path(state) / "mapping").glob("v*"))
    assert versions == ["v0", "v1"]
    mapping = spark.read.parquet(f"{state}/mapping/v1")

    all_df = spark.createDataFrame(rows + delta, "doc_id string, text string")
    full_pairs = DD.ngram_jaccard_pairs(all_df, threshold=0.5)
    full = connected_components(
        full_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    assert {tuple(r) for r in mapping.collect()} == {tuple(r) for r in full.collect()}

    clusters = {r["component"]: r["count"]
                for r in mapping.groupBy("component").count().collect()}
    assert clusters == {"0": 3, "1": 3, "92": 2}
    # the band table covers every ingested doc exactly once per band
    bands = spark.read.parquet(f"{state}/bands")
    assert bands.select("id").distinct().count() == 95
    per_doc = bands.groupBy("id").count().select("count").distinct().collect()
    assert len(per_doc) == 1


def test_decontamination(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten"),
         (3, "totally unrelated words that appear nowhere else at all ok"),
         (4, "short doc")],                       # < n tokens: no grams
        "doc_id int, text string",
    )
    # eval doc embeds an 8-gram lifted verbatim from train doc 1
    eval_df = spark.createDataFrame(
        [(100, "prompt says alpha beta gamma delta epsilon zeta eta theta answer")],
        "doc_id int, text string",
    )
    rep = {r["doc_id"]: r["n_shared"]
           for r in DD.contamination_report(train, eval_df, n=8).collect()}
    assert 1 in rep and rep[1] >= 1
    assert set(rep) == {1}
    clean = sorted(r["doc_id"] for r in DD.decontaminate(train, eval_df, n=8).collect())
    assert clean == [2, 3, 4]
    # n larger than the leaked span: nothing flagged
    assert DD.contamination_report(train, eval_df, n=9).count() == 0


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),        # 7 grams: "a b c","b c a","c a b" repeat → 4 dups
         (2, "one two three four five"),  # all unique
         (3, "x y"),                      # shorter than n
         (4, "spam spam spam spam spam")],
        "doc_id int, text string",
    )
    rep = {r["doc_id"]: round(r["rep"], 6) for r in df.select(
        "doc_id", TS.repetition_ratio(F.col("text")).alias("rep")).collect()}
    assert rep[2] == 0.0 and rep[3] == 0.0
    assert rep[1] == round(1 - 3 / 7, 6)
    assert rep[4] == round(1 - 1 / 3, 6)  # 3 grams, all "spam spam spam"
