"""Deduplication operators for large-scale training-data pipelines.

All hot paths are pure Catalyst (xxhash64, higher-order array
functions) — no Python on executors except the vectorized simhash.

Scale notes:
- exact dedup is one hash-groupBy shuffle; at 100 TB you'd pre-bucket
  by the hash to make it shuffle-free on repeated runs;
- MinHash+LSH: signatures are computed map-side; the only shuffle is
  the band-bucket self-join, whose key cardinality (band hash) is
  uniform by construction — no skew;
- candidate verification (exact Jaccard on shingle arrays) runs only
  on LSH candidates, never all pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact (md5) text hash."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups with >1 member (the actual duplicates)."""
    return exact_dedup(df, text_col, id_col).where(F.col("dup_count") > 1)


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding
# ---------------------------------------------------------------------------


def word_shingles_catalyst(col, n: int = 3):
    """Distinct word n-grams as an array column (pure Catalyst).

    Shape matters: referencing the tokenized array inside a per-element
    lambda (the round-1 form indexed `toks` via element_at per shingle)
    gets the regex split INLINED into the lambda by projection collapse
    — re-tokenizing the whole document once per shingle, O(tokens²)
    regex work per doc (measured 20s of the 21s minhash bench time at
    sf0.1). arrays_zip of n shifted slices evaluates the split O(n)
    times per ROW instead, and the zip/transform are per-element cheap.

    Kept as the JVM reference implementation (and the semantic twin of
    the DuckDB oracles); the hot paths use the vectorized
    ``word_shingles`` below — higher-order array functions are
    INTERPRETED expression eval (no whole-stage codegen), and the
    zip/struct/concat chain was measured at ~300 core-seconds for 2.6M
    shingles (50k docs) vs ~10 for the Arrow-vectorized form.
    ``tests/test_round6_shingles.py`` pins bitwise equality of the two
    on adversarial inputs (tabs/newlines/empties/nulls/repeats)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, k) for j in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array()))


# Java-regex \s (no UNICODE_CHARACTER_CLASS) = [ \t\n\x0B\f\r]; using the
# exact class keeps the Python tokenizer bit-identical to
# F.split(..., r"\s+") even on control-character whitespace. F.trim
# strips U+0020 only → .strip(" "), not .strip().
import re as _re

_JAVA_WS = _re.compile("[ \t\n\x0b\f\r]+")


def _word_grams(text: str | None, n: int) -> list[str]:
    """Distinct word n-grams of one document in first-occurrence order
    (dict.fromkeys ≡ array_distinct) — the one Python tokenizer behind
    every Arrow shingle pass; empty when the text has fewer than n
    tokens."""
    toks = _JAVA_WS.split((text or "").strip(" ").lower())
    return list(dict.fromkeys(" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)))


def _shingle_udf(n: int):
    """Vectorized word-shingler: one Python loop per Arrow batch, no
    interpreted JVM higher-order functions (guide §4.1/§4.2 — the
    Catalyst zip/transform/distinct chain evaluates per-element in
    interpreted mode and allocates a struct row per shingle; measured
    ~30x slower than this form at 50k docs)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def udf(texts: pd.Series) -> pd.Series:
        return pd.Series([_word_grams(t, n) for t in texts])

    return udf


_SHINGLE_UDFS: dict[int, object] = {}


def word_shingles(col, n: int = 3):
    """Distinct word n-grams as an array column. Semantics identical to
    ``word_shingles_catalyst`` (the parity test pins it); implementation
    is an Arrow-vectorized UDF because the Catalyst higher-order-function
    chain runs interpreted and dominated the minhash/dedup walls."""
    udf = _SHINGLE_UDFS.get(n)
    if udf is None:
        udf = _SHINGLE_UDFS[n] = _shingle_udf(n)
    return udf(col)


def exploded_shingles(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, g) rows — ``explode(word_shingles(text))`` fused into ONE
    mapInArrow pass that emits the exploded rows directly.

    Row-for-row identical to the array form followed by explode (the
    round-6 parity test pins it); the fusion exists because building a
    per-doc list<string> pandas Series and exploding it in the JVM cost
    ~4x the fused form (measured 3.2 s vs 0.8 s for 2.6M shingles at
    50k docs): python-list → Arrow ListArray conversion plus the
    Generate node dominate, while a flat (id, gram) RecordBatch built
    once per Arrow batch is two contiguous arrays. Used by the
    corpus-scale gram paths (minhash signatures, decontamination);
    the array form stays for candidate-verify set ops."""
    import pyarrow as pa

    def _run(batches):
        for b in batches:
            id_type = b.column(0).type
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            out_id: list = []
            out_g: list = []
            extend_id = out_id.extend
            extend_g = out_g.extend
            for i, txt in zip(ids, texts):
                gs = _word_grams(txt, n)
                extend_g(gs)
                extend_id([i] * len(gs))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_id, type=id_type), pa.array(out_g, type=pa.string())],
                names=["id", "g"],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        _run, f"id {id_type}, g string"
    )


def exploded_gram_hashes(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, gh) rows ≡ ``exploded_shingles(...).select(id,
    xxhash64(g))`` — the gram hash folded into the SAME Arrow pass
    (``functions.xxh64`` is pinned bit-exact with ``F.xxhash64``), so
    consumers that only ever see hashed grams (decontamination) never
    serialize the gram STRINGS across the Arrow boundary at all: the
    pass emits (id, int64) — ~8 bytes vs ~50-char gram text per row
    (guide §4.1: you control how many bytes cross)."""
    import pyarrow as pa

    from ..functions.xxh64 import xxh64_many

    def _run(batches):
        for b in batches:
            id_type = b.column(0).type
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            out_id: list = []
            gram_bytes: list = []
            extend_id = out_id.extend
            extend_g = gram_bytes.extend
            for i, txt in zip(ids, texts):
                gs = _word_grams(txt, n)
                extend_g(g.encode("utf-8") for g in gs)
                extend_id([i] * len(gs))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_id, type=id_type), pa.array(xxh64_many(gram_bytes))],
                names=["id", "gh"],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        _run, f"id {id_type}, gh bigint"
    )


# Universal-hash constants for derived minhashes: minhash_i over a
# shingle set = min of (a_i*h + b_i) mod P where h = xxhash64(shingle)
# folded to 31 bits. One base hash per shingle; the per-i arithmetic is
# plain codegen'd projections — no interpreted lambda per (i, shingle).
_MERSENNE_P = (1 << 31) - 1


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(1234)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(num_hashes)]


def minhash_plan(threshold: float, target_recall: float = 0.99,
                 margin: float = 0.13, max_hashes: int = 256) -> tuple[int, int]:
    """Threshold-driven (num_hashes, bands) for banded MinHash.

    A pair at Jaccard J matches one band with p = J^r; the banding
    S-curve's midpoint sits at (1/b)^(1/r). The old fixed 8x4 put that
    midpoint at J≈0.59 — every moderate-similarity pair in a
    template-heavy corpus became a candidate (measured: 26M candidates
    for 93 real pairs on 80k generator docs). Sizing rule: walk r up
    until the midpoint clears threshold−margin, with b solved from the
    recall target at the threshold (exact form: b = ceil(ln(miss) /
    ln(1 - t^r))). At threshold 0.9 this lands at r=9, b=10 (90
    hashes): recall 0.993 for threshold-grade pairs, while a J=0.5
    pair's candidate probability drops 0.39 → 0.019. Unlike hyperplane
    LSH the rule is size-independent — random pairs (J≈0) never
    collide; it is the sub-threshold similarity mass that must sit
    below the S-curve. ``max_hashes`` caps signature cost (b·r hash
    mins per doc); if the cap binds (low thresholds), the midpoint
    constraint is relaxed, candidates grow, and a ``UserWarning`` is
    emitted so the degraded regime is observable at plan time — raise
    the threshold or the cap.
    """
    import math
    import warnings

    miss = max(1e-12, 1.0 - target_recall)
    best = None
    for r in range(4, 33):
        # exact band count for the recall target: recall = 1-(1-t^r)^b
        # (the ln(1/miss)/t^r linearization overestimates b by ~50%
        # when t^r isn't small — 15 bands where 10 suffice at t=0.9,
        # and the extra agg columns push the signature aggregation
        # past codegen's field budget)
        b = max(2, math.ceil(math.log(miss) / math.log(1 - threshold ** r)))
        if b * r > max_hashes:
            if best is None:
                # cap binds before the recall target fits (low
                # thresholds): fill the budget at the smallest r —
                # best recall available under the cap
                best = (max_hashes // 4 * 4, max_hashes // 4)
            break
        best = (b * r, b)
        midpoint = (1 / b) ** (1 / r)
        if midpoint >= threshold - margin:
            return best
    n_h, n_b = best
    mid = (1 / n_b) ** (n_b / n_h)
    warnings.warn(
        f"minhash_plan: the {max_hashes}-hash cap binds at threshold "
        f"{threshold} — S-curve midpoint {mid:.2f} sits below "
        f"threshold-margin {threshold - margin:.2f}; the candidate set "
        f"will include sub-threshold pairs (raise the threshold or "
        f"max_hashes)",
        stacklevel=2,
    )
    return best


def _resolve_minhash_geometry(
    threshold: float, num_hashes: int | None, bands: int | None,
    margin: float = 0.13,
) -> tuple[int, int]:
    """(num_hashes, bands), coherent when only ONE is given.

    Mixing one explicit value with the other taken from
    ``minhash_plan`` computes the auto half for a DIFFERENT geometry
    (e.g. num_hashes=32 with auto bands=10 → r=3, two hashes silently
    discarded, midpoint J≈0.46). Instead: given only ``num_hashes``,
    pick the divisor band count whose S-curve midpoint (1/b)^(1/r)
    lands lowest while still clearing threshold−margin (falling back
    to the highest midpoint available); given only ``bands``, solve
    the smallest r with (1/b)^(1/r) ≥ threshold−margin."""
    import math

    if num_hashes is None and bands is None:
        return minhash_plan(threshold)
    if num_hashes is not None and bands is not None:
        return num_hashes, bands
    if num_hashes is not None:
        divs = [b for b in range(2, num_hashes // 2 + 1) if num_hashes % b == 0]
        if not divs:
            raise ValueError(
                f"num_hashes={num_hashes} admits no (bands, rows) split "
                f"with bands>=2 and rows>=2; pass bands explicitly")
        # midpoint falls as b rises (smaller r): max(ok) = best recall
        # that still clears; fallback = smallest b = closest from below
        ok = [b for b in divs if (1 / b) ** (b / num_hashes) >= threshold - margin]
        return num_hashes, (max(ok) if ok else min(divs))
    r = max(2, math.ceil(math.log(bands) / -math.log(max(threshold - margin, 1e-9))))
    return bands * r, bands


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash (id_a < id_b).
    ``num_hashes``/``bands`` default to ``minhash_plan(threshold)``;
    with exactly one given, the other is derived coherently from it
    (``_resolve_minhash_geometry``).

    The band table is PINNED before the self-join: the executed plan
    otherwise runs the whole signature subtree (Arrow shingle pass +
    wide min-aggregation) once per join side — AQE's broadcast-join
    conversion replaces one side's Exchange with a BroadcastExchange,
    so ReuseExchange never fires on this shape (verified: 2x
    PythonMapInArrow in the executed plan without the pin)."""
    from ..functions.persistence import materialize

    banded = materialize(minhash_band_table(df, text_col, id_col, num_hashes,
                                            bands, shingle_n, threshold))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _signature_mins(base: np.ndarray, offsets: list[int], a_vec: np.ndarray,
                    b_vec: np.ndarray, cap: int) -> np.ndarray:
    """MinHash signatures: row d is the column-wise min of
    ``(g * a + b) % _MERSENNE_P`` over the gram hashes
    ``base[offsets[d]:offsets[d + 1]]`` (every document non-empty). The
    (grams x hashes) product is built at most ``cap`` grams at a time:
    consecutive documents share a chunk, and a document longer than
    ``cap`` is folded slice by slice with ``np.minimum`` (min is
    associative, so the result is exact)."""
    mersenne = np.int64(_MERSENNE_P)
    n_docs = len(offsets) - 1
    mins = np.empty((n_docs, len(a_vec)), dtype=np.int64)

    def hashed(g0: int, g1: int) -> np.ndarray:
        return (base[g0:g1, None] * a_vec[None, :] + b_vec[None, :]) % mersenne

    c0 = 0
    while c0 < n_docs:
        c1 = c0 + 1
        g0 = offsets[c0]
        while c1 < n_docs and offsets[c1 + 1] - g0 <= cap:
            c1 += 1
        g1 = offsets[c1]
        if g1 - g0 <= cap:
            starts = np.asarray(offsets[c0:c1], dtype=np.int64) - g0
            mins[c0:c1] = np.minimum.reduceat(hashed(g0, g1), starts, axis=0)
        else:  # one document alone exceeds the cap: fold it slice by slice
            mins[c0] = np.minimum.reduce(
                [hashed(s0, min(s0 + cap, g1)).min(axis=0) for s0 in range(g0, g1, cap)])
        c0 = c1
    return mins


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """The (id, band, bh) band-key table for a corpus slice — the
    LSH state ``streaming.incremental.run_streaming_near_dedup`` stores
    per batch: a delta's keys join against the stored table instead of
    re-signing history.
    Geometry is threshold-driven (``minhash_plan``) and therefore
    corpus-size-INDEPENDENT, which is what makes the table stable
    across deltas (the same threshold always produces the same keys).
    At scale, store it bucketed by (band, bh) so the candidate join is
    exchange-free on the history side.

    Implementation: ONE fused mapInArrow pass — shingle, XXH64 each
    gram (``functions.xxh64``, bit-exact with ``F.xxhash64``), fold the
    universal-hash mins per doc, and hash each band's signature slice —
    emitting (id, band, bh) directly. Row-identical to the JVM
    reference (``minhash_band_table_catalyst``: explode → xxhash64 →
    wide groupBy-min → band struct explode), pinned by
    ``tests/test_round6_band_arrow.py``. The fusion removes the gram
    exchange, the ``num_hashes``-column aggregation (and its multi-
    second one-time codegen compile), and ~90 driver-side expression
    trees per call — at 100 TB the gram explode was the single largest
    shuffle in the dedup path; here the grams never leave the Python
    worker that produced them."""
    num_hashes, bands = _resolve_minhash_geometry(threshold, num_hashes, bands)
    rows = num_hashes // bands
    params = _hash_params(num_hashes)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    n = shingle_n
    p31 = np.int64(1 << 31)

    import pyarrow as pa

    from ..functions.xxh64 import xxh64_many

    def _run(batches):
        for batch in batches:
            id_type = batch.column(0).type
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            doc_ids: list = []
            gram_bytes: list = []
            offsets = [0]
            for i, txt in zip(ids, texts):
                gs = _word_grams(txt, n)
                if not gs:
                    continue
                doc_ids.append(i)
                gram_bytes.extend(g.encode("utf-8") for g in gs)
                offsets.append(len(gram_bytes))
            if not doc_ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], type=id_type),
                     pa.array([], type=pa.int32()),
                     pa.array([], type=pa.int64())],
                    names=["id", "band", "bh"],
                )
                continue
            # base hash per gram: pmod(xxhash64(g), 2^31) — numpy int64 %
            # has Python sign semantics (non-negative for a positive
            # modulus), exactly pmod.
            base = xxh64_many(gram_bytes) % p31
            n_docs_b = len(doc_ids)
            # ~90 MB of worker memory per 120k-gram chunk at 90 hashes
            mins = _signature_mins(base, offsets, a_vec, b_vec, 120_000)
            # band hash: xxhash64 of the comma-joined signature slice —
            # identical bytes to concat_ws(",", m...) (Long.toString ≡
            # str(int) for decimal longs)
            band_strs: list = []
            append = band_strs.append
            for d in range(n_docs_b):
                row = mins[d].tolist()
                for bb in range(bands):
                    append(",".join(map(str, row[bb * rows:(bb + 1) * rows])).encode())
            bh = xxh64_many(band_strs)
            out_ids = [i for i in doc_ids for _ in range(bands)]
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=id_type),
                 pa.array(np.tile(np.arange(bands, dtype=np.int32), n_docs_b)),
                 pa.array(bh)],
                names=["id", "band", "bh"],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        _run, f"id {id_type}, band int, bh bigint"
    )


def minhash_band_table_catalyst(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """JVM reference for ``minhash_band_table`` (and its semantic twin
    for the DuckDB oracles): fused shingle+explode Arrow pass → one
    ``F.xxhash64`` per shingle → ``num_hashes`` plain arithmetic
    projections (whole-stage codegen) → groupBy-min → band struct
    explode. The parity test pins the Arrow fast path against this."""
    num_hashes, bands = _resolve_minhash_geometry(threshold, num_hashes, bands)
    rows = num_hashes // bands
    params = _hash_params(num_hashes)
    ex = exploded_shingles(df, text_col, id_col, shingle_n).withColumn(
        "h", F.pmod(F.xxhash64("g"), F.lit(1 << 31))
    )
    sig = ex.groupBy("id").agg(
        *[F.min((F.col("h") * a + b) % _MERSENNE_P).alias(f"m{i}")
          for i, (a, b) in enumerate(params)]
    )
    return sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[F.col(f"m{b * rows + j}") for j in range(rows)])).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact word-shingle Jaccard on candidate pairs only. Shingles are
    computed only for rows that appear in a candidate pair (semi-join
    first) — the verify side should never rescan the full corpus.

    The candidate frame is pinned first: it feeds BOTH the id semi-join
    and the verify join, and without materialization each consumer
    re-executes the whole upstream signature pipeline (measured: the
    minhash band join ran 2x per verify at 320k docs)."""
    from ..functions.persistence import materialize

    candidates = materialize(candidates)
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .union(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # sh feeds BOTH pair sides: unpinned, each join side re-runs the
    # corpus semi-join scan plus the shingle UDF over the candidate
    # docs (2x Scan parquet + 2x ArrowEvalPython in the executed plan)
    # — at scale that is two full corpus scans for one verify.
    sh = materialize(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .join(F.broadcast(cand_ids), "id", "left_semi")
        .select("id", word_shingles(F.col("_t"), shingle_n).alias("sh"))
    )
    j = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return j.where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify.
    Band geometry defaults to ``minhash_plan(threshold)`` so the
    S-curve midpoint tracks the verify threshold — the candidate set
    stays proportional to the real near-dup mass, not to the corpus's
    moderate-similarity pair count (see ``minhash_plan``)."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands,
                                   shingle_n, threshold)
    return jaccard_verify(cands, df, text_col, id_col, threshold, shingle_n)


# ---------------------------------------------------------------------------
# SimHash (vectorized pandas UDF — bit ops aren't Catalyst-friendly)
# ---------------------------------------------------------------------------


# Token → ±1 bit-contribution vector, memoized per executor process:
# the token vocabulary is tiny relative to the corpus, so the md5 (the
# round-2 per-token interpreted inner loop) runs once per DISTINCT
# token instead of once per occurrence. Bounded so a 100 TB corpus's
# long-tail vocabulary can't grow executor memory without limit.
_SIMHASH_TOK_CACHE: dict[str, "np.ndarray"] = {}
_SIMHASH_TOK_CACHE_MAX = 2_000_000


def _simhash_token_vec(tok: str) -> "np.ndarray":
    v = _SIMHASH_TOK_CACHE.get(tok)
    if v is None:
        import hashlib

        # identical bit order to the original per-token loop (and the
        # DuckDB SQL twin): unpackbits over md5 digest[:8], MSB-first
        # within each byte.
        bits = np.unpackbits(
            np.frombuffer(hashlib.md5(tok.encode()).digest()[:8], dtype=np.uint8)
        )
        v = np.where(bits == 1, 1, -1).astype(np.int64)
        if len(_SIMHASH_TOK_CACHE) >= _SIMHASH_TOK_CACHE_MAX:
            _SIMHASH_TOK_CACHE.clear()
        _SIMHASH_TOK_CACHE[tok] = v
    return v


_SIMHASH_BIT_VALUES = (np.uint64(1) << np.arange(64, dtype=np.uint64))


@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (deterministic). Near-dups have
    small Hamming distance.

    Vectorized: per document, token multiplicities fold into one
    (counts @ unique-token-bit-matrix) integer matmul; md5 runs only on
    cache-miss tokens. Bit-exact with the round-2 per-token loop (the
    accumulator is the same ±1 sum, reassembled MSB-per-byte)."""
    from collections import Counter

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = (t or "").lower().split()
        if not toks:
            continue
        cnt = Counter(toks)
        M = np.stack([_simhash_token_vec(tok) for tok in cnt])
        c = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
        acc = c @ M
        sig = np.uint64(_SIMHASH_BIT_VALUES[acc > 0].sum())
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    shingle_n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup CLUSTERS: LSH candidate pairs → exact-Jaccard verify →
    connected components → one representative per cluster.

    This is the step a training-data pipeline actually runs after pair
    detection: transitive near-dup groups collapse to one kept document
    (representative = min id here; swap the min for a quality-score
    argmax to keep the best member). The component step reuses the M13
    canonicalization machinery (iterative min-label propagation — no
    per-row Python), so cluster chains (a~b~c without a~c clearing the
    threshold) still collapse to one group.

    Returns (canonical_id, cluster_size) for clusters of size ≥ 2.

    Id contract: ids travel through the label propagation as zero-
    padded strings, padded to max(20, longest id in any pair) — the
    width is measured on the (materialized, near-dup-sized) pair frame
    so long ids are never silently TRUNCATED into colliding CC nodes.
    The representative is the member whose padded form is
    lexicographically minimal — for non-negative integer ids (the
    documents table case) that IS the numeric min. Other id types
    (strings, negatives) still get a deterministic representative in
    its ORIGINAL dtype (min_by on the raw value — no bigint cast that
    would NULL out non-numeric ids), but the "min" ordering is the
    padded-string order, not numeric.
    """
    from ..functions.persistence import materialize
    from .canonicalize import connected_components

    # Pin the verified pairs: they feed the CC edge set AND the
    # padded→raw id map, and recomputing them means re-running the
    # signature+verify pipeline per consumer (measured 1061 s → ~150 s
    # at 320k docs from this and the jaccard_verify pin alone).
    pairs = materialize(ngram_jaccard_pairs(df, text_col, id_col, threshold,
                                            shingle_n, num_hashes, bands))
    # Pad width sized to the data: lpad TRUNCATES overflow, so a fixed
    # 20 would merge any two >20-char ids sharing a 20-char prefix into
    # one CC node. One tiny agg over the already-materialized pairs.
    row = pairs.agg(
        F.max(F.greatest(F.length(F.col("id_a").cast("string")),
                         F.length(F.col("id_b").cast("string")))).alias("w")
    ).first()
    padw = max(20, int(row["w"] or 0))
    _pad = lambda c: F.lpad(F.col(c).cast("string"), padw, "0")
    edges = pairs.select(_pad("id_a").alias("src"), _pad("id_b").alias("dst"))
    # padded label → raw id (original dtype), for representative recovery
    idmap = (
        pairs.select(F.col("id_a").alias("raw"))
        .unionByName(pairs.select(F.col("id_b").alias("raw")))
        .distinct()
        .select("raw", F.lpad(F.col("raw").cast("string"), padw, "0").alias("node"))
    )
    cc = connected_components(edges)
    return (
        cc.join(idmap, "node")
        .groupBy("component")
        .agg(
            F.min_by("raw", "node").alias("canonical_id"),
            F.count("*").alias("cluster_size"),
        )
        .where(F.col("cluster_size") >= 2)
        .select("canonical_id", F.col("cluster_size").cast("int").alias("cluster_size"))
    )


def _block_widths(m: int) -> list[int]:
    """Near-even split of the 64 signature bits into m blocks."""
    base, rem = divmod(64, m)
    return [base + (1 if i < rem else 0) for i in range(m)]


def pick_simhash_blocks(n: int, max_hamming: int = 3, max_blocks: int = 8) -> int:
    """Smallest block count m (> max_hamming) whose table key carries
    ≥ log2(n)+2 bits — the scale dial of the multi-table scheme.

    With m blocks and hamming radius k, each table keys on an
    (m-k)-block combination; its worst-case key width is the sum of the
    m-k narrowest blocks. m=4 (the old fixed 4x16 layout) gives 16-bit
    keys — only 2^16 buckets, so expected random-pair collisions per
    table are n²/2^16, quadratic past ~10^5 docs. m=5 → 25-bit keys
    (10 tables), m=8 → 40-bit keys (56 tables): table count grows
    C(m, m-k) but candidate volume stays ~tables · n²/2^key_bits,
    linear in n while n ≲ 2^(key_bits-2) (Manku et al., WWW'07).
    """
    import math

    # pigeonhole needs m > max_hamming blocks; a wide radius therefore
    # forces narrow block keys (the inherent simhash trade-off)
    lo = max_hamming + 1
    hi = max(max_blocks, lo)
    target = math.log2(max(n, 2)) + 2
    for m in range(lo, hi + 1):
        widths = sorted(_block_widths(m))
        if sum(widths[: m - max_hamming]) >= target:
            return m
    return hi


def simhash_blocking_keys(sig_col, m: int, max_hamming: int = 3):
    """Array of (tbl, key) structs for the multi-table pigeonhole
    blocking: hamming ≤ k ⇒ ≥ m-k of the m blocks agree ⇒ at least one
    (m-k)-block combination matches exactly, so candidates joined on
    (tbl, key) have EXACT recall — the blocking is a partition trick,
    not an approximation. Keys are the selected block values packed
    into one long (≤ 40 bits at m ≤ 8); plain codegen arithmetic."""
    import itertools

    widths = _block_widths(m)
    shifts = [sum(widths[:i]) for i in range(m)]
    keys = []
    for t, combo in enumerate(itertools.combinations(range(m), m - max_hamming)):
        key = F.lit(0).cast("long")
        off = 0
        for i in combo:
            # arithmetic shiftright sign-extends the high block, but the
            # mask keeps exactly the true block bits
            bv = F.shiftright(sig_col, shifts[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
            key = key + bv * F.lit(1 << off)
            off += widths[i]
        keys.append(F.struct(F.lit(t).alias("tbl"), key.alias("key")))
    return F.array(*keys)


def simhash_near_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3, blocks: int | None = None,
                      n_docs: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash, multi-table pigeonhole blocking.

    ``blocks`` (m) defaults to ``pick_simhash_blocks(n)`` so the
    table-key width tracks log2(n)+2 — the fixed 4x16-bit chunk layout
    this replaces kept only 2^16 buckets per table and went quadratic
    past ~10^5 docs. The output is invariant to m (exact pigeonhole +
    exact hamming verify), so changing the block count never changes
    results, only the candidate volume. Auto-sizing needs the corpus
    size: pass ``n_docs`` when the caller already knows it (pipelines,
    benches), else one ``df.count()`` job is spent. ``blocks`` must
    exceed ``max_hamming`` — the pigeonhole argument needs at least
    one block untouched by the allowed bit flips; fewer blocks would
    degenerate every table key to a constant (an all-pairs join).
    """
    if blocks is not None and blocks <= max_hamming:
        raise ValueError(
            f"blocks={blocks} must be > max_hamming={max_hamming}: the "
            f"pigeonhole blocking keys on (blocks - max_hamming)-block "
            f"combinations, which would be empty")
    from ..functions.persistence import materialize

    m = blocks if blocks is not None else pick_simhash_blocks(
        n_docs if n_docs is not None else df.count(), max_hamming)
    # Pin the (id, sig) table before fanning out to blocking keys: the
    # self-join's broadcast side otherwise re-runs the simhash pandas
    # UDF over the whole corpus (no ReuseExchange under AQE's
    # broadcast conversion — see minhash_lsh_candidates). The pin is
    # corpus-ROW-sized but only 16 bytes/row; the 10x key fan-out
    # stays lazy and is recomputed per side from the pinned sigs
    # (plain codegen arithmetic, cheap by construction).
    sig = materialize(
        df.select(F.col(id_col).alias("id"), simhash64_udf(F.col(text_col)).alias("sig"))
    )
    tabled = sig.select(
        "id", "sig",
        F.explode(simhash_blocking_keys(F.col("sig"), m, max_hamming)).alias("tk"),
    ).select("id", "sig", F.col("tk.tbl").alias("tbl"), F.col("tk.key").alias("key"))
    a, b = tabled.alias("a"), tabled.alias("b")
    # Hamming verify BEFORE the distinct: dup-heavy corpora produce
    # far more same-key join hits than surviving pairs (measured 2.35M
    # hits → 13.9k pairs at 50k docs), and the old shape shuffled every
    # hit (plus both 64-bit sigs) through the dedup exchange. The
    # bit_count filter is a per-row projection — evaluating it on the
    # join output first shrinks the distinct's input ~17x. Same rows
    # out: filter-then-distinct ≡ distinct-then-filter for a
    # deterministic per-row predicate, and hamming is a function of the
    # pair so the projected distinct keys are unchanged.
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Decontamination: eval-set n-gram overlap against a training corpus
# ---------------------------------------------------------------------------


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """(train doc_id, n_shared) for training docs sharing ≥1 word
    ``n``-gram with ANY eval document — the standard decontamination
    test before training on a crawl (eval answers leaking into training
    data inflate benchmarks; verbatim-n-gram overlap is the filter used
    by the public LM-training dedup literature, e.g. Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Shape at 100 TB: the eval side is benchmark-sized (thousands of
    docs) — its distinct gram set BROADCASTS, so the corpus side is one
    narrow explode + broadcast-semi pass, zero corpus shuffle until the
    per-doc count (which only sees matching grams). Grams travel as
    xxhash64 (8 bytes vs ~50-char strings); a 2^-64 collision could
    flag one extra doc — acceptable for a filter whose false-positive
    cost is dropping one training document.
    """
    ev = (
        exploded_gram_hashes(eval_df, text_col, id_col, n)
        .select("gh")
        .distinct()
    )
    tr = exploded_gram_hashes(train, text_col, id_col, n).select(
        F.col("id").alias(id_col), "gh"
    )
    return (
        tr.join(F.broadcast(ev), "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """The filtered training corpus: drop every doc flagged by
    ``contamination_report`` (left-anti on the flagged ids)."""
    bad = contamination_report(train, eval_df, text_col, id_col, n).select(id_col)
    return train.join(F.broadcast(bad), id_col, "left_anti")

