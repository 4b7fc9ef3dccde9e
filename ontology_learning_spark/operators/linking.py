"""Entity linking (SURVEY.md §2.3 M1-M6): blocked candidate generation +
scored joins against the entity catalog.

Scale shape (the part that must survive 100 TB):
- the catalog is small relative to the corpus → every catalog join is a
  **broadcast** join; the mention side never shuffles for linking;
- linking operates on DISTINCT normalized concepts (vocabulary-bounded,
  not corpus-bounded) — the reference dedups before its per-concept
  loop for the same reason (src/idea_extractor.py:121);
- the embedding band (M2) is a broadcast nested-loop join whose cosine
  runs JVM-side via higher-order array functions — zero Python;
- the fuzzy bands (M3-fuzzy / M5) only score **blocked** pairs (shared
  token or 4-char prefix, semantics.block_keys) — never all-pairs; the
  SequenceMatcher ratio runs vectorized in a pandas UDF because parity
  with difflib is a correctness requirement;
- Zipf-hot surface forms are fine here precisely because linking is
  per-distinct-concept; the skew-sensitive join is mentions→decisions
  fan-back, which AQE skew-join handles (see plans/pipeline.py).

Match-method ranks (tie-break: equal scores keep the lower rank,
mirroring the reference's first-offer-wins dict insertion order
src/ontology_extension_manager.py:489-499):
  0 embedding, 1 lexical_exact_normalized, 2 lexical_similar_normalized,
  3 technical_specs, 4 category_variant.

Reference parity (behavior studied, no code copied): match orchestration
src/ontology_extension_manager.py:225-249 (top-10 :249); embedding band
:251-273; lexical exact/fuzzy :275-309 (ratio >=0.8 :301); technical
:311-338 (total >=1.5 :328); category variant :340-366 (ratio >=0.4,
confidence x0.7 :357-362); catalog load :90-141.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import columns as C
from ..functions import semantics as S

EMBED_DIM = S.EMBED_DIM

# Doubles, not floats: the decision cascade compares scores against
# thresholds and argmaxes near-ties; float32 rounding can flip the
# argmax vs the float64 oracle.
_embed_schema = T.ArrayType(T.DoubleType())


@F.pandas_udf(_embed_schema)
def embed_text_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: S.hashed_embedding(t or ""))


@F.pandas_udf(T.DoubleType())
def seq_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [S.seq_ratio(x or "", y or "") for x, y in zip(a, b)], dtype="float64"
    )


def concept_text_col(name, category=None, description=None, frequency=None, impedance=None):
    """Catalyst version of semantics.concept_text (E14)."""
    parts = [name]
    if category is not None:
        parts.append(F.when(category.isNotNull() & (category != ""), F.concat(F.lit("Category: "), category)))
    if description is not None:
        parts.append(F.when(description.isNotNull() & (description != ""), F.concat(F.lit("Description: "), F.substring(description, 1, 200))))
    if frequency is not None:
        parts.append(F.when(frequency.isNotNull() & (frequency != ""), F.concat(F.lit("Frequency: "), frequency)))
    if impedance is not None:
        parts.append(F.when(impedance.isNotNull() & (impedance != ""), F.concat(F.lit("Impedance: "), impedance)))
    return F.concat_ws(". ", *parts)


def block_keys_col(norm_col):
    """Catalyst twin of semantics.block_keys: tokens + 4-char prefix."""
    return F.array_distinct(
        F.concat(
            F.split(norm_col, " "),
            F.array(F.substring(norm_col, 1, 4)),
        )
    )


CATALOG_SCHEMA = (
    "name string, norm_name string, category string, description string, "
    "frequency string, impedance string, voltage string, connector string, "
    "mounting string, source string"
)


def prepare_catalog(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Catalog DF with norm name, embedding and block keys precomputed.

    The catalog is dimension-sized (it gets broadcast everywhere), so
    norm/embedding are computed driver-side — one less Python stage in
    the job (the concept side always uses the distributed UDF path).
    A corpus-scale catalog would flip to prepare_concepts-style UDFs.
    """
    cols = ["name", "norm_name", "category", "description", "frequency",
            "impedance", "voltage", "connector", "mounting", "source", "embedding"]
    prepared = [
        {
            **{k: r.get(k) for k in (
                "name", "category", "description", "frequency",
                "impedance", "voltage", "connector", "mounting", "source")},
            "norm_name": S.normalize_name(r["name"]),
            "embedding": S.hashed_embedding(S.concept_text(r)),
        }
        for r in rows
    ]
    # pandas + Arrow, NOT a plain python list: local-list createDataFrame
    # builds a pickled RDD whose first materialization cold-starts a
    # Python worker (~4s measured on the critical path); the Arrow path
    # converts JVM-side.
    pdf = pd.DataFrame(prepared, columns=cols)
    cat = spark.createDataFrame(
        pdf, schema=CATALOG_SCHEMA + ", embedding array<double>"
    )
    # ONE partition, not defaultParallelism: the catalog is a broadcast
    # dimension — 32 near-empty partitions cost 32 task launches on
    # every scan (measured ~0.4s/stage on the serial tail, several
    # scans per pipeline run).
    return cat.coalesce(1).withColumn("block_keys", block_keys_col(F.col("norm_name")))


def prepare_concepts(concepts: DataFrame) -> DataFrame:
    """Distinct concepts with inferred category, embedding, block keys.
    Input column: ``concept`` (normalized surface)."""
    out = concepts.withColumn("category", C.infer_category(F.col("concept")))
    out = out.withColumn(
        "embedding", embed_text_udf(concept_text_col(F.col("concept"), F.col("category")))
    )
    out = out.withColumn("block_keys", block_keys_col(F.col("concept")))
    return out


def embedding_matches(concepts: DataFrame, catalog: DataFrame, low: float) -> DataFrame:
    """M2: all-pairs cosine vs the (small, broadcast) catalog.

    One numpy matmul per Arrow batch — (N×d)@(d×C) — instead of a
    crossJoin with per-element lambda evaluation: the interpreted
    higher-order-function cosine was ~5x the whole linking budget.
    Scores round to SCORE_DECIMALS so the float64 summation order is
    immaterial (same contract as the oracle)."""
    import numpy as np
    import pandas as pd

    # Memoized on the catalog DataFrame object: a long-lived job links
    # many batches against one broadcast catalog, and the collect +
    # normalize is a driver-side job on the critical path of every
    # pipeline run otherwise.
    cached = getattr(catalog, "_ols_embed_cache", None)
    if cached is None:
        cat_rows = catalog.select("name", "embedding").collect()  # catalog is small
        names = np.array([r["name"] for r in cat_rows])
        M = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in cat_rows])
        m_norm = np.linalg.norm(M, axis=1)
        m_norm[m_norm == 0] = 1.0
        Mn = (M.T / m_norm).T
        cached = (names, Mn)
        catalog._ols_embed_cache = cached
    names, Mn = cached

    # Per-concept cap inside the band: hashed embeddings are weakly
    # selective (most concept x catalog pairs clear the low bar —
    # measured 3.9M offer rows at 46k concepts), but only a band's own
    # top-10 by (score desc, candidate asc) can ever reach rank_matches'
    # global top-10: every kept offer outranks every dropped one under
    # the same tie-break, so the cap is output-invariant and the M6
    # shuffle sees 10 rows per concept instead of |catalog|.
    name_order = np.argsort(names, kind="stable")

    def _run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            v_norm = np.linalg.norm(V, axis=1)
            v_norm[v_norm == 0] = 1.0
            Vn = (V.T / v_norm).T
            Sc = np.round(Vn @ Mn.T, S.SCORE_DECIMALS)
            # columns pre-sorted by candidate name; stable argsort by
            # -score then yields (score desc, name asc) per row
            Sc_by_name = Sc[:, name_order]
            order = np.argsort(-Sc_by_name, axis=1, kind="stable")
            s_ord = np.take_along_axis(Sc_by_name, order, axis=1)
            valid = s_ord >= low
            keep = valid & (np.cumsum(valid, axis=1) <= 10)
            ci, pos = np.nonzero(keep)
            ki = name_order[order[ci, pos]]
            yield pd.DataFrame(
                {
                    "concept": pdf["concept"].to_numpy()[ci],
                    "candidate": names[ki],
                    "score": Sc[ci, ki],
                }
            )

    scored = concepts.select("concept", "embedding").mapInPandas(
        _run, "concept string, candidate string, score double"
    )
    return scored.select(
        "concept", "candidate", "score",
        F.lit(0).alias("method_rank"), F.lit("embedding").alias("match_type"),
    )


def lexical_exact_matches(concepts: DataFrame, catalog: DataFrame) -> DataFrame:
    """M3-exact: equi-join concept == catalog norm_name → score 1.0."""
    cat = F.broadcast(
        catalog.select(F.col("name").alias("candidate"), F.col("norm_name").alias("cand_norm"))
    )
    return (
        concepts.select("concept")
        .join(cat, F.col("concept") == F.col("cand_norm"))
        .select("concept", "candidate", F.lit(1.0).alias("score"),
                F.lit(1).alias("method_rank"),
                F.lit("lexical_exact_normalized").alias("match_type"))
    )


def _blocked_pairs(concepts: DataFrame, catalog: DataFrame) -> DataFrame:
    """Explode block keys on both sides, broadcast-join on key, distinct
    pair. Returns (concept, category, candidate, cand_norm, cand_category)."""
    left = concepts.select(
        "concept", "category", F.explode("block_keys").alias("bk")
    )
    right = F.broadcast(
        catalog.select(
            F.col("name").alias("candidate"),
            F.col("norm_name").alias("cand_norm"),
            F.col("category").alias("cand_category"),
            F.explode("block_keys").alias("bk"),
        )
    )
    # distinct BEFORE scoring: pairs sharing several block keys would
    # otherwise hit the Python seq_ratio UDF once per shared key —
    # difflib per extra row costs far more than this dedup exchange.
    return left.join(right, "bk").drop("bk").distinct()


def _ratio_upper_bound(a, b):
    """Sound upper bound on difflib ratio: matches <= min(len_a, len_b)
    so ratio <= 2*min/(len_a+len_b) (difflib's own real_quick_ratio).
    Evaluating it JVM-side keeps pairs that cannot clear the band
    threshold out of the Python UDF entirely — the difflib scoring was
    the dominant Python time at corpus scale (vocabulary grows with
    the corpus)."""
    la, lb = F.length(a), F.length(b)
    return 2.0 * F.least(la, lb) / (la + lb)


def lexical_fuzzy_matches(blocked: DataFrame) -> DataFrame:
    """M3-fuzzy: difflib ratio >= 0.8 on normalized names (blocked pairs,
    excluding exact equals which M3-exact already owns)."""
    pairs = blocked.where(
        (F.col("concept") != F.col("cand_norm"))
        & (_ratio_upper_bound(F.col("concept"), F.col("cand_norm")) >= 0.8)
    )
    scored = pairs.withColumn("score", seq_ratio_udf(F.col("concept"), F.col("cand_norm")))
    return scored.where(F.col("score") >= 0.8).select(
        "concept", "candidate", "score", F.lit(2).alias("method_rank"),
        F.lit("lexical_similar_normalized").alias("match_type"),
    )


TECH_PROPS = ["frequency", "impedance", "voltage", "connector", "mounting"]


def _synonym_band_scores(l_vals, c_vals, groups, np):
    """Vectorized twin of semantics._synonym_match over a batch×catalog
    band: canonicalize both sides to synonym classes first (equal value
    or shared class → 1.0 with no Python ratio call), then run
    SequenceMatcher only on residual pairs, memoized per distinct left
    value (extracted spec values repeat heavily — the unit-pattern
    vocabulary is tiny). Replaces the O(batch × catalog) per-pair
    Python loop; parity by construction (residuals call the same
    semantics.seq_ratio)."""

    def _cls(v):
        for gi, g in enumerate(groups):
            if v in g:
                return gi
        return None

    c_norm = [b.lower().strip() if b else None for b in c_vals]
    c_cls = [_cls(b) if b is not None else None for b in c_norm]
    out = np.zeros((len(l_vals), len(c_vals)))
    row_cache: dict[str, object] = {}
    for i, a in enumerate(l_vals):
        if not a:
            continue
        an = a.lower().strip()
        row = row_cache.get(an)
        if row is None:
            ac = _cls(an)
            row = np.zeros(len(c_vals))
            for k, bn in enumerate(c_norm):
                if bn is None:
                    continue
                if an == bn or (ac is not None and ac == c_cls[k]):
                    row[k] = 1.0
                else:
                    row[k] = S.seq_ratio(an, bn)
            row_cache[an] = row
        out[i] = row
    return out


def technical_matches(props: DataFrame, catalog: DataFrame) -> DataFrame:
    """M4: spec-based matches. Only concepts/catalog rows with >=2
    non-null props can clear the >=1.5 total bar, so both sides are
    prefiltered. The catalog side (dimension-sized, like the embedding
    band) is pre-parsed ONCE driver-side into numpy arrays; each Arrow
    batch of concepts is then scored against ALL catalog rows with
    numpy outer operations — numeric props (frequency-range overlap,
    impedance/voltage ratio bands) never touch per-pair Python. Only
    the connector/mounting synonym band falls back to the shared
    semantics matcher, and only for the (rare) pairs where both sides
    carry that prop. Replaces the round-1 per-pair itertuples loop
    (VERDICT.md #10); parity contract: semantics.technical_similarity
    (ref src/ontology_extension_manager.py:311-338, behavior studied)."""
    import numpy as np
    import pandas as pd

    def _n_props(df, cols):
        n = None
        for c in cols:
            x = F.when(F.col(c).isNotNull(), 1).otherwise(0)
            n = x if n is None else n + x
        return n

    left = props.where(_n_props(props, TECH_PROPS) >= 2).select(
        "concept", *[F.col(p).alias(f"l_{p}") for p in TECH_PROPS]
    )
    cat_rows = getattr(catalog, "_ols_tech_cache", None)
    if cat_rows is None:
        right = catalog.where(_n_props(catalog, TECH_PROPS) >= 2).select(
            F.col("name").alias("candidate"), *[F.col(p).alias(f"r_{p}") for p in TECH_PROPS]
        )
        cat_rows = right.collect()  # dimension-sized, same contract as embedding band
        catalog._ols_tech_cache = cat_rows

    def _freq_arr(vals):
        out = np.full((len(vals), 2), np.nan)
        for i, v in enumerate(vals):
            if v:
                r = S._extract_freq_range(v)
                if r:
                    out[i] = r
        return out

    def _num_arr(vals):
        out = np.full(len(vals), np.nan)
        for i, v in enumerate(vals):
            if v:
                n = S._first_number(v)
                if n is not None:
                    out[i] = n
        return out

    c_names = np.array([r["candidate"] for r in cat_rows])
    c_freq = _freq_arr([r["r_frequency"] for r in cat_rows])
    c_imp = _num_arr([r["r_impedance"] for r in cat_rows])
    c_volt = _num_arr([r["r_voltage"] for r in cat_rows])
    c_conn = [r["r_connector"] for r in cat_rows]
    c_mount = [r["r_mounting"] for r in cat_rows]
    R = len(cat_rows)

    def _ratio_band(lv, cv, near_score):
        """(L,R) sims: equal → 1.0; within 10% → near_score; else 0."""
        a = lv[:, None]
        b = cv[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            rel = np.abs(a - b) / np.maximum(np.abs(a), np.abs(b))
        s = np.where(a == b, 1.0, np.where(rel <= 0.1, near_score, 0.0))
        return np.where(np.isnan(a) | np.isnan(b), 0.0, s)

    out_schema = "concept string, candidate string, score double"

    def _run(batches):
        for pdf in batches:
            L = len(pdf)
            if L == 0 or R == 0:
                continue
            l_freq = _freq_arr(pdf["l_frequency"].tolist())
            l_imp = _num_arr(pdf["l_impedance"].tolist())
            l_volt = _num_arr(pdf["l_voltage"].tolist())

            lo = np.maximum(l_freq[:, 0][:, None], c_freq[None, :, 0])
            hi = np.minimum(l_freq[:, 1][:, None], c_freq[None, :, 1])
            span = (np.maximum(l_freq[:, 1][:, None], c_freq[None, :, 1])
                    - np.minimum(l_freq[:, 0][:, None], c_freq[None, :, 0]))
            with np.errstate(invalid="ignore", divide="ignore"):
                overlap = np.where(span > 0, (hi - lo) / span, 1.0)
            s_freq = np.where(np.isnan(lo) | np.isnan(hi) | (lo > hi), 0.0, overlap)

            s_imp = _ratio_band(l_imp, c_imp, 0.9)
            s_volt = _ratio_band(l_volt, c_volt, 0.8)

            s_conn = _synonym_band_scores(
                pdf["l_connector"].tolist(), c_conn, S._CONNECTOR_SYNONYMS, np
            )
            s_mount = _synonym_band_scores(
                pdf["l_mounting"].tolist(), c_mount, S._MOUNTING_SYNONYMS, np
            )

            total = np.zeros((L, R))
            n = np.zeros((L, R), dtype=np.int64)
            for s in (s_freq, s_imp, s_volt, s_conn, s_mount):
                keep = s > 0.7
                total += np.where(keep, s, 0.0)
                n += keep
            ok = (total >= 1.5) & (n > 0)
            li, ki = np.nonzero(ok)
            yield pd.DataFrame({
                "concept": pdf["concept"].to_numpy()[li],
                "candidate": c_names[ki],
                "score": total[li, ki] / n[li, ki],
            })

    scored = left.mapInPandas(_run, out_schema)
    return scored.select(
        "concept", "candidate", "score",
        F.lit(3).alias("method_rank"), F.lit("technical_specs").alias("match_type"),
    )


def category_matches(blocked: DataFrame) -> DataFrame:
    """M5: same category and ratio(concept, lower(candidate)) >= 0.4."""
    pairs = blocked.where(
        (F.lower(F.coalesce(F.col("category"), F.lit(""))) ==
         F.lower(F.coalesce(F.col("cand_category"), F.lit(""))))
        & (_ratio_upper_bound(F.col("concept"), F.lower(F.col("candidate"))) >= 0.4)
    )
    scored = pairs.withColumn(
        "score", seq_ratio_udf(F.col("concept"), F.lower(F.col("candidate")))
    )
    return scored.where(F.col("score") >= 0.4).select(
        "concept", "candidate", "score", F.lit(4).alias("method_rank"),
        F.lit("category_variant").alias("match_type"),
    )


def base_match_offers(prepped_df: DataFrame, catalog: DataFrame,
                      thresholds: dict | None = None) -> DataFrame:
    """The four bands that need only the prepped concepts (M2, M3-exact,
    M3-fuzzy, M5) — separated from the M4 technical band so the driver
    can materialize them concurrently with the context→props leg that
    feeds M4 (see plans/pipeline.py). Union-of-methods semantics per
    ref src/ontology_extension_manager.py:225-249 (behavior studied,
    no code copied)."""
    th = thresholds or S.DEFAULT_THRESHOLDS
    # Pinned: the blocked-pair frame feeds BOTH the fuzzy and category
    # bands, and union branches do not share subtrees — unpinned, the
    # prepped×catalog block-key explode join (plus its seq_ratio
    # prefilter UDF) executes once per band (verified: 4 ArrowEvalPython
    # / 2 full blocked evaluations in the executed union plan; offers
    # noop 0.93 s → 0.42 s + one 0.3 s pin at 5k docs).
    from ..functions.persistence import materialize

    blocked = materialize(_blocked_pairs(prepped_df, catalog))
    return (
        embedding_matches(prepped_df, catalog, th["low_similarity"])
        .unionByName(lexical_exact_matches(prepped_df, catalog))
        .unionByName(lexical_fuzzy_matches(blocked))
        .unionByName(category_matches(blocked))
    )


def rank_matches(all_matches: DataFrame) -> DataFrame:
    """M6 + top-10 on a union of band offers.

    ONE exchange for both windows: hash-repartitioning by ``concept``
    satisfies the clustering requirement of the per-(concept, candidate)
    window too (partition keys ⊆ clustering keys), so Catalyst inserts
    no second exchange — plan-asserted in tests/test_plan_quality.py."""
    all_matches = all_matches.repartition("concept")

    # M6: best score per (concept, candidate); ties → lower method_rank.
    per_cand = Window.partitionBy("concept", "candidate").orderBy(
        F.col("score").desc(), F.col("method_rank").asc()
    )
    deduped = (
        all_matches.withColumn("rn", F.row_number().over(per_cand))
        .where(F.col("rn") == 1)
        .drop("rn")
    )

    # Top-10 per concept; candidate name breaks score ties deterministically.
    per_concept = Window.partitionBy("concept").orderBy(
        F.col("score").desc(), F.col("candidate").asc()
    )
    return (
        deduped.withColumn("rank", F.row_number().over(per_concept))
        .where(F.col("rank") <= 10)
    )


def best_offers(all_matches: DataFrame) -> DataFrame:
    """Argmax offer per concept, straight from the union of band
    offers — equivalent to ``rank_matches(...)  [rank == 1]`` but ONE
    partial-aggregating exchange instead of two window sorts (the
    decision cascade needs only the winner; the full top-10 stays a
    lazy deliverable).

    Equivalence: M6 keeps, per candidate, the max-score offer with the
    lowest method_rank; top-1 then picks max score, ties by candidate
    asc. Composing both = argmin over raw offers of the lexicographic
    key (-score, candidate, method_rank): min -score is the global max
    score, then min candidate among its achievers, then min
    method_rank among that candidate's max-score offers — exactly the
    M6-deduped winner row. Asserted against rank_matches in pytest.
    """
    key = F.struct(
        (-F.col("score")).alias("ns"),
        F.col("candidate").alias("c"),
        F.col("method_rank").alias("mr"),
    )
    val = F.struct("candidate", "score", "match_type")
    agg = all_matches.groupBy("concept").agg(F.min_by(val, key).alias("b"))
    return agg.select(
        "concept",
        F.col("b.candidate").alias("best_match"),
        F.col("b.score").alias("best_score"),
        F.col("b.match_type").alias("match_type"),
    )


def best_offers_with_category(all_matches: DataFrame, catalog: DataFrame) -> DataFrame:
    """best_offers + the winning candidate's catalog category (what the
    M8 validation band compares against)."""
    cat = F.broadcast(
        catalog.select(F.col("name").alias("best_match"),
                       F.col("category").alias("best_category"))
    )
    return best_offers(all_matches).join(cat, "best_match", "left")
