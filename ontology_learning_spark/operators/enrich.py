"""Enrichment operators (SURVEY.md E7-E11): concept context retrieval,
technical property extraction, Schema.org object generation.

All property extraction is pure Catalyst regexp (the reference prompts
an LLM per concept; the deterministic twin is unit-pattern rules over
the same capped context window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import columns as C
from ..functions import semantics as S

CONTEXT_CHUNKS = S.CONTEXT_CHUNKS
CONTEXT_CAP = S.CONTEXT_CAP


def top_docs_per_concept(mentions: DataFrame, n: int = CONTEXT_CHUNKS) -> DataFrame:
    """(norm_surface, doc_id, rn): the n smallest doc_ids mentioning
    each concept, from RAW mention rows (multiplicities included).

    ONE window with a rank-limit filter — and on Spark ≥3.5 that is
    already skew-proof: Catalyst rewrites `dense_rank() <= n` into
    WindowGroupLimit with a PARTIAL pass below the exchange, so each
    map partition pre-prunes to its local top-n per concept before
    anything is shuffled. A head concept's group never materializes:
    the reduce side sees at most n·num_map_partitions rows per concept
    regardless of how many billions of raw mentions it has. Measured
    (BENCH/BASELINE.md "Skew at scale", 320k docs): the stage wall is
    FLAT (3.3 → 2.6 s) while the planted hot group grows 4.8M → 16.5M
    rows; a hand-salted two-phase plan measured 1.0-2.1 s slower on the
    same stage. The surviving dense rank IS the distinct-doc row
    number, so the post-filter dedup is exact.
    """
    w = Window.partitionBy("norm_surface").orderBy("doc_id")
    return (
        mentions.select("norm_surface", "doc_id")
        .withColumn("_rk", F.dense_rank().over(w))
        .where(F.col("_rk") <= n)
        .dropDuplicates(["norm_surface", "doc_id"])
        .select("norm_surface", "doc_id", F.col("_rk").alias("rn"))
    )


def concept_context(
    mentions: DataFrame, docs_text: DataFrame, text_builder=None
) -> DataFrame:
    """E7: first N docs mentioning each concept, concatenated and capped.

    mentions: (doc_id, norm_surface, ...); docs_text: (doc_id, clean_text).

    ``text_builder`` (optional): a frame→frame callable that ADDS the
    clean_text column. When given, docs_text may be the raw spans table
    and the text expression is evaluated only for the ≤N·|vocab| docs
    that survive a semi-join on the top-N hit ids — without it, the
    clean_text projection sits below the join and Catalyst evaluates it
    for every corpus row, hit or not. The semi-join keeps the
    evaluation once-per-DOC (building text above the row-multiplying
    top join would recompute it once per concept-doc pair).

    Join order matters at scale: the top-N-docs window runs on BARE
    (concept, doc_id) pairs — 16 bytes/row — and only the <=N·|vocab|
    surviving rows fetch document text, via a broadcast of the id set
    into the corpus-side join. (Round 1 joined the full text in FIRST,
    shipping every document body through the distinct + window
    shuffles.) The broadcast hint is right while N·|vocab| stays
    dimension-sized; for extreme vocabularies drop the hint and AQE
    picks the join side.
    """
    top = top_docs_per_concept(mentions)
    if text_builder is not None:
        from ..functions.persistence import materialize

        # top feeds two consumers here (the hit-id semi-join and the
        # text join); pinning the N·|vocab|-row frame stops the corpus
        # window chain from re-executing per consumer
        top = materialize(top)
        docs_text = text_builder(
            docs_text.join(F.broadcast(top.select("doc_id").distinct()), "doc_id", "left_semi")
        ).select("doc_id", "clean_text")
    hit_docs = docs_text.join(F.broadcast(top), "doc_id")
    ctx = hit_docs.groupBy("norm_surface").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("rn", "clean_text")))["clean_text"]).alias("_ctx_raw")
    )
    return ctx.select(
        F.col("norm_surface").alias("concept"),
        F.substring("_ctx_raw", 1, CONTEXT_CAP).alias("context"),
    )


def extract_properties(context_df: DataFrame) -> DataFrame:
    """E9: per-concept technical props from context (nulls when absent).
    Pattern strings shared with the oracle (semantics.PROP_PATTERNS)."""
    out = context_df
    for prop, pat in S.PROP_PATTERNS.items():
        v = F.regexp_extract(F.col("context"), pat, 1)
        out = out.withColumn(prop, F.when(v != "", v))
    return out


def schema_objects(decided: DataFrame, props: DataFrame) -> DataFrame:
    """E8/E11: JSON-LD-shaped Product objects for EXTEND/UNCERTAIN
    concepts, enriched with extracted props (elec:* namespace)."""
    base = decided.where(F.col("decision").isin("EXTEND", "UNCERTAIN")).select(
        "concept", "category", "confidence"
    )
    joined = base.join(props, "concept", "left")
    elec_props = F.map_filter(
        F.create_map(
            F.lit("elec:frequency"), F.col("frequency"),
            F.lit("elec:impedance"), F.col("impedance"),
            F.lit("elec:voltage"), F.col("voltage"),
            F.lit("elec:connector"), F.col("connector"),
            F.lit("elec:mounting"), F.col("mounting"),
        ),
        lambda k, v: v.isNotNull(),
    )
    obj = F.struct(
        F.lit("Product").alias("@type"),
        F.col("concept").alias("name"),
        F.col("category").alias("category"),
        F.concat(F.lit("http://www.productontology.org/id/"),
                 C.slugify(F.col("concept"))).alias("additionalType"),
        elec_props.alias("elec_properties"),
    )
    # Exported JSON-LD mirrors the reference shape (schema_org_relation_
    # extractor.py:245-262): @context carries @vocab + the elec namespace
    # whenever namespaced props exist, and elec:* keys sit at top level.
    # to_json drops null fields, so absent props vanish from the JSON.
    has_elec = F.size(F.map_keys(elec_props)) > 0
    ctx = F.when(
        has_elec,
        F.to_json(F.struct(
            F.lit("https://schema.org/").alias("@vocab"),
            F.lit("https://example.org/electrical/").alias("elec"),
        )),
    ).otherwise(F.lit('"https://schema.org/"'))
    body = F.to_json(F.struct(
        F.lit("Product").alias("@type"),
        F.col("concept").alias("name"),
        F.col("category").alias("category"),
        F.concat(F.lit("http://www.productontology.org/id/"),
                 C.slugify(F.col("concept"))).alias("additionalType"),
        F.col("frequency").alias("elec:frequency"),
        F.col("impedance").alias("elec:impedance"),
        F.col("voltage").alias("elec:voltage"),
        F.col("connector").alias("elec:connector"),
        F.col("mounting").alias("elec:mounting"),
    ))
    json_ld = F.concat(F.lit('{"@context":'), ctx, F.lit(","), F.substring(body, 2, 2_000_000))
    return joined.select("concept", obj.alias("schema_object"), json_ld.alias("json_ld"))
