"""The flagship job (SURVEY.md §3.1): documents → triples + graph tables.

One lazily-built DataFrame DAG:

    read spans table
      → concat text spans + preprocess        (narrow, codegen)
      → mapInPandas extraction                (narrow, Arrow)
      → explode mentions / triples            (narrow)
      → distinct concepts                     (shuffle #1, vocab-bounded)
      → broadcast/blocked linking + top-k     (shuffle #2, vocab-bounded)
      → when-cascade decisions                (narrow)
      → routed taxonomy triples ∪ extracted   (narrow)

The corpus-sized data never shuffles: the only exchanges are over the
distinct-concept vocabulary. At 10^12 docs the extraction stage is
embarrassingly parallel over doc_id partitions and the linking stage is
a constant-size tail.

Driver orchestration: after the one corpus extraction pass, three
independent legs fan out from the materialized mentions —

    leg A: distinct concepts → embed/block-keys (prepare_concepts)
    leg B: concept context   → technical props  (E7/E9)
    leg C: extracted (subj, pred, obj) distinct (E5)

The driver submits them from a small thread pool, so Spark's scheduler
runs the three jobs concurrently and the wall is max(leg) instead of
sum(leg) — the same cores, no extra work, ~2x less serial tail. The
linking/decision job then reads three pinned, vocabulary-sized inputs.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import baseline
from ..functions import columns as C
from ..functions import semantics as S
from ..functions.persistence import materialize
from ..operators import canonicalize as CC
from ..operators import decisions as D
from ..operators import enrich as EN
from ..operators import extraction as E
from ..operators import linking as L


@dataclass
class PipelineResult:
    mentions: DataFrame
    concepts: DataFrame
    matches: DataFrame
    decisions: DataFrame
    tasks: DataFrame
    mappings: DataFrame
    triples: DataFrame


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    catalog_rows: list[dict] | None = None,
    thresholds: dict | None = None,
    extra_surfaces: tuple[str, ...] = (),
    catalog_df: DataFrame | None = None,
) -> PipelineResult:
    """``extra_surfaces`` widens the extraction gazetteer beyond the
    link catalog (mentions of unknown-to-the-catalog terms are what
    drive EXTEND decisions). ``catalog_df`` lets repeated runs reuse an
    already-prepared (cached/broadcast-warm) catalog."""
    catalog_rows = catalog_rows if catalog_rows is not None else baseline.entity_catalog()
    th = thresholds or S.DEFAULT_THRESHOLDS
    surfaces = tuple(sorted(
        {r["name"].lower() for r in catalog_rows} | {s.lower() for s in extra_surfaces}
    ))

    catalog = catalog_df if catalog_df is not None else L.prepare_catalog(spark, catalog_rows).cache()

    mentions_raw, doc_triples, _docs_text = E.extract_pipeline(docs, surfaces)
    # Materialized ON the critical path (not as a leg): the offers and
    # tech legs both consume the exploded+normalized mention rows, and
    # deriving them per leg re-runs the validity/normalize regex chains
    # over the corpus once per consumer — measured ~15 core-s of
    # duplicated JVM work per extra consumer at 80k docs, and those
    # scan-heavy stages are exactly the ones that inflate under high
    # parallelism (memory-bandwidth-bound, unlike the Python
    # extraction pass which scales near-perfectly).
    mentions = materialize(mentions_raw, corpus_scale=True)

    # The concept DIMENSION is |vocabulary|-sized, orders of magnitude
    # below the corpus: give its stages (embed UDF, blocked joins,
    # windows, decide) a proportionate partition count instead of the
    # corpus-grade default the distinct() cache would otherwise pin.
    # On a cluster, size by |vocab| / ~50k concepts per partition.
    # parallelism//2 (not //8): the fuzzy/category difflib bands run
    # Python work proportional to the blocked-pair count (which grows
    # with corpus vocabulary — part numbers are distinct concepts), and
    # band parallelism is capped by prepped's partition count.
    vocab_parts = max(2, spark.sparkContext.defaultParallelism // 2)

    # Three independent legs fan out from the pinned mentions table
    # (module docstring). Each leg runs in its own FAIR-scheduler
    # pool (created on demand, equal weight) so the legs share task
    # slots instead of queueing FIFO behind the first-submitted job;
    # setLocalProperty is per-thread (pinned-thread mode).
    sc = spark.sparkContext

    def _pooled(name, fn):
        def run():
            sc.setLocalProperty("spark.scheduler.pool", name)
            try:
                return fn()
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)
        return run

    def leg_offers() -> tuple[DataFrame, DataFrame, DataFrame]:
        # one exchange: hash-partition by surface AND dedup in the same
        # shuffle (distinct-then-repartition paid two)
        concepts = E.distinct_concepts(mentions, vocab_parts)
        # Eagerly pinned: FIVE match bands consume prepped concurrently.
        prepped = materialize(L.prepare_concepts(concepts))
        # The four bands that need only prepped (M2/M3/M5) score here,
        # overlapped with the context→props leg that feeds M4.
        offers = materialize(L.base_match_offers(prepped, catalog, th))
        return concepts, prepped, offers

    def leg_tech() -> tuple[DataFrame, DataFrame]:
        # E7/E9: concept context → technical props → M4 band.
        # docs_text is the LAZY preprocess chain (extract_pipeline no
        # longer checkpoints document text); the builder form evaluates
        # it only for the ≤N·|vocab| context hit docs.
        context = EN.concept_context(
            mentions, docs, text_builder=lambda df: E.preprocess(E.concat_text_spans(df))
        )
        props = materialize(EN.extract_properties(context).drop("context"))
        return props, materialize(L.technical_matches(props, catalog))

    def leg_triples() -> DataFrame:
        # E5 dedup up front: apply_canonicalization ends in a
        # (subj, pred, obj) dropDuplicates anyway, so distincting here
        # is output-invariant and keeps the final assembly job
        # vocabulary-sized instead of rescanning the corpus-sized
        # extraction output on the critical path. Reads its own narrow
        # projection of the extraction checkpoint (the triples arrays),
        # not the mentions table.
        return materialize(doc_triples.select("subj", "pred", "obj").distinct())

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_offers = pool.submit(_pooled("leg-offers", leg_offers))
        f_tech = pool.submit(_pooled("leg-tech", leg_tech))
        f_triples = pool.submit(_pooled("leg-triples", leg_triples))
        concepts, prepped, offers = f_offers.result()
        props, tech_offers = f_tech.result()
        extracted_triples = f_triples.result()

    all_offers = offers.unionByName(tech_offers)
    # Full top-10 ranking is a lazy deliverable (analytics/A14 read it);
    # the decision cascade needs only the argmax row, which best_offers
    # computes with one partial-agg exchange instead of two window
    # sorts (equivalence proof + pytest in linking.py).
    matches = L.rank_matches(all_offers)
    best = L.best_offers_with_category(all_offers, catalog)
    best_full = prepped.select("concept", "category").join(best, "concept", "left")

    # M13 alias edges (normalize BEFORE the self-edge filter: a surface
    # whose target differs only in case/plurality is a self-alias and
    # must not enter the union-find — it would mark the canonical as a
    # non-sink).
    def _alias_edges(dec: DataFrame) -> DataFrame:
        return D.mapping_objects(dec).select(
            F.col("name").alias("surface"),
            C.normalize_name_cached("canonical").alias("alias_of"),
        ).where(F.col("surface") != F.col("alias_of"))

    # Eager: the whole linking chain (bands → argmax → cascade)
    # materializes exactly once, here; the downstream canonicalization
    # probe and the triples job read a vocabulary-sized table instead
    # of re-walking the chain. (Round-4 note: overlapping the probe
    # with this checkpoint was tried and reverted — the probe then
    # evaluates the same un-checkpointed chain, and the two identical
    # concurrent jobs contend: decide segment 1.4 s → 3.6 s measured.)
    decided = materialize(D.decide(best_full, th))
    tasks = D.route_tasks(decided)
    mappings = D.mapping_objects(decided)

    # Taxonomy triples from routed tasks + text-extracted triples (E4/E5).
    routed_triples = tasks.select(
        F.col("name").alias("subj"),
        F.lit("subclass_of").alias("pred"),
        C.normalize_name_cached("parent_class").alias("obj"),
    )
    triples = routed_triples.unionByName(extracted_triples)

    # M13: canonicalize through MAP_* alias edges (connected components
    # resolves chains; the reference's single-hop sameAs is the
    # degenerate case). No isEmpty() pre-check: canonical_mapping
    # handles the empty case and apply on an empty map is a no-op.
    canon_map = CC.canonical_mapping(_alias_edges(decided))
    triples = CC.apply_canonicalization(triples, canon_map)

    return PipelineResult(
        mentions=mentions,
        concepts=concepts,
        matches=matches,
        decisions=decided,
        tasks=tasks,
        mappings=mappings,
        triples=triples,
    )
