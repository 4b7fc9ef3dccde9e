"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship KG pipeline over the sf0.001 documents table
                re-shaped to the interleaved-span model.
queries()     — one named DataFrame-producing callable per implemented
                operator family (SURVEY.md §2).
oracle_sql()  — DuckDB-equivalent SQL for EVERY registered query (47/47
                since round 2). Sketch/ANN operators are oracled
                against exact SQL twins, valid because their recall on
                the driver corpus is 1 by construction or by measured
                miss-probability — each query's docstring carries the
                argument.

Column-name/alias discipline: every computed column is aliased
identically in the Spark plan and the SQL text; floats are rounded
in-query on both sides so value hashes are stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared literals (embedded identically in Spark plans and oracle SQL)
# ---------------------------------------------------------------------------

# Extraction gazetteer over the driver documents vocabulary (single
# words, none a substring of another, none in the stopword list).
VOCAB = ["spark", "window", "merge", "filter", "stream", "vector", "batch", "query", "scan", "join"]

# Link catalog: a subset of the gazetteer "already in the ontology".
CATALOG_WORDS = {
    "spark": "Engines",
    "window": "Operators",
    "merge": "Operators",
    "filter": "Operators",
}

HIERARCHY = [  # (child, parent) — mirrors fixtures.baseline.ONTOLOGY_HIERARCHY
    ("Product", "Thing"), ("Organization", "Thing"),
    ("ElectronicComponent", "Product"),
    ("PassiveComponent", "ElectronicComponent"), ("ActiveComponent", "ElectronicComponent"),
    ("RFComponent", "ElectronicComponent"), ("Interconnect", "ElectronicComponent"),
    ("Electromechanical", "ElectronicComponent"), ("Sensor", "ElectronicComponent"),
    ("Resistor", "PassiveComponent"), ("Capacitor", "PassiveComponent"),
    ("Inductor", "PassiveComponent"),
    ("Diode", "ActiveComponent"), ("Transistor", "ActiveComponent"),
    ("IntegratedCircuit", "ActiveComponent"),
    ("Antenna", "RFComponent"), ("FPCAntenna", "Antenna"), ("ChipAntenna", "Antenna"),
    ("Connector", "Interconnect"), ("Cable", "Interconnect"),
]

ALIASES = [  # (surface, alias_of) incl. a chain and a hub
    ("sparks", "spark"), ("apache spark", "spark"),
    ("windowing", "window"), ("window fn", "windowing"),
    ("filters", "filter"), ("filtering", "filters"),
    ("merges", "merge"), ("merge op", "merge"), ("merge-op", "merge op"),
]


def _vocab_surfaces() -> list[str]:
    """Gazetteer + plural variants — exactly what the matcher scans."""
    from ontology_learning_spark.functions.extraction_rules import surface_variants

    out: set[str] = set()
    for w in VOCAB:
        out.update(surface_variants(w))
    return sorted(out)


def _spread(df: DataFrame) -> DataFrame:
    """Parallelize a single-file scan before per-row-heavy work.

    The driver tables are ONE parquet file with ONE row group each, and
    a row group is the parquet split unit — so the scan stage, plus any
    per-row-expensive work Spark fuses into it (mapInPandas extraction,
    shingle explode + minhash partial aggregation, pandas UDFs), runs
    as a SINGLE task no matter how many cores the session has (guide
    §2.5: input skew from an unsplittable file → repartition right
    after the read). Round-robin repartition to the session's default
    parallelism: the shuffle moves only the few MB of the source table,
    after which the heavy stage uses every core. Scale-adaptive (core
    count, not a constant); a real multi-file corpus at scale would
    arrive already splittable and callers there skip this."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _spread(df) if spread else df


def _spans_docs(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    from ontology_learning_spark.sources.adapters import to_spans

    return to_spans(_docs(spark, sf_dir, spread=spread))


def _prepped_docs(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """(doc_id, clean_text) for the mention-only query paths:
    ``spans_doc_text`` is row-identical to
    ``concat_text_spans(to_spans(...))`` (parity-pinned) but skips
    building the span arrays the extraction consumer never reads —
    the interpreted chunk/sort/join chain cost ~0.85 s of a 1.2 s
    mention-count query at 50k docs. Span-model consumers (the
    flagship, multimodal) keep ``_spans_docs``."""
    from ontology_learning_spark.operators import extraction as E
    from ontology_learning_spark.sources.adapters import spans_doc_text

    return E.preprocess(spans_doc_text(_docs(spark, sf_dir, spread=spread)))


def _edges_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(c, "SUBCLASS_OF", p) for c, p in HIERARCHY], "src string, rel_type string, dst string"
    )


def _hierarchy_values() -> str:
    return ", ".join(f"('{c}', '{p}')" for c, p in HIERARCHY)


def _vocab_values() -> str:
    return ", ".join(f"('{s}')" for s in _vocab_surfaces())


def _catalog_values() -> str:
    return ", ".join(f"('{w}', '{c}')" for w, c in sorted(CATALOG_WORDS.items()))


def _alias_values() -> str:
    return ", ".join(f"('{s}', '{t}')" for s, t in ALIASES)


def _surface_word_values() -> str:
    """(surface, base word) rows: gazetteer + plural variants, mapping
    back to the normalized concept — the SQL twin of extraction +
    normalize_name over this vocabulary (no plural is ambiguous)."""
    from ontology_learning_spark.functions.extraction_rules import surface_variants

    pairs = sorted((s, w) for w in VOCAB for s in surface_variants(w))
    return ", ".join(f"('{s}', '{w}')" for s, w in pairs)


def _hexbyte(col: str, i: int) -> str:
    """DuckDB expression: i-th byte (0-based) of an md5 hex string."""
    return (
        f"((strpos('0123456789abcdef', substr({col}, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({col}, {2 * i + 2}, 1)) - 1))"
    )


# ---------------------------------------------------------------------------
# entry — flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline (extract → link → decide)
    over the sf0.001 documents re-shaped to interleaved spans."""
    from ontology_learning_spark.plans.pipeline import run_pipeline

    docs = _spans_docs(spark, "/root/testdata/sf0.001")
    catalog_rows = [
        {
            "name": w, "norm_name": w, "category": cat,
            "description": f"workload concept {w}",
            "frequency": None, "impedance": None, "voltage": None,
            "connector": None, "mounting": None, "source": "Baseline",
        }
        for w, cat in sorted(CATALOG_WORDS.items())
    ]
    result = run_pipeline(
        spark, docs, catalog_rows=catalog_rows, extra_surfaces=tuple(VOCAB)
    )
    return result.decisions.orderBy("concept")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_kg_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import extraction as E

    surfaces = tuple(_vocab_surfaces())
    prepped = _prepped_docs(spark, sf_dir, spread=True)
    # relations=False: this consumer never reads the triples column and
    # the relation regex pass is ~2/3 of the extraction Python cost —
    # mentions are identical (pinned by tests/test_round6_extract_flag.py)
    extracted = E.extract(prepped, surfaces, relations=False)
    m = extracted.select(F.explode("mentions").alias("m")).select(F.col("m.surface").alias("surface"))
    return m.groupBy("surface").agg(F.count("*").alias("n")).orderBy("surface")


def _q_kg_doc_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import extraction as E

    surfaces = tuple(_vocab_surfaces())
    prepped = _prepped_docs(spark, sf_dir, spread=True)
    # relations=False: mention-only consumer (see kg_mention_counts)
    extracted = E.extract(prepped, surfaces, relations=False)
    m = extracted.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.explode("mentions").alias("m")
    ).select("doc_id", F.col("m.surface").alias("surface"))
    return m.groupBy("doc_id", "surface").agg(F.count("*").alias("n"))


def _q_kg_valid_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.functions import columns as C

    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .distinct()
    )
    return words.where(C.is_valid_concept(F.col("w"))).select(F.col("w").alias("concept")).orderBy("concept")


def _q_kg_link_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.functions import columns as C
    from ontology_learning_spark.operators import linking as L

    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .distinct()
        .where(C.is_valid_concept(F.col("w")))
        .select(C.normalize_name(F.col("w")).alias("concept"))
        .distinct()
    )
    cat = spark.createDataFrame(
        [(w, c) for w, c in sorted(CATALOG_WORDS.items())], "name string, category string"
    ).withColumn("norm_name", C.normalize_name(F.col("name")))
    exact = L.lexical_exact_matches(words, cat.withColumn("block_keys", F.array()).withColumn("embedding", F.array()))
    return exact.select("concept", "candidate", "score").orderBy("concept")


def _q_kg_decisions_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 cascade with the lexical-exact band only (SQL-expressible)."""
    from ontology_learning_spark.functions import columns as C
    from ontology_learning_spark.operators import decisions as D

    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .distinct()
        .where(C.is_valid_concept(F.col("w")))
        .select(C.normalize_name(F.col("w")).alias("concept"))
        .distinct()
    )
    cat = spark.createDataFrame(
        [(w, c) for w, c in sorted(CATALOG_WORDS.items())], "name string, category string"
    )
    best = (
        words.withColumn("category", F.lit(None).cast("string"))
        .join(
            cat.select(
                F.col("name").alias("best_match"),
                F.col("category").alias("best_category"),
            ),
            F.col("concept") == F.col("best_match"),
            "left",
        )
        .withColumn("best_score", F.when(F.col("best_match").isNotNull(), F.lit(1.0)))
    )
    out = D.decide(best)
    return out.select("concept", "decision", "target", F.round("confidence", 4).alias("confidence")).orderBy("concept")


def _q_graph_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    return G.descendants(_edges_df(spark), "ElectronicComponent").orderBy("name")


def _q_graph_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    return G.ancestors(_edges_df(spark), "FPCAntenna").orderBy("name")


def _q_graph_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    e = _edges_df(spark)
    nodes = (
        e.select(F.col("src").alias("name")).union(e.select(F.col("dst").alias("name"))).distinct()
    )
    return G.leaves(nodes, e).orderBy("name")


def _q_graph_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    return G.siblings(_edges_df(spark), "Resistor").orderBy("name")


def _q_graph_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    return G.top_k_by_degree(_edges_df(spark), 5)


# Inline nodes table for the §2.5 filter-class queries (Q1/Q2/Q7/Q8/
# Q9/Q10 shapes): hierarchy classes + a few learned/review rows.
_NODE_ROWS = [
    # (name, source, needs_review, confidence)
    *[(c, "Baseline", False, None) for c in sorted({c for c, _ in HIERARCHY} | {"Thing"})],
    ("wifi antenna", "learned_from_dataset", True, 0.5),
    ("rf shield", "learned_from_dataset", True, 0.5),
    ("copper trace", "learned_from_dataset", False, 0.8),
    ("smd resistor", "learned_from_dataset", False, 0.9),
    ("smd capacitor", "learned_from_dataset", False, 0.9),
    ("cable assembly", "learned_from_dataset", False, 0.85),
    ("mystery part", "learned_from_dataset", True, 0.4),
]

# Non-taxonomic + learned-taxonomy edges exercising every QA corpus
# pattern (PARTOF, RELATEDTO bridges, review hotspots, orphans).
_QA_EXTRA_EDGES = [
    ("Antenna", "CONNECTEDTO", "Cable"),
    ("Resistor", "HASPART", "Cable"),
    ("ChipAntenna", "RELATEDTO", "Electromechanical"),
    ("Transistor", "RELATEDTO", "Antenna"),
    ("copper trace", "PARTOF", "IntegratedCircuit"),
    ("cable assembly", "CONNECTEDTO", "Connector"),
    ("wifi antenna", "SUBCLASS_OF", "Antenna"),
    ("rf shield", "SUBCLASS_OF", "RFComponent"),
    ("copper trace", "SUBCLASS_OF", "Interconnect"),
    ("smd resistor", "SUBCLASS_OF", "Resistor"),
    ("smd capacitor", "SUBCLASS_OF", "Capacitor"),
]


def _nodes_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _NODE_ROWS, "name string, source string, needs_review boolean, confidence double"
    )


def _node_values() -> str:
    return ", ".join(
        f"('{n}', '{s}', {str(r).upper()}, " + ("NULL" if c is None else f"CAST({c} AS DOUBLE)") + ")"
        for n, s, r, c in _NODE_ROWS
    )


def _q_graph_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nodes_df(spark).where(F.col("name") == "Resistor").select("name", "source")


def _q_graph_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nodes_df(spark).where(F.lower(F.col("name")).contains("antenna")).select("name").orderBy("name")


def _q_graph_attr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _nodes_df(spark).where(F.col("source") == "learned_from_dataset")
        .select("name", "needs_review").orderBy("name")
    )


def _q_graph_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _nodes_df(spark).where(F.col("needs_review"))
        .select("name", F.coalesce("confidence", F.lit(0.75)).alias("confidence"))
        .orderBy(F.col("confidence").desc(), F.col("name").asc()).limit(200)
    )


def _q_graph_rel_types_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark).unionByName(
        spark.createDataFrame(
            [("Antenna", "CONNECTEDTO", "Cable"), ("Resistor", "HASPART", "Cable")],
            "src string, rel_type string, dst string",
        )
    )
    return edges.select("rel_type").distinct().orderBy("rel_type")


def _q_graph_ordered_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nodes_df(spark).select("name", "source").orderBy(F.col("name").asc())


def _q_graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    hops = G.shortest_path_length(_edges_df(spark), "Resistor", "Capacitor")
    return spark.createDataFrame(
        [("Resistor", "Capacitor", hops)], "a string, b string, hops int"
    )


def _q_graph_redundant_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    edges = _edges_df(spark).unionByName(
        spark.createDataFrame(
            [("FPCAntenna", "RELATEDTO", "Antenna")], "src string, rel_type string, dst string"
        )
    )
    return G.redundant_edges(edges).select(
        "src", "dst", F.col("n_types").cast("bigint").alias("n_types")
    ).orderBy("src")


def _q_graph_taxonomic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import graph_ops as G

    edges = _edges_df(spark).unionByName(
        spark.createDataFrame(
            [("Antenna", "CONNECTEDTO", "Cable"), ("Resistor", "HASPART", "Cable")],
            "src string, rel_type string, dst string",
        )
    )
    return G.taxonomic_split(edges).orderBy("kind")


def _full_edges_df(spark: SparkSession) -> DataFrame:
    """Baseline hierarchy + learned taxonomy + non-taxonomic QA edges —
    the graph the A8/A9/A10 audits run over."""
    return _edges_df(spark).unionByName(
        spark.createDataFrame(_QA_EXTRA_EDGES, "src string, rel_type string, dst string")
    )


def _full_edge_values() -> str:
    rows = [(c, "SUBCLASS_OF", p) for c, p in HIERARCHY] + _QA_EXTRA_EDGES
    return ", ".join(f"('{s}', '{r}', '{d}')" for s, r, d in rows)


def _q_graph_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: class count per hierarchy depth below Thing (the max depth
    row is the reference's hierarchy-depth metric,
    final_ontology_analyzer.py:57-80)."""
    from ontology_learning_spark.operators import graph_ops as G

    d = G.descendants(_edges_df(spark), "Thing")
    return d.groupBy("depth").agg(F.count("*").alias("n_classes")).orderBy("depth")


def _q_graph_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: learned nodes with no SUBCLASS_OF* path to Thing
    (final_ontology_analyzer.py:81-113 orphan audit)."""
    from ontology_learning_spark.operators import graph_ops as G

    return G.orphans(_nodes_df(spark), _full_edges_df(spark)).select("name").orderBy("name")


def _q_graph_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: surviving nodes after low-degree pruning of learned nodes
    (graph_cleaner.py:25-77)."""
    from ontology_learning_spark.operators import graph_ops as G

    new_nodes, _ = G.prune_low_degree(_nodes_df(spark), _full_edges_df(spark), threshold=1)
    return new_nodes.select("name", "source").orderBy("name")


def _q_kg_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 over driver documents: batches of 50 docs (doc_id order),
    new/cumulative distinct surfaces per batch."""
    from ontology_learning_spark.operators import analytics as A
    from ontology_learning_spark.operators import extraction as E

    surfaces = tuple(_vocab_surfaces())
    prepped = _prepped_docs(spark, sf_dir)
    # relations=False: mention-only consumer (see kg_mention_counts)
    extracted = E.extract(prepped, surfaces, relations=False)
    m = extracted.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.explode("mentions").alias("m")
    ).select("doc_id", F.col("m.surface").alias("norm_surface"))
    out = A.conceptual_saturation(m, batch_size=50)
    return out.select(
        "batch", "new_concepts",
        F.col("cumulative_concepts").cast("bigint").alias("cumulative_concepts"),
    )


def _q_kg_confidence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators import analytics as A

    dec = _q_kg_decisions_lexical(spark, sf_dir)
    return A.confidence_ranking(dec, 20)


def _q_rel_orders_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("price"), "rnk")
    )


def _q_sim_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 similarity distribution over embedding matches: each vector's
    best cosine against a 5-vector broadcast query set feeds
    analytics.similarity_distribution (decimal-exact mean/stddev, exact
    percentiles — see its docstring for the cross-engine contract)."""
    from ontology_learning_spark.functions import columns as C
    from ontology_learning_spark.operators import analytics as A

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = F.broadcast(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    matches = (
        emb.select(
            F.col("vec_id").alias("concept"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .crossJoin(q)
        .select("concept", C.cosine(F.col("v"), F.col("qv")).alias("score"))
    )
    return A.similarity_distribution(matches)


def _q_owl_same_as(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The owl:sameAs pairs the functional/inverse-functional axioms
    force on the planted consistency graph (round-5 axiom-interaction
    machinery; the clash SUBSET of these pairs is what
    graph_consistency flags). Oracle: the same two self-joins in
    DuckDB over the identical VALUES edges."""
    from ontology_learning_spark.operators.exports import inferred_same_as

    return inferred_same_as(_consistency_edges_df(spark))


def _q_rel_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double"), 2).alias("total_balance"))
        .orderBy("r_name", "n_name")
    )


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session assignment via 30-minute inactivity gaps (lag + running
    sum of boundary flags) — the batch form of session windowing."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Fractional epoch (microsecond precision), matching DuckDB epoch(ts):
    # unix_timestamp() truncates to whole seconds, so a true gap of
    # 1800.4s would be ==1800 here but >1800 in the oracle.
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    flagged = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return sessions.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


def _q_emb_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.simsearch import pairwise_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pairwise_topk(emb, queries_df, k=3)
    return out.select("query_id", "vec_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank")


def _q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(ALIASES, "src string, dst string")
    return connected_components(edges).orderBy("node")


def _q_rel_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # order-independent sums
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round((F.sum(dec("l_discount")).cast("double") / F.count("*")), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_rel_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.functions.windows import ranked_topk

    # orders is a single parquet file (1-2 row groups): without the
    # spread, the broadcast join + partial aggregation over 1.5M rows
    # (sf1.0) runs in one scan task (guide §2.5).
    o = _spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    agg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
    )
    # global top-10 via TakeOrderedAndProject + posexplode rank — the
    # old unpartitioned row_number() moved every customer to one partition.
    return ranked_topk(agg, "revenue", "c_custkey", 10, rank_col="rnk").select(
        "c_custkey", "c_name", "revenue", "n_orders", "rnk"
    )


def _q_rel_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 2).alias("total_value"),
             F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


def _q_rel_events_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return e.select(
        "user_id", "event_id",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double").alias("cum_value"),
    )


def _q_rel_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    # decimal-exact rolling sum: order-independent AND free of
    # round-half-at-tie divergence between engines (avg = sum/n is
    # derivable; the operator under test is the rolling window).
    rsum = F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double")
    return e.select(
        "user_id", "event_id",
        rsum.alias("rolling_sum"),
        F.count("*").over(w).alias("window_n"),
    )


def _q_rel_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


def _q_rel_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")).cast("double"),
            2).alias("revenue"))
        .orderBy("p_brand")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).orderBy("content_hash")


def _q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import fingerprint

    return _docs(spark, sf_dir).select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


def _q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import bpe_ish_token_count, token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_subtokens"),
    )


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import punct_ratio, quality_score, stopword_ratio

    c = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio_en"),
        F.round(quality_score(c), 6).alias("quality"),
    )


def _q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import lang_id

    return _docs(spark, sf_dir).select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


# incremental-CC fixture: base components get merged by the delta
# (c–m bridges two base components), extended (q–r adds a node), and
# joined by brand-new nodes (w1–w2 isolated pair)
_INC_CC_BASE = [("a", "b"), ("b", "c"), ("m", "n"), ("p", "q"), ("x", "y")]
_INC_CC_DELTA = [("c", "m"), ("q", "r"), ("w1", "w2")]


def _q_kg_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-fold canonicalization: CC of the base alias edges, then
    incremental_components folds the delta WITHOUT re-reading the base
    edges. The oracle recomputes plain CC over base ∪ delta — passing
    proves the incremental path is equivalent to the full recompute in
    a second engine."""
    from ontology_learning_spark.operators import canonicalize as CC

    base = spark.createDataFrame(_INC_CC_BASE, "src string, dst string")
    delta = spark.createDataFrame(_INC_CC_DELTA, "src string, dst string")
    return CC.incremental_components(CC.connected_components(base), delta).orderBy("node")


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically append PII to a doc_id-keyed subset of the
    corpus (the synthetic text is PII-free word soup, so the scrub
    operator needs planted positives AND untouched negatives). The
    DuckDB oracle replays the identical CASE/concat plant."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 5 == 0, F.concat(
                F.lit(" contact user"), d.cast("string"), F.lit("@example.com now"))
            ).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.concat(
                F.lit(" call 555-010-"), F.lpad((d % 10000).cast("string"), 4, "0"))
            ).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.concat(
                F.lit(" host 10.0."), (d % 256).cast("string"), F.lit("."),
                (d % 100).cast("string"), F.lit(" up"))
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import pii_report

    return pii_report(_plant_pii(_docs(spark, sf_dir)))


def _q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _q_text_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import hash_split

    return hash_split(_docs(spark, sf_dir)).select("doc_id", "split")


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.textstats import repetition_ratio

    return _docs(spark, sf_dir).select(
        "doc_id", F.round(repetition_ratio(F.col("text")), 6).alias("rep")
    )


def _q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination report with the eval set drawn from the corpus
    itself (doc_id % 91 == 0) — every eval doc must flag itself plus
    any doc sharing a verbatim 8-gram. Oracle recomputes the n-gram
    overlap join on gram STRINGS (the operator joins on xxhash64 of
    the gram; results differ only on a 2^-64 collision)."""
    from ontology_learning_spark.operators.dedup import contamination_report

    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 91 == 0)
    return contamination_report(docs, ev, n=8)


def _q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.simsearch import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    top = brute_force_topk(_spread(emb), qvec, k=10)
    return top.select("vec_id", F.round("cosine_sim", 4).alias("cosine_sim"))


def _q_emb_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.functions import columns as C

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    cent = emb.groupBy("label").agg(
        *[F.avg(F.element_at(F.col("embedding"), i + 1)).alias(f"c{i}") for i in range(dim)],
        F.count("*").alias("n"),
    )
    arr = F.array(*[F.col(f"c{i}") for i in range(dim)])
    return cent.select(
        "label", "n", F.round(C.l2_norm(arr), 4).alias("centroid_norm")
    ).orderBy("label")


# --- QA corpus (Q1-Q29 views) + A18 evaluator -------------------------------


def _qa_nodes_df(spark: SparkSession) -> DataFrame:
    return _nodes_df(spark).withColumn(
        "uri", F.concat(F.lit("https://example.org/elec/"), F.col("name"))
    )


def _qa_edges_df(spark: SparkSession) -> DataFrame:
    return _edges_df(spark).unionByName(
        spark.createDataFrame(_QA_EXTRA_EDGES, "src string, rel_type string, dst string")
    )


# Concept properties for the NL property-lookup forms the reference
# transcript shows (sample_qa.txt: manufacturer-of, impedance-of) —
# the shape E9 property extraction produces.
_PROP_ROWS = [
    ("smd resistor", "manufacturer", "acme components"),
    ("smd resistor", "elec:resistance", "10 kOhm"),
    ("wifi antenna", "elec:impedance", "50 Ohm"),
    ("wifi antenna", "manufacturer", "antennas inc"),
    ("smd capacitor", "elec:capacitance", "10 uF"),
]


def _qa_props_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_PROP_ROWS, "name string, prop string, value string")


def _prop_values() -> str:
    return ", ".join(f"('{n}', '{p}', '{v}')" for n, p, v in _PROP_ROWS)


# A17 consistency: planted violations of each axiom class, plus the
# two-cycles-connected-by-a-path pattern (bridge m) that an exact SCC
# check must NOT flag (the round-2 sink/source peel did).
_CONSISTENCY_EXTRA_EDGES = [
    ("loop a", "SUBCLASS_OF", "loop b"),
    ("loop b", "SUBCLASS_OF", "loop a"),
    ("loop b", "SUBCLASS_OF", "bridge m"),
    ("bridge m", "SUBCLASS_OF", "loop c"),
    ("loop c", "SUBCLASS_OF", "loop d"),
    ("loop d", "SUBCLASS_OF", "loop c"),
    ("weird part", "SUBCLASS_OF", "PassiveComponent"),
    ("weird part", "SUBCLASS_OF", "ActiveComponent"),
    ("Resistor", "RELATEDTO", "ghost node"),
    ("Capacitor", "PARTOF", "Transistor"),
    # axiom-interaction plants (round 5): MADEBY is functional
    # (maxCard 1), SERIALNO is inverse-functional. The "gadget x" /
    # "sn-1" pairs straddle the disjoint Passive/Active families →
    # clash; the "gadget y" / "sn-2" pairs stay inside one family →
    # the reasoner merely infers owl:sameAs (NOT flagged).
    ("gadget x", "MADEBY", "Capacitor"),
    ("gadget x", "MADEBY", "Transistor"),
    ("gadget y", "MADEBY", "Capacitor"),
    ("gadget y", "MADEBY", "Inductor"),
    ("Resistor", "SERIALNO", "sn-1"),
    ("Diode", "SERIALNO", "sn-1"),
    ("Capacitor", "SERIALNO", "sn-2"),
    ("Inductor", "SERIALNO", "sn-2"),
    # property-characteristic plants (round 5): HASPART is declared
    # asymmetric + irreflexive and is NOT a domain/range predicate, so
    # these three rows feed exactly the two new checks and nothing else
    ("gear x", "HASPART", "gear y"),
    ("gear y", "HASPART", "gear x"),
    ("gear z", "HASPART", "gear z"),
]
_CONSISTENCY_DISJOINT = [("PassiveComponent", "ActiveComponent")]


def _consistency_edges_df(spark: SparkSession) -> DataFrame:
    return _edges_df(spark).unionByName(
        spark.createDataFrame(_CONSISTENCY_EXTRA_EDGES, "src string, rel_type string, dst string")
    )


def _consistency_node_names() -> list[str]:
    names = {c for c, _ in HIERARCHY} | {p for _, p in HIERARCHY} | {
        "loop a", "loop b", "loop c", "loop d", "bridge m", "weird part",
        "gear x", "gear y", "gear z",
    }  # 'ghost node' deliberately undeclared
    return sorted(names)


def _q_graph_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 combined report (disjointness, exact SUBCLASS_OF cycle
    membership, property domain/range, functional/IFP interaction
    clashes, asymmetry, irreflexivity) over the planted graph; the
    oracle recomputes all seven axiom classes in recursive SQL."""
    from ontology_learning_spark.operators.exports import consistency_report

    nodes = spark.createDataFrame([(n,) for n in _consistency_node_names()], "name string")
    return consistency_report(
        _consistency_edges_df(spark), _CONSISTENCY_DISJOINT, nodes=nodes
    )


def _consistency_edge_values() -> str:
    return ", ".join(
        f"('{a}', 'SUBCLASS_OF', '{b}')" for a, b in HIERARCHY
    ) + ", " + ", ".join(f"('{a}', '{r}', '{b}')" for a, r, b in _CONSISTENCY_EXTRA_EDGES)


def _same_as_oracle() -> str:
    from ontology_learning_spark.operators.exports import (
        FUNCTIONAL_PREDICATES,
        INVERSE_FUNCTIONAL_PREDICATES,
    )

    fpreds = ", ".join(f"'{p}'" for p in FUNCTIONAL_PREDICATES)
    ipreds = ", ".join(f"'{p}'" for p in INVERSE_FUNCTIONAL_PREDICATES)
    return f"""
        WITH edges(src, rel_type, dst) AS (
          SELECT DISTINCT * FROM (VALUES {_consistency_edge_values()}) t(src, rel_type, dst)
        ),
        fun AS (SELECT * FROM edges WHERE rel_type IN ({fpreds})),
        ifp AS (SELECT * FROM edges WHERE rel_type IN ({ipreds}))
        SELECT DISTINCT l.dst AS a, r.dst AS b, l.rel_type || ':' || l.src AS via
        FROM fun l JOIN fun r
          ON l.src = r.src AND l.rel_type = r.rel_type AND l.dst < r.dst
        UNION
        SELECT DISTINCT l.src AS a, r.src AS b, l.rel_type || ':' || l.dst AS via
        FROM ifp l JOIN ifp r
          ON l.dst = r.dst AND l.rel_type = r.rel_type AND l.src < r.src
    """


def _consistency_oracle() -> str:
    edge_vals = _consistency_edge_values()
    node_vals = ", ".join(f"('{n}')" for n in _consistency_node_names())
    fam_a, fam_b = _CONSISTENCY_DISJOINT[0]
    from ontology_learning_spark.operators.exports import (
        ASYMMETRIC_PREDICATES,
        DOMAIN_RANGE_PREDICATES,
        FUNCTIONAL_PREDICATES,
        INVERSE_FUNCTIONAL_PREDICATES,
        IRREFLEXIVE_PREDICATES,
    )

    preds = ", ".join(f"'{p}'" for p in DOMAIN_RANGE_PREDICATES)
    fpreds = ", ".join(f"'{p}'" for p in FUNCTIONAL_PREDICATES)
    ipreds = ", ".join(f"'{p}'" for p in INVERSE_FUNCTIONAL_PREDICATES)
    apreds = ", ".join(f"'{p}'" for p in ASYMMETRIC_PREDICATES)
    irpreds = ", ".join(f"'{p}'" for p in IRREFLEXIVE_PREDICATES)
    return f"""
        WITH RECURSIVE edges(src, rel_type, dst) AS (
          SELECT * FROM (VALUES {edge_vals}) t(src, rel_type, dst)
        ),
        nodes(name) AS (SELECT * FROM (VALUES {node_vals}) t(name)),
        sub(src, dst) AS (SELECT src, dst FROM edges WHERE rel_type = 'SUBCLASS_OF'),
        d_a(name) AS (
          SELECT src FROM sub WHERE dst = '{fam_a}'
          UNION SELECT s.src FROM sub s JOIN d_a ON s.dst = d_a.name
        ),
        d_b(name) AS (
          SELECT src FROM sub WHERE dst = '{fam_b}'
          UNION SELECT s.src FROM sub s JOIN d_b ON s.dst = d_b.name
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM sub
          UNION SELECT r.src, s.dst FROM reach r JOIN sub s ON r.dst = s.src
        ),
        rel AS (SELECT * FROM edges WHERE rel_type IN ({preds}))
        SELECT DISTINCT 'disjoint_class_violation' AS issue_type, a.name AS subject,
               '{fam_a} & {fam_b}' AS detail
        FROM d_a a JOIN d_b b ON a.name = b.name
        UNION ALL
        SELECT DISTINCT 'subclass_cycle', src, 'member of a SUBCLASS_OF cycle'
        FROM reach WHERE src = dst
        UNION ALL
        SELECT * FROM (
          SELECT DISTINCT 'dangling_endpoint' AS issue_type, e.x AS subject,
                 'undeclared endpoint of ' || e.rt AS detail
          FROM (SELECT src AS x, rel_type AS rt FROM rel
                UNION ALL SELECT dst, rel_type FROM rel) e
          WHERE e.x NOT IN (SELECT name FROM nodes)
          UNION ALL
          SELECT DISTINCT 'disjoint_family_bridge', r.src,
                 r.rel_type || ' into disjoint family: {fam_a} vs {fam_b} via ' || r.dst
          FROM rel r
          WHERE r.src IN (SELECT name FROM d_a) AND r.dst IN (SELECT name FROM d_b)
          UNION ALL
          SELECT DISTINCT 'disjoint_family_bridge', r.src,
                 r.rel_type || ' into disjoint family: {fam_b} vs {fam_a} via ' || r.dst
          FROM rel r
          WHERE r.src IN (SELECT name FROM d_b) AND r.dst IN (SELECT name FROM d_a)
        ) dr
        UNION ALL
        SELECT DISTINCT 'functional_cardinality_clash' AS issue_type, l.src AS subject,
               l.rel_type || ' maxCard-1 with provably-distinct objects: '
               || l.dst || ' vs ' || r.dst AS detail
        FROM edges l JOIN edges r
          ON l.src = r.src AND l.rel_type = r.rel_type AND l.dst < r.dst
        WHERE l.rel_type IN ({fpreds})
          AND ((l.dst IN (SELECT name FROM d_a) AND r.dst IN (SELECT name FROM d_b))
            OR (l.dst IN (SELECT name FROM d_b) AND r.dst IN (SELECT name FROM d_a)))
        UNION ALL
        SELECT DISTINCT 'ifp_distinct_subjects_clash' AS issue_type, l.src AS subject,
               l.rel_type || ' inverse-functional object ' || l.dst
               || ' shared by provably-distinct subjects: '
               || l.src || ' vs ' || r.src AS detail
        FROM edges l JOIN edges r
          ON l.dst = r.dst AND l.rel_type = r.rel_type AND l.src < r.src
        WHERE l.rel_type IN ({ipreds})
          AND ((l.src IN (SELECT name FROM d_a) AND r.src IN (SELECT name FROM d_b))
            OR (l.src IN (SELECT name FROM d_b) AND r.src IN (SELECT name FROM d_a)))
        UNION ALL
        SELECT DISTINCT 'asymmetric_property_violation' AS issue_type, l.src AS subject,
               l.rel_type || ' both ways with ' || l.dst AS detail
        FROM edges l JOIN edges r
          ON l.rel_type = r.rel_type AND l.src = r.dst AND l.dst = r.src
        WHERE l.rel_type IN ({apreds}) AND l.src <> l.dst
        UNION ALL
        SELECT DISTINCT 'irreflexive_property_violation' AS issue_type, src AS subject,
               rel_type || ' self-loop' AS detail
        FROM edges WHERE rel_type IN ({irpreds}) AND src = dst
    """


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH pairs → exact verify → connected
    components (M13 machinery) → (canonical_id, cluster_size). Oracle:
    exact all-pairs Jaccard >= 0.9 + 6 rounds of unrolled min-label
    propagation (cluster diameter in the driver corpus is <= 2; six
    rounds covers diameter 6)."""
    from ontology_learning_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir, spread=True), threshold=0.9)


def _q_qa_corpus_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: run all 29 reference QA queries (as SQL views) over the
    inline graph; per-query status + row count. The oracle re-runs the
    same 29 queries (DuckDB dialect, recursive CTEs) on the same
    VALUES graph — a full cross-engine check of the query corpus."""
    from ontology_learning_spark.operators import qa_views as Q

    names = Q.create_qa_views(spark, _qa_nodes_df(spark), _qa_edges_df(spark))
    return Q.evaluate_query_corpus(spark, names).orderBy("query")


def _q_qa_nl_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NL→SQL QA chain (reference qa_system.py:36-75
    minus the LLM): the 16-question battery routed by the template
    router, each compiled query run on Spark. The oracle runs the
    IDENTICAL compiled SQL on DuckDB over the same VALUES graph — a
    full cross-engine check of the router's query generation."""
    from ontology_learning_spark.operators import qa_nl as N

    _qa_nodes_df(spark).createOrReplaceTempView("ont_nodes")
    _qa_edges_df(spark).createOrReplaceTempView("ont_edges")
    _qa_props_df(spark).createOrReplaceTempView("ont_props")
    return N.qa_nl_eval(spark)


def _qa_nl_oracle() -> str:
    from ontology_learning_spark.operators.qa_nl import qa_nl_eval_sql

    node_vals = ", ".join(
        f"('{n}', '{s}', {str(r).upper()}, "
        + ("NULL" if c is None else f"CAST({c} AS DOUBLE)")
        + f", 'https://example.org/elec/{n}')"
        for n, s, r, c in _NODE_ROWS
    )
    return f"""
        WITH ont_nodes AS (
          SELECT * FROM (VALUES {node_vals})
          t(name, source, needs_review, confidence, uri)
        ), ont_edges AS (
          SELECT * FROM (VALUES {_full_edge_values()}) t(src, rel_type, dst)
        ), ont_props AS (
          SELECT * FROM (VALUES {_prop_values()}) t(name, prop, value)
        )
        {qa_nl_eval_sql()}
    """


def _qa_oracle() -> str:
    from ontology_learning_spark.operators.qa_views import qa_corpus_sql

    node_vals = ", ".join(
        f"('{n}', '{s}', {str(r).upper()}, "
        + ("NULL" if c is None else f"CAST({c} AS DOUBLE)")
        + f", 'https://example.org/elec/{n}')"
        for n, s, r, c in _NODE_ROWS
    )
    edge_vals = ", ".join(
        f"('{a}', 'SUBCLASS_OF', '{b}')" for a, b in HIERARCHY
    ) + ", " + ", ".join(f"('{a}', '{r}', '{b}')" for a, r, b in _QA_EXTRA_EDGES)
    parts = [
        f"SELECT '{name}' AS query, (SELECT COUNT(*) FROM ({sql})) AS n_rows"
        for name, sql in sorted(qa_corpus_sql("duckdb").items())
    ]
    body = "\nUNION ALL\n".join(parts)
    return f"""
        WITH ont_nodes AS (
          SELECT * FROM (VALUES {node_vals})
          t(name, source, needs_review, confidence, uri)
        ), ont_edges AS (
          SELECT * FROM (VALUES {edge_vals}) t(src, rel_type, dst)
        )
        SELECT query,
               CASE WHEN n_rows > 0 THEN 'successful' ELSE 'empty_result' END AS status,
               n_rows
        FROM ({body}) ORDER BY query
    """


# --- Schema.org / JSON-LD validation ----------------------------------------


def _q_schema_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD objects built from the documents table with planted
    defects (empty names, bad @context, malformed URIs, undefined
    namespaces, missing recommended props), pushed through the
    Catalyst validator. The oracle derives the same per-object
    outcomes arithmetically from the construction rules."""
    from ontology_learning_spark.operators.validation import validate_jsonld

    d = _docs(spark, sf_dir).select("doc_id")
    name = F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("doc-"), F.col("doc_id"))
    )
    ctx = (
        F.when(F.col("doc_id") % 3 == 0,
               F.lit('{"@vocab":"https://schema.org/","elec":"https://example.org/electrical/"}'))
        .when(F.col("doc_id") % 3 == 1, F.lit('"https://schema.org/"'))
        .otherwise(F.lit('"https://example.com/"'))
    )
    addtype = F.when(F.col("doc_id") % 5 == 0, F.lit("not a uri")).otherwise(
        F.concat(F.lit("http://www.productontology.org/id/doc-"), F.col("doc_id"))
    )
    elec = F.when(F.col("doc_id") % 2 == 0, F.lit(',"elec:impedance":"50 Ohm"')).otherwise(F.lit(""))
    manuf = F.when(F.col("doc_id") % 4 != 0, F.lit(',"manufacturer":"acme"')).otherwise(F.lit(""))
    json_ld = F.concat(
        F.lit('{"@context":'), ctx,
        F.lit(',"@type":"Product","name":"'), name,
        F.lit('","category":"Component","description":"d"'),
        manuf,
        F.lit(',"additionalType":"'), addtype, F.lit('"'),
        elec,
        F.lit("}"),
    )
    v = validate_jsonld(d.select(json_ld.alias("json_ld")))
    return v.select(
        "object_id", "schema_type", "n_errors", "n_warnings",
        "n_recommendations", "is_valid",
    )


# --- embedding ANN over a planted near-neighborhood ------------------------
# The driver embeddings are 64-dim random vectors (max pairwise cosine
# ~0.51), so near-dup / ANN queries over the raw table are vacuous (0
# rows) and un-oracle-able. We augment the table IN-QUERY with 10
# deterministic near-neighbors of vec 0 (planted j perturbs coordinate
# j by +0.2); the oracle SQL builds the IDENTICAL augmented table, so
# both engines see the same input. float32→double casts are exact and
# +0.2 is the same double on both sides — values match bit-for-bit.

EMB_DIM = 64
N_PLANTED = 10
PLANT_BASE_ID = 1_000_000
PLANT_EPS = 0.2


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("bv"))
    js = spark.range(1, N_PLANTED + 1).select(F.col("id").cast("int").alias("j"))
    planted = js.crossJoin(F.broadcast(base)).select(
        (F.lit(PLANT_BASE_ID) + F.col("j")).cast("bigint").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {EMB_DIM}), "
            f"i -> element_at(bv, i) + CASE WHEN i = j THEN {PLANT_EPS} "
            f"ELSE CAST(0.0 AS DOUBLE) END)"
        ).alias("embedding"),
    )
    return emb.unionByName(planted)


_AUG_SQL = f"""
            WITH aug AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
              UNION ALL
              SELECT CAST({PLANT_BASE_ID} + j AS BIGINT) AS vec_id,
                     list_transform(range(1, {EMB_DIM + 1}),
                         i -> b.bv[i] + CASE WHEN i = j THEN {PLANT_EPS} ELSE 0.0 END) AS embedding
              FROM (SELECT CAST(embedding AS DOUBLE[]) AS bv FROM embeddings WHERE vec_id = 0) b
              CROSS JOIN (SELECT unnest(range(1, {N_PLANTED + 1})) AS j) js
            )
"""


# --- sketch-based dedup (oracled against exact twins) -----------------------


def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates → exact Jaccard verify at threshold 0.9 —
    the threshold the LSH recall argument actually covers: at
    ``minhash_plan(0.9)`` (10 bands of r=9) the per-pair miss
    probability is (1-0.9^9)^10 ~ 0.0075 at J=0.9 and falls fast
    above it, whereas a J in [0.5, 0.9) pair is missed with
    probability up to ~0.98, which would make an exact-twin oracle
    flaky if the corpus generator ever introduced mid-band pairs.
    Threshold raised from 0.5 per round-2 review."""
    from ontology_learning_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir, spread=True), threshold=0.9).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups. The pigeonhole blocking (block count from
    ``pick_simhash_blocks`` on the corpus size) is EXACT for hamming<=3
    (recall 1 by construction), so the oracle recomputes the md5-based
    simhash bit-for-bit in SQL and brute-force joins."""
    from ontology_learning_spark.operators.dedup import simhash_near_dups

    # n_docs from the raw scan (parquet-footer count, no shuffle) so the
    # auto-sizing probe doesn't re-execute the repartition; same value,
    # same block geometry, same result.
    raw = _docs(spark, sf_dir)
    return simhash_near_dups(_spread(raw), max_hamming=3, n_docs=raw.count())


def _q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup pairs over the planted neighborhood. All
    true pairs have cosine >= 0.99 where per-pair miss probability is
    ~1e-9, so the LSH output equals the exact all-pairs oracle;
    recall at the 0.9 threshold itself is pytest-asserted."""
    from ontology_learning_spark.operators.simsearch import embedding_near_dups

    # pinned: the signature pass and the two vector-fetch joins would
    # each re-execute the union+shuffle otherwise
    aug = _spread(_aug_embeddings(spark, sf_dir)).localCheckpoint()
    # bands/rows auto-sized from count+threshold (lsh_plan): exercises
    # the scale-parameterized default the 100 TB path would use.
    # n_docs = footer count of the base table + the planted rows —
    # identical to aug.count() without re-executing the union+shuffle.
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count() + N_PLANTED
    return embedding_near_dups(aug, threshold=0.9, n_docs=n).select(
        "id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim")
    )


def _q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10: exact on this corpus because every true top-10
    neighbor is genuinely near the query (the planted neighborhood —
    the regime LSH targets); the oracle is brute-force top-10."""
    from ontology_learning_spark.operators.simsearch import lsh_banded_topk

    aug = _aug_embeddings(spark, sf_dir)
    qvec = [float(x) for x in aug.where(F.col("vec_id") == 0).first()["embedding"]]
    # auto-sized band geometry (lsh_plan) — the scale-parameterized default
    return lsh_banded_topk(aug, qvec, k=10).select(
        "vec_id", F.round("cosine_sim", 4).alias("cosine_sim")
    )


def _q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 over the planted neighborhood (see _q_emb_lsh_topk):
    the near cluster is always probed, so output == brute force."""
    from ontology_learning_spark.operators.simsearch import ivf_topk, train_ivf_centroids

    aug = _aug_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(aug, n_centroids=8, n_iters=3)
    qvec = [float(x) for x in aug.where(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_topk(aug, qvec, cents, k=10, n_probe=3).select(
        "vec_id", F.round("cosine_sim", 4).alias("cosine_sim")
    )


def _q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-(N_PLANTED+1) over the planted neighborhood,
    projected to sorted ids: with k = plant size + 1 the ADC top-k SET
    is exactly {query} ∪ planted (the margin between the plant's
    ~1.0 cosines and the natural corpus dwarfs quantization error), so
    the id set — though not the within-plant order, which quantization
    legitimately ties — is oracle-comparable against exact top-k."""
    from ontology_learning_spark.operators.simsearch import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    # _spread: the training sample is hash-ordered (partition-layout-
    # independent), so parallelizing the one-row-group scan cannot
    # change the codebooks or the result set. The frame is pinned
    # because four consumers (sample, query probe, encode, top-k scan)
    # would each re-execute the union+shuffle; n_docs comes from the
    # parquet footer (+ the planted rows), killing the count job.
    aug = _spread(_aug_embeddings(spark, sf_dir)).localCheckpoint()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count() + N_PLANTED
    books = train_pq_codebooks(aug, m=8, n_codes=64, sample_size=4096, seed=42,
                               n_docs=n)
    qvec = [float(x) for x in aug.where(F.col("vec_id") == 0).first()["embedding"]]
    codes = pq_encode(aug, books)
    return (
        pq_topk(codes, qvec, books, k=N_PLANTED + 1)
        .select("vec_id")
        .orderBy("vec_id")
    )


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_learning_spark.operators.multimodal import decode_media_ref_rows

    # every selected field is parsed by decode_media_header out of REAL
    # planted container bytes (PNG IHDR / JPEG SOF / GIF LSD / WAV fmt)
    # and recomputed by the oracle from the plant formula — the hash
    # match proves the stdlib header parse round-trips.
    # decode_media_ref_rows fuses plant+decode into one Python pass so
    # the payload bytes never cross the Arrow boundary; the refs frame
    # is the direct projection of to_spans' single media span per doc
    # ("img://<doc_id>/0" — same expression), skipping the span-array
    # construction this consumer discards (parity-pinned in
    # tests/test_round6_multimodal_fusion.py).
    refs = _docs(spark, sf_dir, spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("img://"), F.col("doc_id").cast("string"), F.lit("/0")).alias("media_ref"),
    )
    return decode_media_ref_rows(refs).select(
        "doc_id", "media_ref", "codec", "width", "height", "n_frames",
        "channels", "sample_rate", "duration_ms",
    )


def _q_kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline (extract → link → decide) over driver documents.

    Oracle note: over this fixed gazetteer+catalog the per-concept
    match outcome is corpus-INDEPENDENT (embeddings/fuzzy scores depend
    only on (concept, inferred category); the 6 non-catalog vocab words
    clear no threshold, catalog words match exactly at 1.0), so the SQL
    twin verifies the corpus-dependent parts — which vocabulary words
    were extracted/normalized — plus the decision join."""
    from ontology_learning_spark.plans.pipeline import run_pipeline

    docs = _spans_docs(spark, sf_dir)
    catalog_rows = [
        {"name": w, "norm_name": w, "category": cat, "description": f"workload concept {w}",
         "frequency": None, "impedance": None, "voltage": None, "connector": None,
         "mounting": None, "source": "Baseline"}
        for w, cat in sorted(CATALOG_WORDS.items())
    ]
    res = run_pipeline(spark, docs, catalog_rows=catalog_rows, extra_surfaces=tuple(VOCAB))
    return res.decisions.select(
        "concept", "decision", "target", F.round("confidence", 4).alias("confidence")
    ).orderBy("concept")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG pipeline operators
        "kg_mention_counts": _q_kg_mention_counts,
        "kg_doc_mentions": _q_kg_doc_mentions,
        "kg_valid_concepts": _q_kg_valid_concepts,
        "kg_link_exact": _q_kg_link_exact,
        "kg_decisions_lexical": _q_kg_decisions_lexical,
        "kg_components": _q_kg_components,
        "kg_pipeline_decisions": _q_kg_pipeline_triples,
        "kg_saturation": _q_kg_saturation,
        "kg_confidence_topk": _q_kg_confidence_topk,
        # graph query corpus (§2.5)
        "graph_descendants": _q_graph_descendants,
        "graph_ancestors": _q_graph_ancestors,
        "graph_leaves": _q_graph_leaves,
        "graph_siblings": _q_graph_siblings,
        "graph_degree_topk": _q_graph_degree_topk,
        "graph_shortest_path": _q_graph_shortest_path,
        "graph_redundant_edges": _q_graph_redundant_edges,
        "graph_taxonomic_split": _q_graph_taxonomic_split,
        "graph_point_lookup": _q_graph_point_lookup,
        "graph_substring_search": _q_graph_substring_search,
        "graph_attr_filter": _q_graph_attr_filter,
        "graph_review_queue": _q_graph_review_queue,
        "graph_rel_types_distinct": _q_graph_rel_types_distinct,
        "graph_ordered_listing": _q_graph_ordered_listing,
        # graph audits (A8/A9/A10)
        "graph_depth_histogram": _q_graph_depth_histogram,
        "graph_orphans": _q_graph_orphans,
        "graph_pruned": _q_graph_pruned,
        # relational / analytics (§2.4)
        "rel_q1_pricing": _q_rel_q1_pricing,
        "rel_topk_customers": _q_rel_topk_customers,
        "rel_events_histogram": _q_rel_events_histogram,
        "rel_events_cumsum": _q_rel_events_cumsum,
        "rel_nation_rollup": _q_rel_nation_rollup,
        "events_sessionize": _q_events_sessionize,
        # training-data ops
        "dedup_exact": _q_dedup_exact,
        "text_fingerprints": _q_text_fingerprints,
        "text_token_counts": _q_text_token_counts,
        "text_quality": _q_text_quality,
        "text_lang_id": _q_text_lang_id,
        "emb_topk": _q_emb_topk,
        "emb_pairwise_topk": _q_emb_pairwise_topk,
        "emb_label_centroid_norms": _q_emb_label_centroid_norms,
        # QA corpus evaluator (A18) + schema validation + multimodal
        "qa_corpus_eval": _q_qa_corpus_eval,
        "dedup_clusters": _q_dedup_clusters,
        "graph_consistency": _q_graph_consistency,
        "schema_validation": _q_schema_validation,
        "multimodal_decode": _q_multimodal_decode,
        # sketch/ANN ops (oracled against exact SQL twins — see docstrings)
        "minhash_near_dups": _q_minhash_near_dups,
        "simhash_near_dups": _q_simhash_near_dups,
        "emb_near_dups": _q_emb_near_dups,
        "emb_lsh_topk": _q_emb_lsh_topk,
        "emb_ivf_topk": _q_emb_ivf_topk,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracled queries beyond the driver's per-round correctness budget
    (the harness checks the first 50 registered queries; round 3 proved
    the 51st silently drops out). These four relational demos stay
    first-class — same (spark, sf_dir) contract, oracle SQL still in
    oracle_sql() — and tests/test_extra_queries_parity.py runs the same
    rows+schema+values comparison over them every pytest run."""
    return {
        "rel_events_rolling": _q_rel_events_rolling,
        "rel_lineitem_stats": _q_rel_lineitem_stats,
        "rel_brand_revenue": _q_rel_brand_revenue,
        "rel_orders_rank": _q_rel_orders_rank,
        # A14 similarity distribution (the last §2.4 analytic that was
        # pytest-only through round 4)
        "sim_distribution": _q_sim_distribution,
        # round-5 axiom-interaction inferences (clash subset lives in
        # the registered graph_consistency query)
        "owl_same_as": _q_owl_same_as,
        # round-5 deterministic NL→SQL QA chain (template router over
        # the §2.5 graph views; qa_nl.py)
        "qa_nl_eval": _q_qa_nl_eval,
        # round-5 product-quantization ANN (ADC over codes; set-exact
        # on the planted neighborhood at k = plant + 1)
        "emb_pq_topk": _q_emb_pq_topk,
        # round-5 training-pipeline text ops: PII scrub (counts + md5 of
        # the redacted bytes) and integer-exact TF-IDF top-k per doc
        "text_pii_scrub": _q_text_pii_scrub,
        "text_tfidf_topk": _q_text_tfidf_topk,
        # round-5 deterministic engine-independent dataset splits (the
        # oracle recomputes the md5-bucket assignment per doc)
        "text_hash_split": _q_text_hash_split,
        # round-5 decontamination (eval-set n-gram overlap vs training
        # corpus; oracle joins on gram strings)
        "text_decontaminate": _q_text_decontaminate,
        # round-5 Gopher-style intra-doc repetition quality rule
        "text_repetition": _q_text_repetition,
        # round-5 delta-fold canonicalization (incremental CC ≡ full
        # recompute, proven cross-engine)
        "kg_components_incremental": _q_kg_components_incremental,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, tables pre-registered as views)
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = "'figure','table','application','system','section','part','example','information','note','introduction','overview','description','feature','copyright','inc','page','date','january','february','march','april','may','june','july','august','september','october','november','december','california','texas','germany','japan','china','india','france'"

_EN_STOP = "'the','and','of','to','is','in','that','for','with','a'"
_DE_STOP = "'der','die','das','und','ist','nicht','mit','ein','zu','den'"
_FR_STOP = "'le','la','les','et','est','pas','pour','dans','une','des'"
_ES_STOP = "'el','la','los','las','es','para','con','una','por','del'"


def oracle_sql() -> dict[str, str]:
    voc = _vocab_values()
    cat = _catalog_values()
    hier = _hierarchy_values()
    ali = _alias_values()
    return {
        "kg_mention_counts": f"""
            SELECT v.surface AS surface,
                   CAST(SUM(length(regexp_extract_all(d.text, '\\b' || v.surface || '\\b'))) AS BIGINT) AS n
            FROM documents d CROSS JOIN (VALUES {voc}) v(surface)
            GROUP BY 1 HAVING n > 0 ORDER BY surface
        """,
        "kg_doc_mentions": f"""
            SELECT d.doc_id AS doc_id, v.surface AS surface,
                   CAST(length(regexp_extract_all(d.text, '\\b' || v.surface || '\\b')) AS BIGINT) AS n
            FROM documents d CROSS JOIN (VALUES {voc}) v(surface)
            WHERE length(regexp_extract_all(d.text, '\\b' || v.surface || '\\b')) > 0
        """,
        "kg_valid_concepts": f"""
            SELECT w AS concept FROM (
              SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
            )
            WHERE lower(w) NOT IN ({_STOPWORDS_SQL})
              AND length(w) >= 3
              AND regexp_matches(w, '[a-zA-Z]')
              AND NOT regexp_full_match(w, '[0-9]+')
              AND w NOT LIKE '%/%' AND w NOT LIKE '%www.%' AND w NOT LIKE '%.com%'
            ORDER BY concept
        """,
        "kg_link_exact": f"""
            WITH words AS (
              SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
            ), valid AS (
              SELECT w AS concept FROM words
              WHERE lower(w) NOT IN ({_STOPWORDS_SQL}) AND length(w) >= 3
                AND regexp_matches(w, '[a-zA-Z]') AND NOT regexp_full_match(w, '[0-9]+')
                AND w NOT LIKE '%/%' AND w NOT LIKE '%www.%' AND w NOT LIKE '%.com%'
            )
            SELECT v.concept AS concept, c.name AS candidate, CAST(1.0 AS DOUBLE) AS score
            FROM valid v JOIN (VALUES {cat}) c(name, category) ON v.concept = c.name
            ORDER BY concept
        """,
        "kg_decisions_lexical": f"""
            WITH words AS (
              SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
            ), valid AS (
              SELECT w AS concept FROM words
              WHERE lower(w) NOT IN ({_STOPWORDS_SQL}) AND length(w) >= 3
                AND regexp_matches(w, '[a-zA-Z]') AND NOT regexp_full_match(w, '[0-9]+')
                AND w NOT LIKE '%/%' AND w NOT LIKE '%www.%' AND w NOT LIKE '%.com%'
            )
            SELECT v.concept AS concept,
                   CASE WHEN c.name IS NOT NULL THEN 'MAP_EXACT' ELSE 'EXTEND' END AS decision,
                   c.name AS target,
                   CAST(CASE WHEN c.name IS NOT NULL THEN 1.0 ELSE 0.9 END AS DOUBLE) AS confidence
            FROM valid v LEFT JOIN (VALUES {cat}) c(name, category) ON v.concept = c.name
            ORDER BY concept
        """,
        "kg_components_incremental": f"""
            WITH RECURSIVE e(src, dst) AS (
              SELECT src, dst FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _INC_CC_BASE + _INC_CC_DELTA)}) t(src, dst)
            ), und AS (
              SELECT src, dst FROM e UNION SELECT dst, src FROM e
            ), nodes AS (
              SELECT DISTINCT src AS node FROM und
            ), reach(node, peer) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT r.node, u.dst FROM reach r JOIN und u ON r.peer = u.src
            )
            SELECT node AS node, MIN(peer) AS component FROM reach GROUP BY node ORDER BY node
        """,
        "kg_components": f"""
            WITH RECURSIVE e(src, dst) AS (
              SELECT src, dst FROM (VALUES {ali}) t(src, dst)
            ), und AS (
              SELECT src, dst FROM e UNION SELECT dst, src FROM e
            ), nodes AS (
              SELECT DISTINCT src AS node FROM und
            ), reach(node, peer) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT r.node, u.dst FROM reach r JOIN und u ON r.peer = u.src
            )
            SELECT node AS node, MIN(peer) AS component FROM reach GROUP BY node ORDER BY node
        """,
        "graph_descendants": f"""
            WITH RECURSIVE h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            d(name, depth) AS (
              SELECT child, 1 FROM h WHERE parent = 'ElectronicComponent'
              UNION ALL
              SELECT h.child, d.depth + 1 FROM h JOIN d ON h.parent = d.name
            )
            SELECT name AS name, CAST(MIN(depth) AS INT) AS depth FROM d GROUP BY name ORDER BY name
        """,
        "graph_ancestors": f"""
            WITH RECURSIVE h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            a(name, depth) AS (
              SELECT parent, 1 FROM h WHERE child = 'FPCAntenna'
              UNION ALL
              SELECT h.parent, a.depth + 1 FROM h JOIN a ON h.child = a.name
            )
            SELECT name AS name, CAST(MIN(depth) AS INT) AS depth FROM a GROUP BY name ORDER BY name
        """,
        "graph_leaves": f"""
            WITH h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            nodes AS (SELECT child AS name FROM h UNION SELECT parent FROM h)
            SELECT name AS name FROM nodes
            WHERE name NOT IN (SELECT parent FROM h)
            ORDER BY name
        """,
        "graph_siblings": f"""
            WITH h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent))
            SELECT DISTINCT h2.child AS name, h2.parent AS parent
            FROM h h1 JOIN h h2 ON h1.parent = h2.parent
            WHERE h1.child = 'Resistor' AND h2.child <> 'Resistor'
            ORDER BY name
        """,
        "graph_degree_topk": f"""
            WITH h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            ends AS (SELECT child AS name FROM h UNION ALL SELECT parent FROM h),
            deg AS (SELECT name, COUNT(*) AS degree FROM ends GROUP BY name)
            SELECT name AS name, CAST(degree AS BIGINT) AS degree FROM deg
            ORDER BY degree DESC, name ASC LIMIT 5
        """,
        "graph_shortest_path": f"""
            WITH RECURSIVE h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            und(src, dst) AS (SELECT child, parent FROM h UNION SELECT parent, child FROM h),
            walk(node, depth) AS (
              SELECT 'Resistor', 0
              UNION
              SELECT u.dst, w.depth + 1 FROM walk w JOIN und u ON u.src = w.node WHERE w.depth < 12
            )
            SELECT 'Resistor' AS a, 'Capacitor' AS b, CAST(MIN(depth) AS INT) AS hops
            FROM walk WHERE node = 'Capacitor'
        """,
        "graph_redundant_edges": f"""
            WITH h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            e(src, rel_type, dst) AS (
              SELECT child, 'SUBCLASS_OF', parent FROM h
              UNION ALL SELECT 'FPCAntenna', 'RELATEDTO', 'Antenna'
            )
            SELECT src, dst, COUNT(DISTINCT rel_type) AS n_types
            FROM e GROUP BY src, dst HAVING COUNT(DISTINCT rel_type) > 1 ORDER BY src
        """,
        "graph_taxonomic_split": f"""
            WITH h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            e(src, rel_type, dst) AS (
              SELECT child, 'SUBCLASS_OF', parent FROM h
              UNION ALL SELECT 'Antenna', 'CONNECTEDTO', 'Cable'
              UNION ALL SELECT 'Resistor', 'HASPART', 'Cable'
            )
            SELECT CASE WHEN rel_type = 'SUBCLASS_OF' THEN 'taxonomic' ELSE 'non_taxonomic' END AS kind,
                   COUNT(*) AS n
            FROM e GROUP BY 1 ORDER BY kind
        """,
        "graph_point_lookup": f"""
            SELECT name, source FROM (VALUES {{nodes}}) n(name, source, needs_review, confidence)
            WHERE name = 'Resistor'
        """.replace("{nodes}", _node_values()),
        "graph_substring_search": f"""
            SELECT name FROM (VALUES {{nodes}}) n(name, source, needs_review, confidence)
            WHERE lower(name) LIKE '%antenna%' ORDER BY name
        """.replace("{nodes}", _node_values()),
        "graph_attr_filter": f"""
            SELECT name, needs_review FROM (VALUES {{nodes}}) n(name, source, needs_review, confidence)
            WHERE source = 'learned_from_dataset' ORDER BY name
        """.replace("{nodes}", _node_values()),
        "graph_review_queue": f"""
            SELECT name, COALESCE(confidence, CAST(0.75 AS DOUBLE)) AS confidence
            FROM (VALUES {{nodes}}) n(name, source, needs_review, confidence)
            WHERE needs_review ORDER BY confidence DESC, name ASC LIMIT 200
        """.replace("{nodes}", _node_values()),
        "graph_rel_types_distinct": f"""
            WITH h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            e(rel_type) AS (
              SELECT 'SUBCLASS_OF' FROM h
              UNION ALL SELECT 'CONNECTEDTO' UNION ALL SELECT 'HASPART'
            )
            SELECT DISTINCT rel_type FROM e ORDER BY rel_type
        """,
        "graph_ordered_listing": f"""
            SELECT name, source FROM (VALUES {{nodes}}) n(name, source, needs_review, confidence)
            ORDER BY name ASC
        """.replace("{nodes}", _node_values()),
        "graph_depth_histogram": f"""
            WITH RECURSIVE h(child, parent) AS (SELECT * FROM (VALUES {hier}) t(child, parent)),
            d(name, depth) AS (
              SELECT child, 1 FROM h WHERE parent = 'Thing'
              UNION ALL
              SELECT h.child, d.depth + 1 FROM h JOIN d ON h.parent = d.name
            ),
            md AS (SELECT name, MIN(depth) AS depth FROM d GROUP BY name)
            SELECT CAST(depth AS INT) AS depth, COUNT(*) AS n_classes
            FROM md GROUP BY depth ORDER BY depth
        """,
        "graph_orphans": f"""
            WITH RECURSIVE e(src, rel_type, dst) AS (SELECT * FROM (VALUES {{edges}}) t(src, rel_type, dst)),
            n(name, source, needs_review, confidence) AS (SELECT * FROM (VALUES {{nodes}}) t(name, source, needs_review, confidence)),
            r(name) AS (
              SELECT src FROM e WHERE rel_type = 'SUBCLASS_OF' AND dst = 'Thing'
              UNION ALL
              SELECT e.src FROM e JOIN r ON e.dst = r.name AND e.rel_type = 'SUBCLASS_OF'
            )
            SELECT DISTINCT name FROM n
            WHERE source = 'learned_from_dataset' AND name <> 'Thing'
              AND name NOT IN (SELECT name FROM r)
            ORDER BY name
        """.replace("{edges}", _full_edge_values()).replace("{nodes}", _node_values()),
        "graph_pruned": f"""
            WITH e(src, rel_type, dst) AS (SELECT * FROM (VALUES {{edges}}) t(src, rel_type, dst)),
            n(name, source, needs_review, confidence) AS (SELECT * FROM (VALUES {{nodes}}) t(name, source, needs_review, confidence)),
            ends AS (SELECT src AS name FROM e UNION ALL SELECT dst FROM e),
            deg AS (SELECT name, COUNT(*) AS degree FROM ends GROUP BY name),
            doomed AS (
              SELECT n.name FROM n LEFT JOIN deg ON n.name = deg.name
              WHERE n.source = 'learned_from_dataset' AND COALESCE(deg.degree, 0) <= 1
            )
            SELECT name, source FROM n WHERE name NOT IN (SELECT name FROM doomed)
            ORDER BY name
        """.replace("{edges}", _full_edge_values()).replace("{nodes}", _node_values()),
        "kg_saturation": f"""
            WITH dm AS (
              SELECT DISTINCT d.doc_id AS doc_id, v.surface AS surface
              FROM documents d CROSS JOIN (VALUES {voc}) v(surface)
              WHERE length(regexp_extract_all(d.text, '\\b' || v.surface || '\\b')) > 0
            ), ranked AS (
              SELECT doc_id, surface, DENSE_RANK() OVER (ORDER BY doc_id) AS dr FROM dm
            ), batched AS (
              SELECT surface, CAST(FLOOR((dr - 1) / 50) AS INT) AS batch FROM ranked
            ), first_seen AS (
              SELECT surface, MIN(batch) AS first_batch FROM batched GROUP BY surface
            ), per_batch AS (
              SELECT first_batch AS batch, COUNT(*) AS new_concepts FROM first_seen GROUP BY 1
            )
            SELECT batch, new_concepts,
                   CAST(SUM(new_concepts) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cumulative_concepts
            FROM per_batch ORDER BY batch
        """,
        "kg_confidence_topk": f"""
            WITH words AS (
              SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
            ), valid AS (
              SELECT w AS concept FROM words
              WHERE lower(w) NOT IN ({_STOPWORDS_SQL}) AND length(w) >= 3
                AND regexp_matches(w, '[a-zA-Z]') AND NOT regexp_full_match(w, '[0-9]+')
                AND w NOT LIKE '%/%' AND w NOT LIKE '%www.%' AND w NOT LIKE '%.com%'
            ), dec AS (
              SELECT v.concept AS concept,
                     CASE WHEN c.name IS NOT NULL THEN 'MAP_EXACT' ELSE 'EXTEND' END AS decision,
                     CAST(CASE WHEN c.name IS NOT NULL THEN 1.0 ELSE 0.9 END AS DOUBLE) AS confidence
              FROM valid v LEFT JOIN (VALUES {cat}) c(name, category) ON v.concept = c.name
            )
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY confidence DESC, concept ASC) AS INT) AS rank,
                   concept, decision, confidence
            FROM dec ORDER BY rank LIMIT 20
        """,
        "rel_orders_rank": """
            WITH r AS (
              SELECT o_custkey, o_orderkey, o_totalprice AS price,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
              FROM orders WHERE o_custkey < 50
            )
            SELECT o_custkey, o_orderkey, price, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
        """,
        # A14 twin mirrors similarity_distribution's reproducibility
        # contract: round-6 before the per-concept max, DECIMAL-exact
        # sum / sum-of-squares, the same scalar mean/stddev formula,
        # exact type-7 percentiles (quantile_cont == Spark percentile).
        "sim_distribution": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 5
            ), top AS (
              SELECT e.vec_id AS concept,
                     MAX(ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)) AS top_score
              FROM embeddings e CROSS JOIN q
              GROUP BY 1
            ), agg AS (
              SELECT COUNT(*) AS n_concepts,
                     SUM(CAST(top_score AS DECIMAL(28,6))) AS s_dec,
                     SUM(CAST(ROUND(top_score * top_score, 12) AS DECIMAL(26,12))) AS sq_dec,
                     quantile_cont(top_score, 0.5) AS median_raw,
                     quantile_cont(top_score, 0.25) AS p25_raw,
                     quantile_cont(top_score, 0.75) AS p75_raw
              FROM top
            )
            SELECT n_concepts,
                   ROUND(CAST(s_dec AS DOUBLE) / n_concepts, 6) AS mean,
                   ROUND(median_raw, 6) AS median,
                   CASE WHEN n_concepts > 1 THEN
                     ROUND(sqrt((CAST(sq_dec AS DOUBLE)
                                 - CAST(s_dec AS DOUBLE) * CAST(s_dec AS DOUBLE) / n_concepts)
                                / (n_concepts - 1)), 6)
                   END AS stddev,
                   ROUND(p25_raw, 6) AS p25,
                   ROUND(p75_raw, 6) AS p75
            FROM agg
        """,
        "rel_nation_rollup": """
            SELECT r_name, n_name, COUNT(*) AS n_customers,
                   ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_balance
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                          WHEN epoch(ts) - LAG(epoch(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) > 1800 THEN 1
                          ELSE 0 END AS new_session
              FROM events WHERE user_id < 20
            ), sess AS (
              SELECT user_id,
                     SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged
            )
            SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
            FROM sess GROUP BY user_id
        """,
        "emb_pairwise_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 5
            ), s AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cs
              FROM embeddings e CROSS JOIN q
            ), r AS (
              SELECT query_id, vec_id, cs,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id ASC) AS rnk
              FROM s
            )
            SELECT query_id, vec_id, ROUND(cs, 4) AS cosine_sim, CAST(rnk AS INT) AS rank
            FROM r WHERE rnk <= 3
        """,
        "rel_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_base_price,
                   ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "rel_topk_customers": """
            WITH agg AS (
              SELECT c_custkey, c_name,
                     ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue,
                     COUNT(*) AS n_orders
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_custkey, c_name
            )
            SELECT c_custkey, c_name, revenue, n_orders,
                   CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey ASC) AS INT) AS rnk
            FROM agg ORDER BY rnk LIMIT 10
        """,
        "rel_events_histogram": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_value,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "rel_events_cumsum": """
            SELECT user_id, event_id,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
            FROM events WHERE user_id < 20
        """,
        "rel_events_rolling": """
            SELECT user_id, event_id,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS rolling_sum,
                   COUNT(*) OVER w AS window_n
            FROM events WHERE user_id < 20
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        """,
        "rel_lineitem_stats": """
            SELECT l_returnflag,
                   ROUND(stddev_samp(l_extendedprice), 4) AS std_price,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
                   ROUND(MAX(l_extendedprice), 2) AS max_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "rel_brand_revenue": """
            SELECT p_brand,
                   ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand
        """,
        "dedup_exact": """
            SELECT md5(COALESCE(text, '')) AS content_hash,
                   MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM documents GROUP BY 1 ORDER BY content_hash
        """,
        "text_fingerprints": """
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "text_token_counts": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                        w -> CAST(ceil(length(w) / 4.0) AS INT))) AS INT) AS n_subtokens
            FROM documents
        """,
        "text_quality": f"""
            WITH t AS (
              SELECT doc_id, text,
                     string_split_regex(lower(trim(text)), '\\s+') AS toks,
                     length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS n_punct
              FROM documents
            )
            SELECT doc_id,
                   ROUND(CASE WHEN length(text) > 0 THEN n_punct / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
                   ROUND(CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, w -> w IN ({_EN_STOP}))) / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END, 6) AS stopword_ratio_en,
                   ROUND((
                     (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN length(text) > 0 THEN n_punct / CAST(length(text) AS DOUBLE) ELSE 0.0 END) <= 0.2 THEN 1.0 ELSE 0.5 END)
                     + (CASE WHEN (CASE WHEN len(toks) > 0 THEN len(list_filter(toks, w -> w IN ({_EN_STOP}))) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) >= 0.05 THEN 1.0 ELSE 0.5 END)
                   ) / 3.0, 6) AS quality
            FROM t
        """,
        "text_lang_id": f"""
            WITH t AS (
              SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks,
                     length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
              FROM documents
            ), v AS (
              SELECT doc_id, cjk,
                     len(list_filter(toks, w -> w IN ({_EN_STOP}))) AS v_en,
                     len(list_filter(toks, w -> w IN ({_DE_STOP}))) AS v_de,
                     len(list_filter(toks, w -> w IN ({_FR_STOP}))) AS v_fr,
                     len(list_filter(toks, w -> w IN ({_ES_STOP}))) AS v_es
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN cjk > 0 THEN 'zh'
                        WHEN greatest(v_en, v_de, v_fr, v_es) = 0 THEN 'unknown'
                        WHEN v_en = greatest(v_en, v_de, v_fr, v_es) THEN 'en'
                        WHEN v_de = greatest(v_en, v_de, v_fr, v_es) THEN 'de'
                        WHEN v_fr = greatest(v_en, v_de, v_fr, v_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM v
        """,
        "text_pii_scrub": """
            WITH planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up' ELSE '' END
                     AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '\\d{3}[- ]\\d{3}[- ]\\d{4}')) AS INT) AS n_phones,
                   CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                       '\\d{3}[- ]\\d{3}[- ]\\d{4}', '<PHONE>', 'g')) AS scrubbed_md5
            FROM planted
        """,
        "text_hash_split": """
            SELECT doc_id,
                   CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     try_cast(('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
              FROM documents
            )
        """,
        "text_repetition": """
            WITH t AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                  ELSE []::VARCHAR[] END AS grams
              FROM t
            )
            SELECT doc_id,
                   ROUND(CASE WHEN len(grams) > 0
                         THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
                         ELSE 0.0 END, 6) AS rep
            FROM g
        """,
        "text_decontaminate": """
            WITH t AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
                  THEN [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
                  ELSE []::VARCHAR[] END)) AS g
              FROM t
            ), ev AS (
              SELECT DISTINCT g FROM g WHERE doc_id % 91 = 0
            )
            SELECT g.doc_id AS doc_id, COUNT(*) AS n_shared
            FROM g JOIN ev USING (g) GROUP BY 1
        """,
        "text_tfidf_topk": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM documents
            ), tok2 AS (
              SELECT doc_id, term FROM toks WHERE length(term) >= 2
            ), tf AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
            ), n AS (
              SELECT COUNT(*) AS n FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                     (tf.tf * (n.n + 1) * 1000000) // (dfreq.df + 1) AS score_micro
              FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rnk
              FROM scored
            )
            SELECT doc_id, term, tf, df, score_micro, rnk FROM ranked WHERE rnk <= 3
        """,
        "emb_topk": """
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cosine_sim
            FROM embeddings
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
                     vec_id ASC
            LIMIT 10
        """,
        "qa_corpus_eval": _qa_oracle(),
        "dedup_clusters": '''
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(t) >= 3 THEN
                       list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [] END) AS sh
              FROM toks
            ), nz AS (
              SELECT * FROM sh WHERE len(sh) > 0
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM nz a JOIN nz b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                    / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.9
            ), und AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs
            ), l0 AS (
              SELECT DISTINCT a AS node, a AS lbl FROM und
            ), l1 AS (
              SELECT l.node, LEAST(MIN(l.lbl), COALESCE(MIN(nl.lbl), MIN(l.lbl))) AS lbl
              FROM l0 l LEFT JOIN und u ON u.a = l.node LEFT JOIN l0 nl ON nl.node = u.b
              GROUP BY l.node
            ), l2 AS (
              SELECT l.node, LEAST(MIN(l.lbl), COALESCE(MIN(nl.lbl), MIN(l.lbl))) AS lbl
              FROM l1 l LEFT JOIN und u ON u.a = l.node LEFT JOIN l1 nl ON nl.node = u.b
              GROUP BY l.node
            ), l3 AS (
              SELECT l.node, LEAST(MIN(l.lbl), COALESCE(MIN(nl.lbl), MIN(l.lbl))) AS lbl
              FROM l2 l LEFT JOIN und u ON u.a = l.node LEFT JOIN l2 nl ON nl.node = u.b
              GROUP BY l.node
            ), l4 AS (
              SELECT l.node, LEAST(MIN(l.lbl), COALESCE(MIN(nl.lbl), MIN(l.lbl))) AS lbl
              FROM l3 l LEFT JOIN und u ON u.a = l.node LEFT JOIN l3 nl ON nl.node = u.b
              GROUP BY l.node
            ), l5 AS (
              SELECT l.node, LEAST(MIN(l.lbl), COALESCE(MIN(nl.lbl), MIN(l.lbl))) AS lbl
              FROM l4 l LEFT JOIN und u ON u.a = l.node LEFT JOIN l4 nl ON nl.node = u.b
              GROUP BY l.node
            ), l6 AS (
              SELECT l.node, LEAST(MIN(l.lbl), COALESCE(MIN(nl.lbl), MIN(l.lbl))) AS lbl
              FROM l5 l LEFT JOIN und u ON u.a = l.node LEFT JOIN l5 nl ON nl.node = u.b
              GROUP BY l.node
            )
            SELECT CAST(MIN(node) AS BIGINT) AS canonical_id,
                   CAST(COUNT(*) AS INT) AS cluster_size
            FROM l6 GROUP BY lbl HAVING COUNT(*) >= 2
        ''',
        "graph_consistency": _consistency_oracle(),
        "owl_same_as": _same_as_oracle(),
        "qa_nl_eval": _qa_nl_oracle(),
        "schema_validation": """
            SELECT CASE WHEN doc_id % 7 = 0 THEN ''
                        ELSE 'doc-' || CAST(doc_id AS VARCHAR) END AS object_id,
                   'Product' AS schema_type,
                   CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT) AS n_errors,
                   CAST((CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END)
                      + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN doc_id % 2 = 0 AND doc_id % 3 <> 0 THEN 1 ELSE 0 END)
                     AS INT) AS n_warnings,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS n_recommendations,
                   doc_id % 7 <> 0 AS is_valid
            FROM documents
        """,
        "minhash_near_dups": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(t) >= 3 THEN
                       list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [] END) AS sh
              FROM toks
            ), nz AS (
              SELECT * FROM sh WHERE len(sh) > 0
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh))
                       / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS j
              FROM nz a JOIN nz b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM pairs WHERE j >= 0.9
        """,
        "simhash_near_dups": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
              FROM documents
            ), th AS (
              SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''
            ), bits AS (
              SELECT doc_id, bb.b AS b,
                     CASE WHEN (
                          ((((strpos('0123456789abcdef', substr(h, 2 * (bb.b // 8) + 1, 1)) - 1) * 16
                             + (strpos('0123456789abcdef', substr(h, 2 * (bb.b // 8) + 2, 1)) - 1))
                            >> (7 - (bb.b % 8))) & 1) = 1
                     ) THEN 1 ELSE -1 END AS contrib
              FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
            ), acc AS (
              SELECT doc_id, b, SUM(contrib) AS s FROM bits GROUP BY doc_id, b
            ), sigs AS (
              -- CAST the SUM: DuckDB SUM(BIGINT) -> HUGEINT, and
              -- xor on 128-bit values gives mixed-sign pairs 64
              -- phantom sign bits (bit_count 2 became 66)
              SELECT d.doc_id,
                     CAST(COALESCE(SUM(CASE WHEN a.s > 0 THEN
                       CASE WHEN a.b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE (CAST(1 AS BIGINT) << CAST(a.b AS INT)) END
                     ELSE 0 END), 0) AS BIGINT) AS sig
              FROM documents d LEFT JOIN acc a ON d.doc_id = a.doc_id
              GROUP BY d.doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 3
        """,
        "multimodal_decode": f"""
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     'img://' || CAST(doc_id AS VARCHAR) || '/0' AS media_ref,
                     md5('img://' || CAST(doc_id AS VARCHAR) || '/0') AS h
              FROM documents
            ), f AS (
              SELECT *, ({_hexbyte('h', 4)} % 4) AS fmt FROM m
            )
            SELECT doc_id, media_ref,
                   CASE fmt WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                            WHEN 2 THEN 'gif' ELSE 'wav' END AS codec,
                   CASE WHEN fmt < 3 THEN CAST(64 + ({_hexbyte('h', 0)} % 192) AS INT) END AS width,
                   CASE WHEN fmt < 3 THEN CAST(64 + ({_hexbyte('h', 1)} % 192) AS INT) END AS height,
                   CAST(1 AS INT) AS n_frames,
                   CASE WHEN fmt = 3 THEN CAST(1 + ({_hexbyte('h', 0)} % 2) AS INT) END AS channels,
                   CASE WHEN fmt = 3 THEN CAST(CASE ({_hexbyte('h', 1)} % 4)
                        WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 44100 ELSE 48000 END AS INT) END AS sample_rate,
                   CASE WHEN fmt = 3 THEN CAST(100 * (1 + ({_hexbyte('h', 2)} % 50)) AS INT) END AS duration_ms
            FROM f
        """,
        "kg_pipeline_decisions": f"""
            WITH hits AS (
              SELECT v.word AS concept
              FROM documents d CROSS JOIN (VALUES {{sw}}) v(surface, word)
              WHERE length(regexp_extract_all(d.text, '\\b' || v.surface || '\\b')) > 0
              GROUP BY 1
            )
            SELECT h.concept AS concept,
                   CASE WHEN c.name IS NOT NULL THEN 'MAP_EXACT' ELSE 'EXTEND' END AS decision,
                   c.name AS target,
                   CAST(CASE WHEN c.name IS NOT NULL THEN 1.0 ELSE 0.9 END AS DOUBLE) AS confidence
            FROM hits h LEFT JOIN (VALUES {_catalog_values()}) c(name, category)
                 ON h.concept = c.name
            ORDER BY concept
        """.replace("{sw}", _surface_word_values()),
        "emb_near_dups": f"""
            {_AUG_SQL},
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_cosine_similarity(a.embedding, b.embedding) AS cs
              FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, ROUND(cs, 4) AS cosine_sim
            FROM pairs WHERE cs >= 0.9
        """,
        "emb_lsh_topk": f"""
            {_AUG_SQL}
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding,
                         (SELECT embedding FROM aug WHERE vec_id = 0)), 4) AS cosine_sim
            FROM aug
            ORDER BY list_cosine_similarity(embedding,
                     (SELECT embedding FROM aug WHERE vec_id = 0)) DESC, vec_id ASC
            LIMIT 10
        """,
        "emb_ivf_topk": f"""
            {_AUG_SQL}
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding,
                         (SELECT embedding FROM aug WHERE vec_id = 0)), 4) AS cosine_sim
            FROM aug
            ORDER BY list_cosine_similarity(embedding,
                     (SELECT embedding FROM aug WHERE vec_id = 0)) DESC, vec_id ASC
            LIMIT 10
        """,
        "emb_pq_topk": f"""
            {_AUG_SQL}
            SELECT vec_id FROM (
              SELECT vec_id FROM aug
              ORDER BY list_cosine_similarity(embedding,
                       (SELECT embedding FROM aug WHERE vec_id = 0)) DESC, vec_id ASC
              LIMIT {N_PLANTED + 1}
            ) ORDER BY vec_id
        """,
        "emb_label_centroid_norms": """
            WITH u AS (
              SELECT label, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS x
              FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
            ), c AS (
              SELECT label, i, AVG(x) AS m FROM u GROUP BY label, i
            ), n AS (
              SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
            )
            SELECT c.label AS label, n.n AS n, ROUND(sqrt(SUM(m * m)), 4) AS centroid_norm
            FROM c JOIN n ON c.label = n.label GROUP BY c.label, n.n ORDER BY label
        """,
    }
