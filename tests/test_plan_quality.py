"""Physical-plan shape assertions: the properties that matter at 100 TB
(predicate pushdown, column pruning, broadcast joins, per-partition
top-k) must be visible in the optimized plan, not just intended."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF_DIR = "/root/testdata/sf0.01"


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_catalog_join_is_broadcast(spark):
    """Linking joins against the catalog must broadcast, not shuffle."""
    from ontology_learning_spark.fixtures import baseline
    from ontology_learning_spark.operators import linking as L

    cat = L.prepare_catalog(spark, baseline.entity_catalog())
    concepts = spark.createDataFrame([("resistor",), ("widget",)], "concept string")
    exact = L.lexical_exact_matches(concepts, cat)
    plan = _plan(exact)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_uses_take_ordered(spark):
    """Top-k must compile to TakeOrderedAndProject (per-partition top-k),
    never a global single-partition window."""
    from ontology_learning_spark.operators import graph_ops as G

    edges = spark.createDataFrame(
        [("a", "SUBCLASS_OF", "b"), ("c", "SUBCLASS_OF", "b")],
        "src string, rel_type string, dst string",
    )
    plan = _plan(G.top_k_by_degree(edges, 5))
    assert "TakeOrderedAndProject" in plan

    from ontology_learning_spark.operators.simsearch import brute_force_topk

    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<float>")
    plan2 = _plan(brute_force_topk(emb, [1.0, 0.0], k=1))
    assert "TakeOrderedAndProject" in plan2


def _unpartitioned_windows(plan: str) -> list[str]:
    """WindowExec lines with no partition spec (the `], [` separator
    appears once for unpartitioned windows, twice for partitioned)."""
    out = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-*(0123456789) :").strip()
        if s.startswith("Window ") and s.count("], [") < 2:
            out.append(s)
    return out


def test_no_unpartitioned_windows(spark):
    """The operators flagged in round 1 (global row_number/cumsum) must
    not move data to a single unpartitioned WindowExec."""
    from ontology_learning_spark.operators import analytics as A
    from ontology_learning_spark.operators.simsearch import brute_force_topk

    dec = spark.createDataFrame(
        [("a", "EXTEND", 0.9), ("b", "MAP_EXACT", 1.0), ("c", "UNCERTAIN", 0.5)],
        "concept string, decision string, confidence double",
    )
    assert not _unpartitioned_windows(_plan(A.confidence_ranking(dec, 5)))

    mentions = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (3, "z")], "doc_id bigint, norm_surface string"
    )
    assert not _unpartitioned_windows(_plan(A.conceptual_saturation(mentions, 2)))

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<float>"
    )
    assert not _unpartitioned_windows(_plan(brute_force_topk(emb, [1.0, 0.0], k=1)))

    import __spark_entry__ as entry_mod

    assert not _unpartitioned_windows(
        _plan(entry_mod.queries()["rel_topk_customers"](spark, SF_DIR))
    )


def test_preprocess_is_all_jvm(spark, docs_df):
    """Span concat + preprocessing must be JVM expressions (regexp
    chains codegen; higher-order lambdas run in the JVM interpreter) —
    never Python evaluation nodes."""
    from ontology_learning_spark.operators import extraction as E

    df = E.preprocess(E.concat_text_spans(docs_df)).select("doc_id", "clean_text")
    plan = _plan(df)
    assert "*(" in plan  # at least one WholeStageCodegen span
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "regexp_replace" in plan  # preprocessing inlined as expressions


def test_validity_filter_is_catalyst(spark):
    from ontology_learning_spark.functions import columns as C

    df = spark.createDataFrame([("resistor",)], "surface string").where(
        C.is_valid_concept(F.col("surface"))
    )
    plan = _plan(df)
    assert "Python" not in plan


def test_top_docs_window_group_limit_and_equivalence(spark):
    """The shipped E7 top-N plan must carry a PARTIAL WindowGroupLimit
    below the exchange (map-side top-n prune per concept — what makes
    the single window skew-proof on head concepts), and return, per
    concept, the n smallest distinct doc ids numbered 1..n."""
    from ontology_learning_spark.operators import enrich as EN

    rows = [(f"d{i:04d}", "hot") for i in range(400)] * 3 + [
        (f"d{i:04d}", f"tail{i % 17}") for i in range(60)
    ]
    m = spark.createDataFrame(rows, "doc_id string, norm_surface string")
    top = EN.top_docs_per_concept(m)

    plan = _plan(top)
    i_partial = plan.find("WindowGroupLimit")
    assert i_partial != -1, "rank-limit filter did not rewrite to WindowGroupLimit"
    assert "Partial" in plan, "map-side (Partial) WindowGroupLimit pass missing"

    docs: dict[str, set[str]] = {}
    for r in m.collect():
        docs.setdefault(r["norm_surface"], set()).add(r["doc_id"])
    want = sorted(
        (c, d, rn) for c, ds in docs.items()
        for rn, d in enumerate(sorted(ds)[:EN.CONTEXT_CHUNKS], start=1)
    )
    assert sorted(map(tuple, top.collect())) == want


def test_parquet_checkpoint_equivalence_pruning_and_empty(spark, monkeypatch):
    """The corpus-scale checkpoint's parquet strategy (multi-executor
    masters) must return identical rows, expose column pruning to its
    consumers (a one-column reader of the pin must scan ONE column —
    the whole point vs raw blocks), keep the writer's schema for an
    EMPTY input, and honor the blocks override."""
    from ontology_learning_spark.functions.persistence import materialize

    monkeypatch.setenv("OLS_CORPUS_CHECKPOINT", "parquet")
    df = spark.createDataFrame(
        [(f"d{i}", [f"m{i}", "x"], [f"t{i}"]) for i in range(50)],
        "doc_id string, mentions array<string>, triples array<string>",
    )
    pinned = materialize(df, corpus_scale=True)
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, df.collect()))
    assert pinned.schema == df.schema

    pruned_plan = _plan(pinned.select("mentions"))
    assert "ReadSchema" in pruned_plan
    assert "mentions" in pruned_plan.split("ReadSchema:")[1][:120]
    assert "triples" not in pruned_plan.split("ReadSchema:")[1][:120]

    empty = materialize(df.where(F.lit(False)), corpus_scale=True)
    assert empty.count() == 0
    assert empty.schema == df.schema

    monkeypatch.setenv("OLS_CORPUS_CHECKPOINT", "blocks")
    blocks = materialize(df, corpus_scale=True)
    assert "Scan ExistingRDD" in _plan(blocks) or "LocalTableScan" in _plan(blocks) \
        or "Scan parquet" not in _plan(blocks)


def test_round5_text_ops_plan_shapes(spark):
    """PII scrub and hash_split must stay narrow map-side transforms
    (zero Exchange, zero Python eval); tfidf_top_terms owns exactly its
    stated shuffles (doc-term tf, term df, join back, per-doc window —
    no extras) with the scoring kept in JVM expressions."""
    from ontology_learning_spark.operators import textstats as TS

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    pii = TS.pii_report(docs)
    plan = _plan(pii)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan

    split = TS.hash_split(docs).select("doc_id", "split")
    plan = _plan(split)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan

    tfidf = TS.tfidf_top_terms(docs, k=3, n_docs=500)
    plan = _plan(tfidf)
    assert "Python" not in plan, plan
    # the tokenize+tf pass ran ONCE inside the pin (no Generate left
    # downstream — without the pin both the df agg and the scoring
    # join re-explode the corpus); remaining exchanges: vocab-sized df
    # agg + per-doc window, with df BROADCAST back onto tf (hot terms
    # never hit a window partition)
    assert "Generate" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower(), plan


def test_decontamination_plan_shape(spark):
    """The eval gram set must BROADCAST (corpus side never shuffles
    before the match); the only hashpartitioning exchange is the
    match-only per-doc count."""
    from ontology_learning_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 91 == 0)
    plan = _plan(DD.contamination_report(docs, ev, n=8))
    assert "BroadcastHashJoin" in plan, plan
    # exactly two hash exchanges, both match-or-eval-sized: the eval
    # grams' distinct (inside the broadcast subtree) and the per-doc
    # count of matches; the corpus side goes FileScan → Generate →
    # BroadcastHashJoin with no exchange in between
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    corpus_side = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side, plan
    assert "Python" not in plan, plan
