"""Tests for canonicalization (M13), graph queries (§2.4/2.5), and the
merge/manifest table layer (S4/S7/S8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.fixtures import baseline, generator
from ontology_learning_spark.operators import analytics as A
from ontology_learning_spark.operators import canonicalize as CC
from ontology_learning_spark.operators import graph_ops as G
from ontology_learning_spark.sources import tables as TBL


@pytest.fixture(scope="module")
def graph(spark):
    nodes, edges = TBL.baseline_graph(spark, baseline.ONTOLOGY_HIERARCHY)
    return nodes.cache(), edges.cache()


@pytest.mark.parametrize("small_threshold", [200_000, 0])  # driver-side and distributed paths
def test_connected_components_chain_and_hub(spark, small_threshold):
    rows = generator.generate_alias_edges()
    alias_df = spark.createDataFrame(rows, "surface string, alias_of string")
    mapping = {r["surface"]: r["canonical"]
               for r in CC.canonical_mapping(alias_df, small_threshold=small_threshold).collect()}
    # chain: thick film resistor -> chip resistor -> resistor
    assert mapping["thick film resistor"] == "resistor"
    assert mapping["smd resistor"] == "resistor"
    assert mapping["chip resistor"] == "resistor"
    # hub: 20 variants onto antenna
    for k in range(20):
        assert mapping[f"antenna variant {k}"] == "antenna"
    # canonical nodes never map away
    assert "resistor" not in mapping
    assert "antenna" not in mapping


def test_apply_canonicalization(spark):
    triples = spark.createDataFrame(
        [("chip resistor", "subclass_of", "passivecomponent"),
         ("x", "connectedTo", "antenna variant 3"),
         ("resistor", "subclass_of", "passivecomponent")],
        "subj string, pred string, obj string",
    )
    alias_df = spark.createDataFrame(generator.generate_alias_edges(), "surface string, alias_of string")
    mapping = CC.canonical_mapping(alias_df)
    out = {(r["subj"], r["pred"], r["obj"]) for r in CC.apply_canonicalization(triples, mapping).collect()}
    assert ("resistor", "subclass_of", "passivecomponent") in out
    assert ("x", "connectedTo", "antenna") in out
    # chip resistor row collapsed onto the resistor row (dedup)
    assert len([t for t in out if t[1] == "subclass_of"]) == 1


# driver-side BFS and the distributed frontier-join loop
bfs_paths = pytest.mark.parametrize("bfs_max_edges", [G._DRIVER_BFS_MAX_EDGES, 0])


@bfs_paths
def test_descendants_and_ancestors(graph, monkeypatch, bfs_max_edges):
    monkeypatch.setattr(G, "_DRIVER_BFS_MAX_EDGES", bfs_max_edges)
    nodes, edges = graph
    desc = {r["name"]: r["depth"] for r in G.descendants(edges, "ElectronicComponent").collect()}
    assert desc["PassiveComponent"] == 1
    assert desc["Resistor"] == 2
    assert desc["FPCAntenna"] == 3
    assert "Organization" not in desc
    anc = {r["name"]: r["depth"] for r in G.ancestors(edges, "FPCAntenna").collect()}
    assert anc == {"Antenna": 1, "RFComponent": 2, "ElectronicComponent": 3, "Product": 4, "Thing": 5}


def test_hierarchy_depth_and_leaves(graph):
    nodes, edges = graph
    assert G.hierarchy_depth(edges, "Thing") == 5  # FPCAntenna path
    leaf_names = {r["name"] for r in G.leaves(nodes, edges).collect()}
    assert "Resistor" in leaf_names and "FPCAntenna" in leaf_names
    assert "Antenna" not in leaf_names and "Thing" not in leaf_names


@bfs_paths
def test_shortest_path(graph, monkeypatch, bfs_max_edges):
    monkeypatch.setattr(G, "_DRIVER_BFS_MAX_EDGES", bfs_max_edges)
    _, edges = graph
    assert G.shortest_path_length(edges, "Resistor", "Capacitor") == 2  # via PassiveComponent
    assert G.shortest_path_length(edges, "FPCAntenna", "Thing") == 5
    # the start node is never re-discovered, so a self path is not a path
    assert G.shortest_path_length(edges, "Resistor", "Resistor") is None


def test_siblings_and_degree(graph):
    _, edges = graph
    sibs = {r["name"] for r in G.siblings(edges, "Resistor").collect()}
    assert sibs == {"Capacitor", "Inductor"}
    top = G.top_k_by_degree(edges, 3).collect()
    assert top[0]["name"] == "ElectronicComponent"  # 6 children + 1 parent


def test_graph_stats(graph):
    nodes, edges = graph
    n, m = len(nodes.collect()), len(edges.collect())
    row = G.graph_stats(nodes, edges).collect()[0]
    assert (row["nodes"], row["edges"]) == (n, m)
    assert row["density"] == pytest.approx(m / (n * (n - 1)))
    assert row["avg_degree"] == pytest.approx(2 * m / n)


def test_graph_viz_sample(graph):
    nodes, edges = graph
    vn, ve = A.graph_viz_sample(nodes, edges, n_nodes=5, n_edges=7)
    assert [r["name"] for r in vn.collect()] == sorted(r["name"] for r in nodes.collect())[:5]
    assert [(r["src"], r["rel_type"], r["dst"]) for r in ve.collect()] == sorted(
        (r["src"], r["rel_type"], r["dst"]) for r in edges.collect())[:7]


def test_orphans_and_pruning(spark, graph):
    nodes, edges = graph
    extra_nodes = nodes.unionByName(
        spark.createDataFrame(
            [("floating", None, "learned_from_dataset", None, None, False)], TBL.NODE_SCHEMA
        )
    )
    orphan_names = {r["name"] for r in G.orphans(extra_nodes, edges, source_filter=None).collect()}
    assert "floating" in orphan_names
    assert "Resistor" not in orphan_names

    n2, e2 = G.prune_low_degree(extra_nodes, edges, threshold=0)
    assert "floating" not in {r["name"] for r in n2.collect()}


def test_merge_graph_idempotent(spark, graph):
    nodes, edges = graph
    tasks = spark.createDataFrame(
        [("new widget", "CREATE_CLASS", "ElectronicComponent", "review", 0.5)],
        "name string, action string, parent_class string, status string, confidence double",
    )
    triples = spark.createDataFrame(
        [("new widget", "connectedTo", "antenna")], "subj string, pred string, obj string"
    )
    n1, e1 = TBL.merge_graph(nodes, edges, tasks, triples, "r1")
    n2, e2 = TBL.merge_graph(n1, e1, tasks, triples, "r1")
    assert n1.count() == n2.count() and e1.count() == e2.count()
    row = n1.where(F.col("name") == "new widget").collect()[0]
    assert row["needs_review"] is True
    assert row["uri"].endswith("/new-widget")
    rels = {r["rel_type"] for r in e1.collect()}
    assert "CONNECTEDTO" in rels and "SUBCLASS_OF" in rels
    # baseline node survives merge untouched
    thing = n1.where(F.col("name") == "Thing").collect()[0]
    assert thing["source"] == "Baseline"


def test_stage_store_resume(spark, tmp_path):
    store = TBL.StageStore(spark, tmp_path, "runA")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "x")

    df1 = store.materialize("stage1", build)
    assert df1.count() == 5 and calls["n"] == 1
    df2 = store.materialize("stage1", build)   # resume: no re-execution
    assert df2.count() == 5 and calls["n"] == 1
    assert store.is_done("stage1")
    # different run id re-executes
    store_b = TBL.StageStore(spark, tmp_path, "runB")
    store_b.materialize("stage1", build)
    assert calls["n"] == 2
