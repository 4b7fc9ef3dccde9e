"""The QA views on a cyclic SUBCLASS_OF, and the ``qa_reach`` table
function behind their transitive patterns.

Every Spark view must equal its DuckDB twin (``qa_corpus_sql('duckdb')``,
recursive CTEs with set semantics or simple-path guards); the three
path-valued views (Q13, Q16, Q23) must also equal a plain-Python BFS
written here, independent of ``graph_ops``.
"""

from __future__ import annotations

from collections import deque

import duckdb
import pytest

from ontology_learning_spark.fixtures import baseline
from ontology_learning_spark.operators import qa_views as Q
from ontology_learning_spark.sources.tables import EDGE_SCHEMA, NODE_SCHEMA, baseline_graph

LEARNED = "learned_from_dataset"

# (name, needs_review) of the learned nodes
LEARNED_NODES = [
    ("antenna array", True), ("phased array", False), ("film capacitor", True),
    ("rf module", False), ("flex part", True), ("orphan a", False), ("orphan b", True),
    ("loop antenna", False),
]
EXTRA_EDGES = [
    # a 3-cycle through Antenna
    ("Antenna", "SUBCLASS_OF", "antenna array"),
    ("antenna array", "SUBCLASS_OF", "phased array"),
    ("phased array", "SUBCLASS_OF", "Antenna"),
    ("loop antenna", "SUBCLASS_OF", "phased array"),
    # a 2-cycle in the PassiveComponent family of ElectronicComponent
    ("film capacitor", "SUBCLASS_OF", "Capacitor"),
    ("Capacitor", "SUBCLASS_OF", "film capacitor"),
    # two equally short routes FPCAntenna -> ElectronicComponent
    ("FPCAntenna", "SUBCLASS_OF", "rf module"),
    ("FPCAntenna", "SUBCLASS_OF", "flex part"),
    ("rf module", "SUBCLASS_OF", "ElectronicComponent"),
    ("flex part", "SUBCLASS_OF", "ElectronicComponent"),
    # a cycle that never reaches Thing
    ("orphan a", "SUBCLASS_OF", "orphan b"),
    ("orphan b", "SUBCLASS_OF", "orphan a"),
    ("phased array", "RELATEDTO", "Electromechanical"),
    ("Transistor", "RELATEDTO", "antenna array"),
    ("film capacitor", "CONNECTEDTO", "Connector"),
]


def _norm(rows) -> list:
    def cell(v):
        return tuple(v) if isinstance(v, list) else v
    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def _duck(nodes, edges):
    con = duckdb.connect()
    con.register("ont_nodes", nodes.toPandas())
    con.register("ont_edges", edges.toPandas())
    return con


# -- plain-Python oracles (deliberately not graph_ops) -----------------------


def _bfs(adj: dict, start) -> dict:
    dist = {start: 0}
    queue = deque([start])
    while queue:
        x = queue.popleft()
        for y in adj.get(x, ()):
            if y not in dist:
                dist[y] = dist[x] + 1
                queue.append(y)
    return dist


def _sub_pairs(edge_rows):
    return [(r["src"], r["dst"]) for r in edge_rows if r["rel_type"] == "SUBCLASS_OF"]


def _python_q13(edge_rows) -> list:
    sub = _sub_pairs(edge_rows)
    down: dict = {}
    for c, p in sub:
        down.setdefault(p, []).append(c)
    to_thing = _bfs(down, "Thing")
    if "FPCAntenna" not in to_thing:
        return []
    paths = []

    def walk(path):
        here = path[-1]
        if here == "Thing":
            paths.append((tuple(path),))
            return
        for c, p in sub:
            if c == here and to_thing.get(p, -1) == to_thing[here] - 1:
                walk(path + [p])

    walk(["FPCAntenna"])
    return sorted(paths, key=repr)


def _python_q16(edge_rows):
    adj: dict = {}
    for r in edge_rows:
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    hops = _bfs(adj, "Resistor").get("Antenna")
    return [("Resistor", "Antenna", hops if hops is not None and hops <= 7 else None)]


def _python_q23(edge_rows):
    sub = _sub_pairs(edge_rows)
    down: dict = {}
    for c, p in sub:
        down.setdefault(p, []).append(c)
    parents = {p for _, p in sub}
    depth = _bfs(down, "Thing")
    leaves = [(n, d) for n, d in depth.items() if n not in parents]
    return sorted(leaves, key=lambda t: (-t[1], t[0]))[:10]


# -- tests -------------------------------------------------------------------


@pytest.fixture(scope="module")
def cyclic(spark):
    nodes, edges = baseline_graph(spark, baseline.ONTOLOGY_HIERARCHY)
    learned = spark.createDataFrame(
        [(n, None, LEARNED, None, None, r) for n, r in LEARNED_NODES], NODE_SCHEMA)
    extra = spark.createDataFrame(
        [(a, r, b, LEARNED, "t") for a, r, b in EXTRA_EDGES], EDGE_SCHEMA)
    return nodes.unionByName(learned).cache(), edges.unionByName(extra).cache()


def test_cyclic_graph_every_view_matches_duckdb(spark, cyclic):
    nodes, edges = cyclic
    names = Q.create_qa_views(spark, nodes, edges)
    con = _duck(nodes, edges)
    duck = Q.qa_corpus_sql("duckdb")
    assert sorted(names) == sorted(duck) and len(names) == 29
    for name in names:
        got = _norm(spark.table(name).collect())
        want = _norm(con.execute(duck[name]).fetchall())
        assert got == want, name
    # the walks go round the cycles: Antenna is its own descendant
    assert "Antenna" in {r["name"] for r in spark.table("qa_q04_descendants").collect()}
    assert [tuple(r) for r in spark.table("qa_q06_multi_attribute").collect()] == [("phased array",)]
    assert {r["name"] for r in spark.table("qa_q24_orphans").collect()} == {"orphan a", "orphan b"}


def test_cyclic_graph_paths_match_python_bfs(spark, cyclic):
    nodes, edges = cyclic
    Q.create_qa_views(spark, nodes, edges)
    edge_rows = edges.collect()
    q13 = _norm(spark.table("qa_q13_taxonomic_path").collect())
    assert q13 == _python_q13(edge_rows)
    assert len(q13) == 2 and all(len(p) == 5 for (p,) in q13)  # both 4-hop routes
    assert _norm(spark.table("qa_q16_shortest_path").collect()) == _python_q16(edge_rows)
    assert [tuple(r) for r in spark.table("qa_q23_deepest").collect()] == _python_q23(edge_rows)


@pytest.mark.parametrize("limit", [None, "10"])
def test_cyclic_graph_corpus_has_no_errors(spark, cyclic, limit):
    """0 errors under the default recursion limit and under the lowered
    limit a recursion-limit probe sets."""
    key = "spark.sql.cteRecursionLevelLimit"
    old = spark.conf.get(key)
    nodes, edges = cyclic
    names = Q.create_qa_views(spark, nodes, edges)
    try:
        if limit is not None:
            spark.conf.set(key, limit)
        per = Q.evaluate_query_corpus(spark, names)
        assert Q.corpus_summary(per).collect()[0]["errors"] == 0
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("case", ["empty_edges", "beyond_seven_hops"])
def test_q16_unreachable_gives_one_null_row(spark, case):
    nodes, _ = baseline_graph(spark, baseline.ONTOLOGY_HIERARCHY)
    if case == "empty_edges":
        edges = spark.createDataFrame([], EDGE_SCHEMA)
    else:  # Resistor - x1 - ... - x7 - Antenna: 8 hops
        chain = ["Resistor"] + [f"x{i}" for i in range(1, 8)] + ["Antenna"]
        edges = spark.createDataFrame(
            [(a, "RELATEDTO", b, LEARNED, "t") for a, b in zip(chain, chain[1:])], EDGE_SCHEMA)
    Q.create_qa_views(spark, nodes, edges)
    want = [("Resistor", "Antenna", None)]
    assert _norm(spark.table("qa_q16_shortest_path").collect()) == want
    con = _duck(nodes, edges)
    assert _norm(con.execute(Q.qa_corpus_sql("duckdb")["qa_q16_shortest_path"]).fetchall()) == want
    assert _python_q16(edges.collect()) == want


def test_qa_reach_rejects_more_edges_than_the_driver_bfs_bound(spark):
    """All edges reach one partition, so qa_reach accepts at most
    graph_ops._DRIVER_BFS_MAX_EDGES rows and names the bound beyond it."""
    from ontology_learning_spark.operators import graph_ops

    nodes, edges = baseline_graph(spark, baseline.ONTOLOGY_HIERARCHY)
    Q.create_qa_views(spark, nodes, edges)
    n = graph_ops._DRIVER_BFS_MAX_EDGES + 1
    spark.range(n).selectExpr(
        "CAST(id AS STRING) AS src", "CAST(id + 1 AS STRING) AS dst"
    ).createOrReplaceTempView("reach_overflow")
    with pytest.raises(Exception, match="_DRIVER_BFS_MAX_EDGES"):
        spark.sql(
            "SELECT COUNT(*) FROM qa_reach(TABLE(reach_overflow) WITH SINGLE PARTITION, '0', 1)"
        ).collect()
    ok = spark.sql(
        "SELECT node, hops FROM qa_reach(TABLE(SELECT * FROM reach_overflow WHERE src < '2')"
        " WITH SINGLE PARTITION, '0', 2)"
    ).collect()
    assert sorted(tuple(r) for r in ok) == [("1", 1), ("2", 2)]  # edges 0->1, 1->2
