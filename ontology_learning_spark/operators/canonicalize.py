"""Canonicalization (SURVEY.md M13): connected components over alias
edges — a driver union-find for vocabulary-sized alias sets, an
iterative DataFrame min-label loop above that; no RDDs, no per-row
Python.

The reference's canonicalization is a single-hop sameAs mapping plus
MERGE-by-name idempotency; the north star requires the general case:
alias chains and hubs resolved to a canonical label via union-find
semantics. The distributed loop is min-label propagation: each round is
one labels-onto-edges join and one aggregation, and it runs to its
fixed point, which takes as many rounds as the graph's diameter.

Driver-side loop hygiene for scale: `localCheckpoint` every iteration
cuts the lineage chain (else the plan doubles per round), and
convergence is a `count()` of changed labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).where(F.col("src") != F.col("dst")).distinct()


# Edge count at or below which components come from one collected
# probe and a driver union-find; above it the distributed min-label loop
# runs. Read at call time, so a test can set it to 0 to run the loop.
_DRIVER_CC_MAX_EDGES = 200_000


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) edges → (node, component) where component = min node
    id (string ordering) in the node's connected component.

    Hybrid plan (``canonical_mapping`` makes the same choice): at most
    ``_DRIVER_CC_MAX_EDGES`` edges are collected by a bounded
    ``limit(k+1)`` probe and resolved with the exact driver union-find
    ``_uf_min_labels`` — identical min-label semantics, zero iterative
    rounds. Near-dup pair sets are typically orders of magnitude
    smaller than the corpus, and each distributed round costs 2
    exchanges + a checkpoint + a count job, which dominates wall time
    for small graphs (measured ~3 s of the 9.6 s dedup_clusters wall at
    50k docs for a 2.5k-pair graph). Above the cap, the distributed
    min-label propagation loop runs.

    Implementation (large path): iterated min-label propagation over
    the symmetric edge set (a simple, robustly correct variant of star
    contraction: each round every node adopts the min of its own label
    and its neighbours' labels). It runs until no label changes, which
    takes as many rounds as the graph's diameter; it always stops,
    because a label only ever decreases within a finite node set.
    """
    cap = _DRIVER_CC_MAX_EDGES
    e0 = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    probe = e0.limit(cap + 1).collect()
    if len(probe) <= cap:
        merged = _uf_min_labels([(r["src"], r["dst"]) for r in probe])
        ntype = edges.schema["src"].dataType.simpleString()
        # UTF-8 byte order == code-point order, so the Python min-label
        # matches Spark's string ordering exactly; numeric ids compare
        # identically too.
        return edges.sparkSession.createDataFrame(
            sorted(merged.items()), schema=f"node {ntype}, component {ntype}"
        )
    # Shuffle budget per round: the labels-onto-edges join exchanges
    # both sides plus one aggregation exchange. Pre-partitioning the
    # edge set to make the joins exchange-free does NOT survive in
    # current Spark: with AQE enabled the LogicalRDD a localCheckpoint
    # (or the InMemoryRelation a persist) leaves behind reports no
    # outputPartitioning, so every round re-exchanges regardless
    # (measured on 4.1; explicit-count repartition changes nothing).
    # What this loop owns instead: the convergence check is FUSED into
    # the label update below (a _changed flag on the frame we pin
    # anyway) — the old separate new-vs-old join cost a third join +
    # two more exchanges + an extra pass per round.
    e = _symmetrize(edges.select("src", "dst")).localCheckpoint()
    labels = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
    ).localCheckpoint()

    while True:
        # neighbour min-label: join labels onto edge dst, aggregate
        # min per src (the message exchange of label propagation)
        neigh = (
            e.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("neigh_min"))
            .withColumnRenamed("src", "node")
        )
        # Label update carries its own convergence flag: the old
        # per-round (new JOIN old ON node) changed-count shuffle is
        # replaced by a scan of the frame we just pinned anyway.
        new_labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("neigh_min"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("neigh_min"), F.col("component")) < F.col("component")
                 ).alias("_changed"),
            )
        ).localCheckpoint()

        changed = new_labels.where("_changed").count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels


def _uf_min_labels(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find returning min-label components (the exact
    semantics of ``connected_components``: component = min node id)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def incremental_components(components: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Fold a DELTA of new (src, dst) alias edges into an existing
    (node, component) mapping without re-running CC over the historical
    edge set — the daily-delta path at corpus scale, where the
    accumulated alias graph is 10^9+ edges but a batch touches a few
    thousand components.

    Equivalence (pytest-pinned): the result is identical to
    ``connected_components(old_edges ∪ new_edges)`` for any old edge set
    whose CC produced ``components``. Proof sketch: contracting each
    existing component to its label preserves connectivity (labels are
    component-unique), and min-label over the contracted merge equals
    min-label over the underlying nodes because every existing label IS
    the min of its component and new nodes enter as their own labels.

    Cost: one broadcast join of the delta endpoints onto the mapping,
    ``connected_components`` over the CONTRACTED component graph
    (≤ 2·|delta| nodes), then one broadcast-remap pass over the
    mapping. The full-mapping pass is the floor for producing the
    complete updated table; a partitioned sink would overwrite only
    the affected component partitions instead.
    """
    from ..functions.persistence import materialize

    # Pin the delta edges ONCE: endpoints, the contracted graph, and
    # the remap all consume this frame, and the caller's edge chain is
    # often expensive (e.g. an LSH verify) — unpinned, every action
    # below re-executes it (measured 15.1 s → 2.8 s of the 320k-doc
    # incremental-dedup fold).
    e = materialize(
        new_edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # delta-sized probe side broadcasts onto the big mapping (ONE scan
    # of components here); new nodes (no existing component) label
    # themselves. hits/misses are delta-sized from here on.
    hits = components.join(F.broadcast(nodes), "node").select("node", "component")
    hits = hits.localCheckpoint()
    misses = (
        nodes.join(F.broadcast(hits.select("node")), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    ).localCheckpoint()
    labeled = misses.unionByName(hits)

    lab_src = labeled.select(F.col("node").alias("src"), F.col("component").alias("_la"))
    lab_dst = labeled.select(F.col("node").alias("dst"), F.col("component").alias("_lb"))
    contracted = (
        e.join(F.broadcast(lab_src), "src")
        .join(F.broadcast(lab_dst), "dst")
        .select(F.col("_la").alias("src"), F.col("_lb").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # old label → merged label, for the labels the delta merged
    remap = (
        connected_components(contracted)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("component"), F.col("component").alias("_new"))
    )
    # new-node rows enter with their (possibly remapped) label
    return (
        components.unionByName(misses)
        .join(F.broadcast(remap), "component", "left")
        .select("node", F.coalesce("_new", "component").alias("component"))
    )


def canonical_mapping(alias_edges: DataFrame) -> DataFrame:
    """alias_edges(surface, alias_of) → (surface, canonical) resolving
    chains/hubs; canonical = the component's min sink (an ``alias_of``
    never seen as a ``surface``), else its min node.

    Hybrid plan: the alias set is vocabulary-sized, usually tiny
    relative to the corpus — at most ``_DRIVER_CC_MAX_EDGES`` edges are
    collected and resolved by the driver union-find ``_uf_min_labels``,
    skipping ~4 iterations x 3 shuffles of fixed overhead. Above it,
    the iterative min-label DataFrame loop runs distributed. Both paths
    pick the representative by the same sink rule.
    """
    # Self-edges out FIRST so both paths share one contract: a (x, x)
    # edge would wrongly demote x from sink status.
    alias_edges = alias_edges.where(F.col("surface") != F.col("alias_of"))
    # limit(k+1)+collect instead of count()+collect(): one job decides
    # the branch AND fetches the edges when small.
    cap = _DRIVER_CC_MAX_EDGES
    probe = alias_edges.limit(cap + 1).collect()
    if len(probe) <= cap:
        spark = alias_edges.sparkSession
        labels = _uf_min_labels([(r["surface"], r["alias_of"]) for r in probe])
        surfaces = {r["surface"] for r in probe}
        sink_rep: dict[str, str] = {}
        for node, comp in sorted(labels.items()):
            if node not in surfaces:
                sink_rep.setdefault(comp, node)
        mapping = sorted(
            (node, sink_rep.get(comp, comp)) for node, comp in labels.items()
            if node != sink_rep.get(comp, comp)
        )
        if not mapping:
            return spark.createDataFrame([], "surface string, canonical string")
        # pandas + Arrow, not a plain Python list: local-list
        # createDataFrame builds a pickled RDD whose first scan
        # cold-starts a Python worker on the critical path; the Arrow
        # path converts JVM-side (same reasoning as prepare_catalog).
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(mapping, columns=["surface", "canonical"]),
            schema="surface string, canonical string",
        )

    edges = alias_edges.select(
        F.col("surface").alias("src"), F.col("alias_of").alias("dst")
    )
    cc = connected_components(edges)
    # Representative: prefer a node that never appears as a 'surface'
    # (i.e. a true canonical), else the min label. alias targets =
    # dst-side nodes minus src-side nodes.
    surfaces = alias_edges.select(F.col("surface").alias("node")).distinct()
    sinks = (
        alias_edges.select(F.col("alias_of").alias("node")).distinct()
        .join(surfaces, "node", "left_anti")
        .withColumn("is_sink", F.lit(True))
    )
    rep = (
        cc.join(sinks, "node", "left")
        .groupBy("component")
        .agg(
            F.min(F.when(F.col("is_sink"), F.col("node"))).alias("sink_rep"),
            F.min("node").alias("min_rep"),
        )
        .select("component", F.coalesce("sink_rep", "min_rep").alias("canonical"))
    )
    return (
        cc.join(rep, "component")
        .select(F.col("node").alias("surface"), "canonical")
        .where(F.col("surface") != F.col("canonical"))
    )


def apply_canonicalization(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (broadcast if the
    mapping is small — typical, since it's vocabulary-sized)."""
    m = F.broadcast(mapping)
    out = (
        triples.join(m.withColumnRenamed("surface", "subj"), "subj", "left")
        .withColumn("subj", F.coalesce("canonical", "subj"))
        .drop("canonical")
        .join(m.withColumnRenamed("surface", "obj"), "obj", "left")
        .withColumn("obj", F.coalesce("canonical", "obj"))
        .drop("canonical")
    )
    return out.where(F.col("subj") != F.col("obj")).dropDuplicates(["subj", "pred", "obj"])
