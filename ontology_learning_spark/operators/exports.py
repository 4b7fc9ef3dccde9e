"""S11/S13/A21: report + JSON-LD export and run-manifest lookups."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import ManifestLog


def export_jsonld(schema_objects: DataFrame, path: str) -> None:
    """S11: JSON-lines export of the @graph objects (json_ld column
    produced by enrich.schema_objects)."""
    schema_objects.select("json_ld").write.mode("overwrite").text(path)


def export_report(stats_row: dict, decisions_agg: dict, path: str) -> None:
    """S11: run-level integration report as a single JSON document."""
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    Path(path).write_text(json.dumps({**stats_row, **decisions_agg}, indent=1))


def latest_run(manifest_root: str) -> str | None:
    """A21: most recent committed run_id (max-by-ts over the commit
    log — replaces the reference's glob+ctime scan)."""
    entries = ManifestLog(manifest_root).entries()
    if not entries:
        return None
    return max(entries, key=lambda e: e["ts"])["run_id"]


def disjointness_violations(edges: DataFrame, disjoint_pairs: list[tuple[str, str]]) -> DataFrame:
    """A17 (deterministic stand-in for the OWL reasoner): nodes that are
    (transitive) subclasses of two disjoint families."""
    from . import graph_ops as G

    spark = edges.sparkSession
    frames = []
    for fam_a, fam_b in disjoint_pairs:
        da = G.descendants(edges, fam_a).select("name").withColumn("fam_a", F.lit(fam_a))
        db = G.descendants(edges, fam_b).select("name").withColumn("fam_b", F.lit(fam_b))
        frames.append(da.join(db, "name"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def subclass_cycles(edges: DataFrame) -> DataFrame:
    """A17 second axiom class: SUBCLASS_OF cycles (a taxonomy must be a
    DAG; any cycle makes every member class unsatisfiable under the
    reasoner).

    Exact membership — node ON a cycle ⟺ node ∈ Reach(node) — in two
    phases:

    1. **trim**: iteratively drop sinks (no outgoing edge within the
       remaining set), then sources. This removes the DAG bulk cheaply
       but OVER-approximates cycle membership: a node on a path
       connecting two distinct cycles (A→B→A, B→M, M→C, C→D→C) has
       in- and out-degree ≥ 1 and survives the peel without lying on
       any cycle.
    2. **exact closure on the surviving core**: the trimmed remainder
       is the anomalous cycle-connected region — tiny by construction
       in a taxonomy, where cycles are data bugs — so an iterative
       (src, dst) transitive-closure join is safe there; cycle nodes
       are exactly those with a (n, n) reachability pair. Each round
       joins the reachability set with itself (path doubling), so a
       cycle of length L closes in ⌈log2 L⌉ rounds.

    Both loops run until their edge count stops changing: the trim only
    removes edges and the closure only adds pairs of a finite node set,
    so each reaches its fixed point.
    """
    e = (
        edges.where(F.col("rel_type") == "SUBCLASS_OF")
        .select("src", "dst").distinct().localCheckpoint()
    )
    # Convergence checks track the edge count in Python: one count()
    # action per peel round (the previous round's count is remembered),
    # not a pruned-vs-current pair of jobs per round.
    n_edges = e.count()
    for out_col, in_col in (("src", "dst"), ("dst", "src")):
        while True:
            nodes_out = e.select(F.col(out_col).alias("n")).distinct()
            nodes_in = e.select(F.col(in_col).alias("n")).distinct()
            # keep only edges whose `in_col` endpoint still has an
            # outgoing/incoming edge (i.e. drop edges into peeled nodes)
            survivors = nodes_in.join(nodes_out, "n", "left_semi")
            pruned = e.join(
                survivors.withColumnRenamed("n", in_col), in_col, "left_semi"
            ).localCheckpoint()
            n_pruned = pruned.count()
            if n_pruned == n_edges:
                break
            e, n_edges = pruned, n_pruned
    # explicit column order: the trim's semi-join moves the join key
    # first, and a positional union against (src, dst)-ordered rows
    # would silently symmetrize the edge set (flagging every weakly-
    # connected node); unionByName guards the same trap.
    e = e.select("src", "dst")
    reach = e.localCheckpoint()
    n_reach = reach.count()
    while True:
        # paths up to length 2^k after k rounds: reach ∘ reach
        nxt = (
            reach.alias("r")
            .join(reach.alias("g"), F.col("r.dst") == F.col("g.src"))
            .select(F.col("r.src").alias("src"), F.col("g.dst").alias("dst"))
        )
        new_reach = reach.unionByName(nxt).distinct().localCheckpoint()
        n_new = new_reach.count()
        if n_new == n_reach:
            break
        reach, n_reach = new_reach, n_new
    return (
        reach.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("name"))
        .distinct()
    )


#: Non-taxonomic predicates whose endpoints must both be declared
#: classes and must not bridge two disjoint families (the deterministic
#: stand-in for OWL property domain/range + disjointness axioms).
DOMAIN_RANGE_PREDICATES = ("PARTOF", "RELATEDTO", "HASPROPERTY", "CONNECTEDTO")


def domain_range_violations(
    nodes: DataFrame,
    edges: DataFrame,
    disjoint_pairs: list[tuple[str, str]],
    predicates: tuple[str, ...] = DOMAIN_RANGE_PREDICATES,
) -> DataFrame:
    """A17 third axiom class: property domain/range checks for the
    non-taxonomic predicates (ref src/evaluation/consistency.py:13-108
    runs HermiT over the full OWL schema; this covers its
    domain/range + disjointness consequences deterministically).

    Two rules per edge with ``rel_type`` ∈ ``predicates``:
    - **dangling_endpoint**: both endpoints must exist in ``nodes``
      (every OWL property here has domain = range = the class
      hierarchy; an undeclared endpoint is unsatisfiable);
    - **disjoint_family_bridge**: PARTOF-style edges whose endpoints
      belong to two declared-disjoint families imply an individual in
      both families under the reasoner's property restrictions.
    """
    from . import graph_ops as G

    rel = edges.where(F.col("rel_type").isin(*predicates))
    known = nodes.select(F.col("name").alias("n")).distinct()

    dangling = (
        rel.join(known.withColumnRenamed("n", "src"), "src", "left_anti")
        .select(F.col("src").alias("subject"), "rel_type")
        .unionByName(
            rel.join(known.withColumnRenamed("n", "dst"), "dst", "left_anti")
            .select(F.col("dst").alias("subject"), "rel_type")
        )
        .distinct()
        .select(
            F.lit("dangling_endpoint").alias("issue_type"),
            "subject",
            F.concat(F.lit("undeclared endpoint of "), F.col("rel_type")).alias("detail"),
        )
    )

    fam_frames = []
    # disjointness is symmetric: check both edge orientations
    oriented = [(a, b) for a, b in disjoint_pairs] + [(b, a) for a, b in disjoint_pairs]
    for fam_a, fam_b in oriented:
        da = G.descendants(edges, fam_a).select(F.col("name").alias("src"))
        db = G.descendants(edges, fam_b).select(F.col("name").alias("dst"))
        bridge = (
            rel.join(da, "src", "left_semi").join(db, "dst", "left_semi")
            .select(
                F.lit("disjoint_family_bridge").alias("issue_type"),
                F.col("src").alias("subject"),
                F.concat_ws(
                    " ", F.col("rel_type"),
                    F.lit("into disjoint family:"),
                    F.lit(fam_a), F.lit("vs"), F.lit(fam_b),
                    F.lit("via"), F.col("dst"),
                ).alias("detail"),
            )
        )
        fam_frames.append(bridge)
    out = dangling
    for f in fam_frames:
        out = out.unionByName(f)
    return out.distinct()


#: Properties declared owl:FunctionalProperty (maxCardinality 1 on the
#: subject side) / owl:InverseFunctionalProperty (the object uniquely
#: identifies the subject) in the deterministic schema stand-in.
FUNCTIONAL_PREDICATES = ("MADEBY",)
INVERSE_FUNCTIONAL_PREDICATES = ("SERIALNO",)


def _multi_valued(rel: DataFrame, key_cols: list[str], other: str) -> DataFrame:
    """Rows of ``rel`` whose (key_cols) group carries ≥2 distinct
    ``other`` values — the only groups a cardinality/IFP axiom can
    touch. At corpus scale this prefilter keeps the pair self-join
    input proportional to the VIOLATING key count (near zero on sane
    data), not the edge count: one partial-agg shuffle on the key,
    then a semi-join."""
    keys = (
        rel.groupBy(*key_cols)
        .agg(F.count_distinct(F.col(other)).alias("_n"))
        .where(F.col("_n") >= 2)
        .drop("_n")
    )
    return rel.join(keys, key_cols, "left_semi")


def axiom_interaction_clashes(
    edges: DataFrame,
    disjoint_pairs: list[tuple[str, str]],
    functional_predicates: tuple[str, ...] = FUNCTIONAL_PREDICATES,
    inverse_functional_predicates: tuple[str, ...] = INVERSE_FUNCTIONAL_PREDICATES,
) -> DataFrame:
    """A17 fourth + fifth axiom classes — the axiom INTERACTIONS a
    reasoner derives, not bare cardinality counting (ref
    src/evaluation/consistency.py:13-108 gets these from HermiT).

    OWL has no unique-name assumption, so a functional property with
    two objects is NOT by itself inconsistent — the reasoner infers
    ``owl:sameAs`` between the objects (see :func:`inferred_same_as`).
    It becomes unsatisfiable exactly when the two objects are PROVABLY
    DISTINCT, which here means they sit under two declared-disjoint
    class families:

    - **functional_cardinality_clash**: subject s has ⟨s, p, o1⟩ and
      ⟨s, p, o2⟩ for functional p with o1/o2 under disjoint families —
      sameAs(o1, o2) forced by maxCard 1 contradicts the disjointness.
    - **ifp_distinct_subjects_clash**: object o is shared by ⟨s1, p, o⟩
      and ⟨s2, p, o⟩ for inverse-functional p with s1/s2 under disjoint
      families — sameAs(s1, s2) forced by the IFP contradicts it.

    Family membership = strict SUBCLASS_OF descendants (same rule the
    other A17 checks use). Pairs are emitted once (lexicographic order)
    and both disjointness orientations are checked against that one
    ordering, so output is deterministic."""
    from . import graph_ops as G

    def _pair_frames(rel: DataFrame, key: str, other: str) -> DataFrame:
        rel = _multi_valued(rel, [key, "rel_type"], other)
        left = rel.select(
            F.col(key).alias("_k"), "rel_type", F.col(other).alias("_a")
        )
        right = rel.select(
            F.col(key).alias("_k"), "rel_type", F.col(other).alias("_b")
        )
        return left.join(right, ["_k", "rel_type"]).where(F.col("_a") < F.col("_b"))

    rel_all = edges.select("src", "rel_type", "dst").distinct()
    fun = rel_all.where(F.col("rel_type").isin(*functional_predicates))
    ifp = rel_all.where(F.col("rel_type").isin(*inverse_functional_predicates))
    fun_pairs = _pair_frames(fun, "src", "dst")   # (_k=subject, _a/_b=objects)
    ifp_pairs = _pair_frames(ifp, "dst", "src")   # (_k=object, _a/_b=subjects)

    frames = []
    for fam_a, fam_b in disjoint_pairs:
        da = G.descendants(edges, fam_a).select(F.col("name").alias("_m"))
        db = G.descendants(edges, fam_b).select(F.col("name").alias("_m"))
        for x, y in ((da, db), (db, da)):
            hit_f = (
                fun_pairs
                .join(x.withColumnRenamed("_m", "_a"), "_a", "left_semi")
                .join(y.withColumnRenamed("_m", "_b"), "_b", "left_semi")
            )
            frames.append(hit_f.select(
                F.lit("functional_cardinality_clash").alias("issue_type"),
                F.col("_k").alias("subject"),
                F.concat_ws(
                    " ", F.col("rel_type"),
                    F.lit("maxCard-1 with provably-distinct objects:"),
                    F.col("_a"), F.lit("vs"), F.col("_b"),
                ).alias("detail"),
            ))
            hit_i = (
                ifp_pairs
                .join(x.withColumnRenamed("_m", "_a"), "_a", "left_semi")
                .join(y.withColumnRenamed("_m", "_b"), "_b", "left_semi")
            )
            frames.append(hit_i.select(
                F.lit("ifp_distinct_subjects_clash").alias("issue_type"),
                F.col("_a").alias("subject"),
                F.concat_ws(
                    " ", F.col("rel_type"),
                    F.lit("inverse-functional object"), F.col("_k"),
                    F.lit("shared by provably-distinct subjects:"),
                    F.col("_a"), F.lit("vs"), F.col("_b"),
                ).alias("detail"),
            ))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def inferred_same_as(
    edges: DataFrame,
    functional_predicates: tuple[str, ...] = FUNCTIONAL_PREDICATES,
    inverse_functional_predicates: tuple[str, ...] = INVERSE_FUNCTIONAL_PREDICATES,
) -> DataFrame:
    """The ``owl:sameAs`` pairs a reasoner DERIVES from the functional /
    inverse-functional axioms (lexicographic (a, b) plus the mediating
    predicate in ``via``). These are inferences, not violations — the
    subset whose members are provably distinct is what
    :func:`axiom_interaction_clashes` flags (on an inconsistent
    ontology a reasoner infers everything; callers wanting only the
    consistent merges should subtract the clash pairs). Feeds the same
    merge machinery as near-dup canonicalization (M13)."""
    rel_all = edges.select("src", "rel_type", "dst").distinct()

    def _pairs(rel: DataFrame, key: str, other: str) -> DataFrame:
        rel = _multi_valued(rel, [key, "rel_type"], other)
        l = rel.select(F.col(key).alias("_k"), "rel_type", F.col(other).alias("a"))
        r = rel.select(F.col(key).alias("_k"), "rel_type", F.col(other).alias("b"))
        return (
            l.join(r, ["_k", "rel_type"]).where(F.col("a") < F.col("b"))
            .select("a", "b", F.concat_ws(":", F.col("rel_type"), F.col("_k")).alias("via"))
        )

    fun = _pairs(rel_all.where(F.col("rel_type").isin(*functional_predicates)), "src", "dst")
    ifp = _pairs(rel_all.where(F.col("rel_type").isin(*inverse_functional_predicates)), "dst", "src")
    return fun.unionByName(ifp).distinct()


# OWL 2 property-characteristic axioms (AsymmetricObjectProperty /
# IrreflexiveObjectProperty — HermiT checks these structurally; ref
# src/evaluation/consistency.py:13-108 loads the schema that declares
# them). Part-whole and taxonomy predicates are asymmetric and
# irreflexive by the domain schema.
ASYMMETRIC_PREDICATES = ("SUBCLASS_OF", "HASPART", "PARTOF")
IRREFLEXIVE_PREDICATES = ("SUBCLASS_OF", "HASPART", "PARTOF")


def property_axiom_violations(edges: DataFrame) -> DataFrame:
    """A17 sixth/seventh axiom classes: P(a,b) ∧ P(b,a) for a declared
    asymmetric P (a≠b — self-loops report once, under irreflexivity),
    and P(a,a) for a declared irreflexive P. Both are single
    equi-self-joins/filters on the vocabulary-bounded edge set."""
    e = edges.select("src", "rel_type", "dst").distinct()
    l, r = e.alias("l"), e.alias("r")
    asym = (
        l.join(
            r,
            (F.col("l.rel_type") == F.col("r.rel_type"))
            & (F.col("l.src") == F.col("r.dst"))
            & (F.col("l.dst") == F.col("r.src")),
        )
        .where(F.col("l.rel_type").isin(list(ASYMMETRIC_PREDICATES)))
        .where(F.col("l.src") != F.col("l.dst"))
        .select(
            F.lit("asymmetric_property_violation").alias("issue_type"),
            F.col("l.src").alias("subject"),
            F.concat(F.col("l.rel_type"), F.lit(" both ways with "), F.col("l.dst")).alias("detail"),
        )
    )
    irr = e.where(
        F.col("rel_type").isin(list(IRREFLEXIVE_PREDICATES)) & (F.col("src") == F.col("dst"))
    ).select(
        F.lit("irreflexive_property_violation").alias("issue_type"),
        F.col("src").alias("subject"),
        F.concat(F.col("rel_type"), F.lit(" self-loop")).alias("detail"),
    )
    return asym.unionByName(irr).distinct()


def consistency_report(edges: DataFrame, disjoint_pairs: list[tuple[str, str]],
                       nodes: DataFrame | None = None) -> DataFrame:
    """A17 combined report (issue_type, subject, detail) — the
    deterministic analogue of the reference HermiT run
    (src/evaluation/consistency.py:13-108): empty = CONSISTENT.
    Covers seven axiom classes: class disjointness, SUBCLASS_OF
    acyclicity, property domain/range (only when a ``nodes`` table is
    supplied), the two axiom-interaction classes — functional
    maxCard-1 clashes and inverse-functional shared-object clashes
    (both disjointness-mediated; see
    :func:`axiom_interaction_clashes`) — and the two
    property-characteristic classes (asymmetry, irreflexivity; see
    :func:`property_axiom_violations`)."""
    dv = disjointness_violations(edges, disjoint_pairs).select(
        F.lit("disjoint_class_violation").alias("issue_type"),
        F.col("name").alias("subject"),
        F.concat_ws(" & ", "fam_a", "fam_b").alias("detail"),
    )
    cy = subclass_cycles(edges).select(
        F.lit("subclass_cycle").alias("issue_type"),
        F.col("name").alias("subject"),
        F.lit("member of a SUBCLASS_OF cycle").alias("detail"),
    )
    out = dv.unionByName(cy).unionByName(
        axiom_interaction_clashes(edges, disjoint_pairs)
    ).unionByName(property_axiom_violations(edges))
    if nodes is not None:
        out = out.unionByName(domain_range_violations(nodes, edges, disjoint_pairs))
    return out


# ---------------------------------------------------------------------------
# RDF serialization (S11 family): N-Triples for corpus-scale triple
# tables, Turtle for the vocabulary-bounded ontology graph.
#
# Reference parity: the reference exports JSON-LD schema objects
# (schema_org_relation_extractor → @graph) and stores the graph in
# Neo4j; N-Triples/Turtle are the interchange formats an OWL toolchain
# (the A17 consistency surface) actually consumes. No reference code
# involved — serialization follows the W3C N-Triples/Turtle grammars.
# ---------------------------------------------------------------------------

_NT_DEFAULT_BASE = "http://example.org/ontology#"


def _iri_term(col, base: str):
    """IRI term: percent-encode the local name (url_encode is form
    encoding, so its '+' for space is rewritten to '%20')."""
    enc = F.replace(F.url_encode(col), F.lit("+"), F.lit("%20"))
    return F.concat(F.lit(f"<{base}"), enc, F.lit(">"))


def _literal_term(col):
    """N-Triples string literal: escape backslash first, then quote,
    LF, CR, TAB (literal replaces — no regex engine in the hot path)."""
    esc = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit('"'), F.lit('\\"'))
    esc = F.replace(esc, F.lit("\n"), F.lit("\\n"))
    esc = F.replace(esc, F.lit("\r"), F.lit("\\r"))
    esc = F.replace(esc, F.lit("\t"), F.lit("\\t"))
    return F.concat(F.lit('"'), esc, F.lit('"'))


def ntriples_lines(
    edges: DataFrame,
    props: DataFrame | None = None,
    base_iri: str = _NT_DEFAULT_BASE,
) -> DataFrame:
    """One N-Triples line per edge (src/rel_type/dst as IRIs) and per
    property row (name/prop IRIs + escaped string literal). Pure
    Catalyst projection → line-oriented text: the export distributes
    and scales with the triple table, one output part per partition."""
    lines = edges.select(
        F.concat_ws(
            " ",
            _iri_term(F.col("src"), base_iri),
            _iri_term(F.col("rel_type"), base_iri),
            _iri_term(F.col("dst"), base_iri),
            F.lit("."),
        ).alias("value")
    )
    if props is not None:
        lines = lines.unionByName(
            props.select(
                F.concat_ws(
                    " ",
                    _iri_term(F.col("name"), base_iri),
                    _iri_term(F.col("prop"), base_iri),
                    _literal_term(F.col("value").cast("string")),
                    F.lit("."),
                ).alias("value")
            )
        )
    return lines


def export_ntriples(
    edges: DataFrame,
    path: str,
    props: DataFrame | None = None,
    base_iri: str = _NT_DEFAULT_BASE,
) -> None:
    """Distributed N-Triples export (part files are valid N-Triples
    documents individually — the format is line-delimited, so readers
    concatenate parts in any order)."""
    ntriples_lines(edges, props, base_iri).write.mode("overwrite").text(path)


def turtle_document(
    edges: DataFrame,
    props: DataFrame | None = None,
    prefix: str = "ont",
    base_iri: str = _NT_DEFAULT_BASE,
) -> str:
    """Single Turtle document for the ONTOLOGY graph — which is
    vocabulary-bounded (|V|+|E| ≪ corpus, the qa_views scale note), so
    a driver-side render is O(graph), never O(corpus). Predicates are
    grouped per subject with ';' continuation. For corpus-scale triple
    tables use export_ntriples instead."""
    import urllib.parse

    def t(name: str) -> str:
        return f"{prefix}:{urllib.parse.quote(str(name), safe='')}"

    def lit(v: str) -> str:
        s = (
            str(v)
            .replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\t", "\\t")
        )
        return f'"{s}"'

    by_subject: dict[str, list[str]] = {}
    for r in edges.select("src", "rel_type", "dst").collect():
        by_subject.setdefault(r["src"], []).append(f"{t(r['rel_type'])} {t(r['dst'])}")
    if props is not None:
        for r in props.select("name", "prop", "value").collect():
            by_subject.setdefault(r["name"], []).append(f"{t(r['prop'])} {lit(r['value'])}")
    out = [f"@prefix {prefix}: <{base_iri}> .", ""]
    for subj in sorted(by_subject):
        preds = sorted(by_subject[subj])
        out.append(f"{t(subj)} " + " ;\n    ".join(preds) + " .")
    return "\n".join(out) + "\n"


def graphml_document(
    nodes: DataFrame | None,
    edges: DataFrame,
) -> str:
    """GraphML document for the vocabulary-bounded ontology graph —
    the interchange format graph tools (Gephi/yEd/networkx) read,
    standing in for the reference's pyvis/matplotlib visualizers
    (knowledge_graph_visualizer.py) whose rendering layer is out of
    engine scope. Driver-side render is O(graph), same contract as
    :func:`turtle_document`; node attributes (source, needs_review)
    and the edge rel_type travel as GraphML keys. XML escaping via
    stdlib saxutils — hostile names round-trip (pytest parses the
    output back with ElementTree)."""
    from xml.sax.saxutils import escape, quoteattr

    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
        '<key id="source" for="node" attr.name="source" attr.type="string"/>',
        '<key id="needs_review" for="node" attr.name="needs_review" attr.type="boolean"/>',
        '<key id="rel_type" for="edge" attr.name="rel_type" attr.type="string"/>',
        '<graph id="ontology" edgedefault="directed">',
    ]
    declared = set()
    if nodes is not None:
        for r in nodes.select("name", "source", "needs_review").collect():
            declared.add(r["name"])
            out.append(
                f"<node id={quoteattr(str(r['name']))}>"
                f"<data key=\"source\">{escape(str(r['source'] or ''))}</data>"
                f"<data key=\"needs_review\">{str(bool(r['needs_review'])).lower()}</data>"
                "</node>"
            )
    edge_rows = edges.select("src", "rel_type", "dst").collect()
    for r in edge_rows:  # endpoints missing a node row still need declaring
        for n in (r["src"], r["dst"]):
            if n not in declared:
                declared.add(n)
                out.append(f"<node id={quoteattr(str(n))}/>")
    for i, r in enumerate(sorted(edge_rows)):
        out.append(
            f"<edge id=\"e{i}\" source={quoteattr(str(r['src']))} "
            f"target={quoteattr(str(r['dst']))}>"
            f"<data key=\"rel_type\">{escape(str(r['rel_type']))}</data></edge>"
        )
    out.extend(["</graph>", "</graphml>"])
    return "\n".join(out) + "\n"
