"""The three benchmark workloads, run inside one worker process.

    build   repeated full KG builds of one generated corpus
    ingest  small delta files folded, one at a time, into a base graph
    query   a fixed mix of read ops over a graph built in set-up

All are closed loops with one client. Usage (normally via run.py):

    python3 perfbench/workloads.py --workload build --seed 1 --seconds 15 \
        --trace 0 --work <dir> --out <dir>

Writes ``<work>/result.json``: the contract line, a report of every
metric by name and unit, and the run's environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import oracle  # noqa: E402
from stats import (OpLog, layer_values, median, near_dup_pairs_match,  # noqa: E402
                   normalize_rows, percentile, precision_recall, rows_match)
from spans import SPARK_COUNTERS, Tracer, caller_layer  # noqa: E402
from run import session_stats  # noqa: E402

# Input sizes. Small enough that set-up plus a measured run fit the
# per-run time budget on a 4-core host; the corpus generator's
# per-document mix (entity mentions, relations, media spans) is the
# same at every size.
SIZES = {
    "build": {"docs": 600, "warm_docs": 150},
    "ingest": {"base_docs": 600, "delta_docs": 6, "deltas_per_cycle": 3},
    # corpus-op tables: sf0.1's vector count and 40% of its documents
    "query": {"graph_docs": 600, "text_docs": 2000, "vectors": 2000},
}
SETUP_REPS = 3
# The query mix asks each light QA view this many times per pass, and
# every heavy op once: 48 ops, so at least 10 samples lie beyond p75, and
# the heavy tail (q16, the graph walks, four corpus ops: 8 ops) stays
# well under a quarter of the mix, so p75 falls among the views rather
# than on the gap above them.
VIEW_WEIGHT = 2
# a view that takes seconds per execution (a recursive shortest-path
# walk), like the corpus ops: asked once per pass
HEAVY_VIEWS = ("qa_q16_shortest_path",)

# Views whose UNION ALL recursive CTE walks SUBCLASS_OF, which extraction
# makes cyclic: a walk that reaches a cycle never reaches a fixpoint and
# ends in Spark's recursion limit (7-8 of the 8 on these corpora). They
# are left out of the timed mix, so every op the mix times can succeed,
# and the traced run probes each once.
DIVERGENT_VIEWS = (
    "qa_q04_descendants", "qa_q11_leaves_under", "qa_q13_taxonomic_path",
    "qa_q17_bridges", "qa_q20_family_counts", "qa_q23_deepest",
    "qa_q24_orphans", "qa_q26_review_hotspots",
)
CORPUS_OPS = {
    "minhash_near_dups": "operators.dedup",
    "dedup_clusters": "operators.dedup",
    "emb_topk": "operators.simsearch",
    "emb_pq_topk": "operators.simsearch",
}
GRAPH_OPS = ("descendants", "ancestors", "shortest_path")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def make_session(work: Path, trace: bool):
    from ontology_learning_spark.session import build_session

    n = cpu_count()
    for d in ("spark-local", "tmp", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="perfbench", master=f"local[{n}]",
                          shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pinned_mb(spark) -> float:
    """Storage memory + disk held by persisted / checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def write_docs(spark, rows: list[dict], path: Path, parts: int):
    from ontology_learning_spark.fixtures.generator import DOCUMENT_SCHEMA

    (spark.createDataFrame(rows, DOCUMENT_SCHEMA).repartition(parts)
     .write.mode("overwrite").parquet(str(path)))
    return spark.read.parquet(str(path))


def build_graph(spark, tracer: Tracer, docs, catalog, root: Path, run_id: str):
    """One full build: pipeline, stage tables, merged graph tables."""
    from ontology_learning_spark.fixtures import baseline
    from ontology_learning_spark.plans import pipeline as P
    from ontology_learning_spark.sources import tables as TBL

    res = P.run_pipeline(spark, docs, catalog_df=catalog)
    store = TBL.StageStore(spark, str(root), run_id)
    with tracer.span("sources.tables.triples_write"):
        triples = store.materialize_by_partition("triples", lambda: res.triples, "pred")
    with tracer.span("sources.tables.stage_write"):
        tasks = store.materialize("tasks", lambda: res.tasks)
        store.materialize("mappings", lambda: res.mappings)
        store.materialize("decisions", lambda: res.decisions)
    with tracer.span("sources.tables.graph_write"):
        bn, be = TBL.baseline_graph(spark, baseline.ONTOLOGY_HIERARCHY)
        merged_n, merged_e = TBL.merge_graph(bn, be, tasks, triples, run_id)
        nodes = store.materialize("nodes", lambda: merged_n)
        edges = store.materialize("edges", lambda: merged_e, partition_by=["rel_type"])
    return res, triples, nodes, edges


def triple_set(triples) -> set[tuple[str, str, str]]:
    return {(r[0], r[1], r[2]) for r in triples.select("subj", "pred", "obj").collect()}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, work: Path, seed: int, trace: bool):
        self.spark, self.tracer, self.work, self.seed, self.trace = spark, tracer, work, seed, trace
        self.n = cpu_count()
        self.sizes = SIZES[self.name]
        self.log = OpLog()
        self.cpu: list[float] = []  # process-tree CPU seconds per op
        self.layer: dict[str, list[float]] = defaultdict(list)  # per-op layer values
        self.report: dict[str, tuple[float, str]] = {}

    def setup_once(self) -> None:
        """Set-up too costly to repeat: a first build or fold, which also
        warms the engine (JIT, Python workers) before anything is timed."""

    def setup_state(self, rep: int) -> None:
        """Set-up repeated ``SETUP_REPS`` times; set-up time takes the median."""

    def before_op(self, i: int) -> None:
        """Untimed work between ops (state resets)."""

    def new_unit(self) -> None:
        """Make the next op the first of a unit."""

    def op(self, i: int):
        """The timed op; returns (label, latency_s or None, payload).
        A None latency means the wall time of the call is the latency."""
        raise NotImplementedError

    def after_op(self, i: int, label: str, payload) -> None:
        """Untimed per-op bookkeeping (collecting outputs for the oracle)."""

    def must_continue(self) -> bool:
        """True while the op unit in progress is unfinished: a run
        measures whole units, so every run weighs the same work."""
        return False

    def traced_ops(self) -> int:
        """Ops the traced phase of a traced run measures, from the start of
        a unit: enough to see every layer once."""
        raise NotImplementedError

    def check(self) -> None:
        """Oracle comparison after the timed loop; marks failures."""


class Build(Workload):
    name = "build"

    def setup_once(self) -> None:
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.fixtures.generator import generate_documents
        from ontology_learning_spark.operators import linking as L

        rows = generate_documents(n_docs=self.sizes["warm_docs"], seed=self.seed + 7919)
        docs = write_docs(self.spark, rows, self.work / "warm-docs", self.n)
        catalog = L.prepare_catalog(self.spark, baseline.entity_catalog()).cache()
        build_graph(self.spark, self.tracer, docs, catalog, self.work / "warm", "warm")
        catalog.unpersist()
        shutil.rmtree(self.work / "warm", ignore_errors=True)

    def setup_state(self, rep: int) -> None:
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.fixtures.generator import generate_documents
        from ontology_learning_spark.operators import linking as L

        if rep:
            self.catalog.unpersist()
        self.rows = generate_documents(n_docs=self.sizes["docs"], seed=self.seed)
        self.docs = write_docs(self.spark, self.rows, self.work / f"docs-{rep}", self.n)
        self.catalog = L.prepare_catalog(self.spark, baseline.entity_catalog()).cache()
        self.catalog.write.format("noop").mode("overwrite").save()
        self.triple_sets: list[set] = []
        self.pinned: list[float] = []

    def traced_ops(self) -> int:
        return 1

    def op(self, i: int):
        # a fresh store root and run id per build: a reused one would make
        # StageStore.materialize return the committed stage (a resume)
        out = build_graph(self.spark, self.tracer, self.docs, self.catalog,
                          self.work / f"b{i}", f"build-{i}")
        return "build", None, out

    def after_op(self, i: int, label: str, payload) -> None:
        res, triples, nodes, edges = payload
        self.triple_sets.append(triple_set(triples))
        self.pinned.append(pinned_mb(self.spark))
        if self.trace and self.tracer.enabled:
            self.layer["operators.extraction.mentions"].append(res.mentions.count())
            self.layer["operators.linking.concepts"].append(res.concepts.count())
            self.layer["operators.linking.offers"].append(res.matches.count())
            self.layer["sources.tables.nodes"].append(nodes.count())
            self.layer["sources.tables.edges"].append(edges.count())
            for alias in self.tracer.captures.pop("alias_edges", []):
                self.layer["operators.canonicalize.alias_edges"].append(alias.count())
        self.layer["functions.persistence.pinned_mb"].append(self.pinned[-1])
        shutil.rmtree(self.work / f"b{i}", ignore_errors=True)

    def check(self) -> None:
        from ontology_learning_spark.oracle import reference

        want = reference.run(self.rows)["triples"]
        precisions, recalls = [], []
        for k, got in enumerate(self.triple_sets):
            p, r = precision_recall(got, want)
            precisions.append(p)
            recalls.append(r)
            if got != want:
                self.log.fail_unchecked(1, f"build {k}: triple set differs from oracle.reference.run")
        n_docs = self.sizes["docs"]
        lat = self.log.latencies
        self.report.update({
            "build_s": (median(lat), "s"),
            "docs_per_s": (n_docs / median(lat), "docs/s"),
            "triple_precision": (min(precisions), "ratio"),
            "triple_recall": (min(recalls), "ratio"),
            "corpus_docs": (n_docs, "docs"),
            "triples": (len(want), "count"),
            "pinned_mb_after_each_build": (self.pinned, "MB"),
        })


class Ingest(Workload):
    name = "ingest"

    def _paths(self):
        live = self.work / "live"
        return live, live / "in", live / "graph", live / "ckpt", live / "mentions", live / "manifest.json"

    def setup_once(self) -> None:
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.fixtures.generator import generate_documents
        from ontology_learning_spark.streaming import incremental as INC

        s = self.sizes
        n_delta = s["delta_docs"] * s["deltas_per_cycle"]
        rows = generate_documents(n_docs=s["base_docs"] + n_delta, seed=self.seed)
        self.base_rows = rows[: s["base_docs"]]
        self.delta_rows = [
            rows[s["base_docs"] + k * s["delta_docs"]: s["base_docs"] + (k + 1) * s["delta_docs"]]
            for k in range(s["deltas_per_cycle"])
        ]
        self.surfaces = tuple(sorted({r["name"].lower() for r in baseline.entity_catalog()}))
        live, in_dir, graph, ckpt, mout, manifest = self._paths()
        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(self.work / "staging", ignore_errors=True)
        in_dir.mkdir(parents=True)
        staging = self.work / "staging"
        write_docs(self.spark, self.base_rows, staging / "base", self.n)
        for k, f in enumerate(sorted((staging / "base").glob("part-*.parquet"))):
            shutil.move(str(f), in_dir / f"base-{k:02d}.parquet")
        for k, drows in enumerate(self.delta_rows):
            write_docs(self.spark, drows, staging / f"d{k}", 1)
            (part,) = (staging / f"d{k}").glob("part-*.parquet")
            shutil.move(str(part), staging / f"delta-{k}.parquet")
        INC.run_incremental_triples(self.spark, str(in_dir), str(graph), str(ckpt), self.surfaces)
        INC.run_incremental_batch(self.spark, str(in_dir), str(mout), str(manifest), self.surfaces)
        INC.fold_graph(self.spark, str(graph), baseline.ONTOLOGY_HIERARCHY)
        # every cycle of deltas starts from a copy of this state
        shutil.copytree(live, self.work / "base-state")

    def setup_state(self, rep: int) -> None:
        live = self._paths()[0]
        shutil.rmtree(live)
        shutil.copytree(self.work / "base-state", live)
        self.cycle_pos = 0
        self.fresh = True

    def before_op(self, i: int) -> None:
        if self.cycle_pos == 0 and not self.fresh:
            live = self._paths()[0]
            shutil.rmtree(live)
            shutil.copytree(self.work / "base-state", live)
        self.fresh = False

    def op(self, i: int):
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.streaming import incremental as INC

        live, in_dir, graph, ckpt, mout, manifest = self._paths()
        k = self.cycle_pos
        self.cycle_pos = (k + 1) % self.sizes["deltas_per_cycle"]
        src = self.work / "staging" / f"delta-{k}.parquet"
        tmp = in_dir / ".landing"
        shutil.copy(src, tmp)
        t0 = time.time()
        os.rename(tmp, in_dir / f"delta-{k}.parquet")  # the file lands
        with self.tracer.span("streaming.incremental.triples_trigger"):
            INC.run_incremental_triples(self.spark, str(in_dir), str(graph), str(ckpt), self.surfaces)
        with self.tracer.span("streaming.incremental.mentions_batch"):
            INC.run_incremental_batch(self.spark, str(in_dir), str(mout), str(manifest), self.surfaces)
        with self.tracer.span("streaming.incremental.fold_graph"):
            nodes, edges = INC.fold_graph(self.spark, str(graph), baseline.ONTOLOGY_HIERARCHY)
            edges.write.format("noop").mode("overwrite").save()  # readable
        latency = time.time() - t0
        return "delta", latency, (nodes, edges)

    def after_op(self, i: int, label: str, payload) -> None:
        self.last_graph = payload
        graph = self._paths()[2]
        self.layer["streaming.incremental.batches_folded"].append(
            len(list((graph / "triples").glob("batch_id=*"))))

    def must_continue(self) -> bool:
        return self.cycle_pos != 0  # whole cycles of deltas

    def traced_ops(self) -> int:
        return self.sizes["deltas_per_cycle"]

    def check(self) -> None:
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.fixtures.generator import DOCUMENT_SCHEMA
        from ontology_learning_spark.operators import extraction as E
        from ontology_learning_spark.sources.tables import baseline_graph, merge_graph

        spark = self.spark
        rows = self.base_rows + [r for d in self.delta_rows for r in d]
        all_docs = spark.createDataFrame(rows, DOCUMENT_SCHEMA)
        mentions, doc_triples, _ = E.extract_pipeline(all_docs, self.surfaces, pin=False)
        bn, be = baseline_graph(spark, baseline.ONTOLOGY_HIERARCHY)
        empty = spark.createDataFrame([], "name string, parent_class string, status string")
        want_n, want_e = merge_graph(bn, be, empty, doc_triples.select("subj", "pred", "obj").distinct(),
                                     run_id="batch")
        got_n, got_e = self.last_graph
        edge_cols = ["src", "rel_type", "dst", "source"]
        ok_graph = (normalize_rows(got_n.collect()) == normalize_rows(want_n.collect())
                    and normalize_rows(got_e.select(*edge_cols).collect())
                    == normalize_rows(want_e.select(*edge_cols).collect()))
        mcols = mentions.columns
        got_m = spark.read.parquet(str(self._paths()[4])).select(*mcols)
        ok_mentions = normalize_rows(got_m.collect()) == normalize_rows(mentions.collect())
        if not (ok_graph and ok_mentions):
            self.log.fail_unchecked(self.sizes["deltas_per_cycle"],
                                    f"final cycle: graph ok={ok_graph}, mentions ok={ok_mentions}")
        lat = self.log.latencies
        self.report.update({
            "delta_latency_p50_s": (median(lat), "s"),
            "delta_docs_per_s": (self.sizes["delta_docs"] * len(lat) / sum(lat), "docs/s"),
            "base_docs": (self.sizes["base_docs"], "docs"),
            "delta_docs": (self.sizes["delta_docs"], "docs"),
        })


class Query(Workload):
    name = "query"

    def setup_once(self) -> None:
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.fixtures.generator import generate_documents
        from ontology_learning_spark.operators import linking as L

        rows = generate_documents(n_docs=self.sizes["graph_docs"], seed=self.seed)
        docs = write_docs(self.spark, rows, self.work / "docs", self.n)
        catalog = L.prepare_catalog(self.spark, baseline.entity_catalog()).cache()
        _, _, self.nodes, self.edges = build_graph(
            self.spark, self.tracer, docs, catalog, self.work / "graph", "graph")

    def setup_state(self, rep: int) -> None:
        from ontology_learning_spark.operators import qa_views

        import inputs

        s, spark, nodes, edges = self.sizes, self.spark, self.nodes, self.edges
        self.view_names = qa_views.create_qa_views(spark, nodes, edges)
        self.sf_dir = self.work / f"sf-{rep}"
        inputs.write_corpus_tables(self.sf_dir, s["text_docs"], s["vectors"], self.seed)
        import __spark_entry__ as entry

        self.entry_queries = {**entry.queries(), **entry.extra_queries()}
        views = [v for v in self.view_names if v not in DIVERGENT_VIEWS]
        light = [v for v in views if v not in HEAVY_VIEWS]
        self.mix = views + list(GRAPH_OPS) + list(CORPUS_OPS) + light * (VIEW_WEIGHT - 1)
        self.order: list[str] = []
        self.results: dict[str, list] = defaultdict(list)

    def _run(self, label: str):
        from ontology_learning_spark.operators import graph_ops as G

        if label.startswith("qa_q"):
            return self.spark.table(label).collect()
        if label == "descendants":
            return G.descendants(self.edges, "ElectronicComponent").collect()
        if label == "ancestors":
            return G.ancestors(self.edges, "FPCAntenna").collect()
        if label == "shortest_path":
            return [(G.shortest_path_length(self.edges, "Resistor", "Antenna"),)]
        return self.entry_queries[label](self.spark, str(self.sf_dir)).collect()

    def op(self, i: int):
        if not self.order:
            # a new pass over the whole mix, in the same order every run:
            # an op's first execution pays for plan compilation that an
            # earlier op may share, so a seed-dependent order would move
            # latencies with the order rather than with the system
            self.order = list(reversed(self.mix))
        label = self.order.pop()
        with self.tracer.span(self.layer_of(label) + "." + label):
            rows = self._run(label)
        return label, None, rows

    def new_unit(self) -> None:
        self.order = []

    def must_continue(self) -> bool:
        return bool(self.order)  # whole passes over the mix

    def traced_ops(self) -> int:
        return len(set(self.mix))  # the head of a pass: each distinct op once

    @staticmethod
    def layer_of(label: str) -> str:
        if label.startswith("qa_q"):
            return "operators.qa_views"
        if label in GRAPH_OPS:
            return "operators.graph_ops"
        return CORPUS_OPS[label]

    def after_op(self, i: int, label: str, payload) -> None:
        self.results[label].append(normalize_rows(payload))
        for cands, verified in self.tracer.captures.pop("verify", []):
            n_c = cands.count()
            self.layer["operators.dedup.verify_yield"].append(verified.count() / n_c if n_c else 0.0)

    def oracle_rows(self, labels: set[str]) -> dict[str, list | None]:
        from ontology_learning_spark.operators import qa_views

        import __spark_entry__ as entry

        qwork = self.work / "oracle"
        qwork.mkdir(exist_ok=True)
        self.nodes.write.parquet(str(qwork / "ont_nodes"))
        self.edges.write.parquet(str(qwork / "ont_edges"))
        duck_sql = qa_views.qa_corpus_sql("duckdb")
        corpus_sql = entry.oracle_sql()
        queries = {l: duck_sql[l] for l in labels if l.startswith("qa_q")}
        queries.update({l: corpus_sql[l] for l in labels if l in ("emb_topk", "emb_pq_topk")})
        spec = {
            "tables": {
                "ont_nodes": str(qwork / "ont_nodes" / "*.parquet"),
                "ont_edges": str(qwork / "ont_edges" / "*.parquet"),
                "documents": str(self.sf_dir / "documents.parquet"),
                "embeddings": str(self.sf_dir / "embeddings.parquet"),
            },
            "queries": queries,
            "tmp": str(qwork),
        }
        want = oracle.duckdb_rows(spec, qwork, per_query_s=20.0)
        import pyarrow.parquet as pq

        docs = pq.read_table(self.sf_dir / "documents.parquet", columns=["doc_id", "text"]).to_pylist()
        pairs = oracle.jaccard_pairs([(d["doc_id"], d["text"]) for d in docs])
        want["minhash_near_dups"] = pairs
        want["dedup_clusters"] = oracle.near_dup_clusters(pairs)
        edges = [(r[0], r[1], r[2]) for r in self.edges.select("src", "rel_type", "dst").collect()]
        want["descendants"] = oracle.bfs_descendants(edges, "ElectronicComponent")
        want["ancestors"] = oracle.bfs_ancestors(edges, "FPCAntenna")
        want["shortest_path"] = [(oracle.bfs_shortest_path(edges, "Resistor", "Antenna"),)]
        return {k: v for k, v in want.items() if k in labels}

    def check(self) -> None:
        want = self.oracle_rows(set(self.results))
        exact_pairs = normalize_rows(want.get("minhash_near_dups") or [])
        # dedup_clusters runs the same LSH pair pipeline as
        # minhash_near_dups on the same documents, so its clusters are
        # the components of the pairs that op found (where they pass)
        found_pairs = [got for got in self.results.get("minhash_near_dups", [])
                       if near_dup_pairs_match(got, exact_pairs, oracle.SURE_JACCARD)]
        cluster_refs = [normalize_rows(oracle.near_dup_clusters(p))
                        for p in found_pairs or [exact_pairs]]
        for label, runs in self.results.items():
            ref = want.get(label)
            expected = normalize_rows(ref) if ref is not None else None
            for got in runs:
                if label == "minhash_near_dups":
                    ok = near_dup_pairs_match(got, exact_pairs, oracle.SURE_JACCARD)
                elif label == "dedup_clusters":
                    ok = any(rows_match(got, c) for c in cluster_refs)
                else:
                    ok = expected is not None and rows_match(got, expected)
                if not ok:
                    why = "oracle did not finish" if expected is None else "rows differ from oracle"
                    self.log.fail_unchecked(1, f"{label}: {why}")
        self.report["ops_in_mix"] = (len(self.mix), "count")

    def divergent_probe(self) -> None:
        """Traced run only: attempt each divergent view once and count
        the failures (time to finish or fail is their latency). The
        recursion level limit is lowered for the probe so a walk that
        never ends fails in seconds instead of at the row limit; the
        graph's hierarchy is far shallower than the lowered limit (the
        baseline ontology is 5 levels deep)."""
        key = "spark.sql.cteRecursionLevelLimit"
        old = self.spark.conf.get(key)
        self.spark.conf.set(key, "10")
        errors = 0
        try:
            for v in DIVERGENT_VIEWS:
                t0 = time.time()
                try:
                    self.spark.table(v).collect()
                except Exception:  # noqa: BLE001 - any engine error is the finding
                    errors += 1
                self.layer[f"operators.qa_views.{v}.p50_s"].append(time.time() - t0)
        finally:
            self.spark.conf.set(key, old)
        self.layer["operators.qa_views.errors"].append(errors)


WORKLOADS = {w.name: w for w in (Build, Ingest, Query)}


# ---------------------------------------------------------------------------
# tracing hooks
# ---------------------------------------------------------------------------


def install_tracing(tr: Tracer) -> None:
    """Wrap the module attributes each layer's caller looks up."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ontology_learning_spark.functions import persistence
    from ontology_learning_spark.operators import canonicalize, dedup, extraction
    from ontology_learning_spark.plans import pipeline
    from ontology_learning_spark.sources import tables

    def count_mat(a, k, r):
        tr.count("functions.persistence.materialize_calls")

    tr.wrap(pipeline, "run_pipeline", "plans.pipeline.run_pipeline")
    tr.wrap(extraction, "materialize", lambda a, k: tr.leg_or("operators.extraction.busy"), count_mat)
    tr.wrap(pipeline, "materialize", lambda a, k: tr.leg_or(
        "operators.extraction.mentions_pin" if k.get("corpus_scale") else "operators.decisions.decide"),
        count_mat)
    # callers that import materialize at call time (dedup, enrich, fold_graph, …)
    tr.wrap(persistence, "materialize", lambda a, k: tr.leg_or(caller_layer(3) + ".materialize"),
            count_mat)

    tr.wrap(canonicalize, "canonical_mapping", "operators.canonicalize.canon",
            lambda a, k, r: tr.captures["alias_edges"].append(a[0] if a else k["alias_edges"]))
    tr.wrap(tables, "merge_graph", "sources.tables.merge_graph",
            lambda a, k, r: tr.count("sources.tables.merge_graph_calls"))
    tr.wrap(dedup, "jaccard_verify", "operators.dedup.jaccard_verify",
            lambda a, k, r: tr.captures["verify"].append((a[0] if a else k["candidates"], r)))
    # a count, not a span: the write is part of its caller's layer time
    tr.wrap(DataFrameWriter, "parquet", None, lambda a, k, r: tr.count("sources.tables.write_jobs"))


# span name → per-layer self-time metric
SPAN_METRICS = {
    "operators.extraction.busy": "operators.extraction.busy_s",
    "operators.extraction.mentions_pin": "operators.extraction.mentions_pin_s",
    "operators.linking.offers_leg": "operators.linking.offers_leg_s",
    "operators.enrich.tech_leg": "operators.enrich.tech_leg_s",
    "operators.extraction.triples_leg": "operators.extraction.triples_leg_s",
    "operators.decisions.decide": "operators.decisions.decide_s",
    "operators.canonicalize.canon": "operators.canonicalize.canon_s",
    "sources.tables.triples_write": "sources.tables.triples_write_s",
    "sources.tables.stage_write": "sources.tables.stage_write_s",
    "sources.tables.graph_write": "sources.tables.graph_write_s",
    "streaming.incremental.triples_trigger": "streaming.incremental.triples_trigger_s",
    "streaming.incremental.mentions_batch": "streaming.incremental.mentions_batch_s",
    "streaming.incremental.fold_graph": "streaming.incremental.fold_graph_s",
    # fold_graph pins every fold step through functions.persistence
    "streaming.incremental.materialize": "streaming.incremental.fold_graph_s",
}
def legs_wait(tr: Tracer) -> dict[int, float]:
    """op → seconds from the mentions pin's end to the last leg's end."""
    out = {}
    by_op: dict[int, list[dict]] = defaultdict(list)
    for s in tr.spans:
        by_op[s["op"]].append(s)
    legs = {"operators.linking.offers_leg", "operators.enrich.tech_leg",
            "operators.extraction.triples_leg"}
    for op, spans in by_op.items():
        pin = [s["end"] for s in spans if s["name"] == "operators.extraction.mentions_pin"]
        ends = [s["end"] for s in spans if s["name"] in legs]
        if pin and ends:
            out[op] = max(ends) - max(pin)
    return out


BUILD_LAYERS = [
    *(m for m in SPAN_METRICS.values() if not m.startswith("streaming.")),
    "plans.pipeline.legs_wait_s",
    "sources.tables.write_jobs", "functions.persistence.materialize_calls",
    "operators.extraction.mentions", "operators.linking.concepts", "operators.linking.offers",
    "operators.canonicalize.alias_edges", "sources.tables.nodes", "sources.tables.edges",
    "functions.persistence.pinned_mb",
]
INGEST_LAYERS = [
    "streaming.incremental.triples_trigger_s", "streaming.incremental.mentions_batch_s",
    "streaming.incremental.fold_graph_s", "streaming.incremental.batches_folded",
    "sources.tables.merge_graph_calls",  # per delta: fold_graph re-merges every batch
]
COMMON_LAYERS = [f"spark.{c}" for c in SPARK_COUNTERS] + ["trace.latency_p50_s", "trace.overhead_s"]
INGEST_OP_BASE = 10_000  # op ids of the deltas a traced build run folds


def query_layers() -> list[str]:
    from ontology_learning_spark.operators import qa_views

    names = [f"operators.qa_views.{v}.p50_s" for v in qa_views.qa_corpus_sql("spark")]
    names += ["operators.qa_views.errors"]
    names += [f"operators.graph_ops.{g}.p50_s" for g in GRAPH_OPS]
    names += [f"{layer}.{op}.p50_s" for op, layer in CORPUS_OPS.items()]
    return names + ["operators.dedup.verify_yield"]


def layers_of(workload: str) -> list[str]:
    """The per-layer metrics a traced run of ``workload`` must measure; a
    traced ``build`` run also folds one cycle of ingest deltas, so it
    measures the streaming layers too. The others read 0.0 in its line."""
    own = {"build": BUILD_LAYERS + INGEST_LAYERS, "ingest": INGEST_LAYERS,
           "query": query_layers()}[workload]
    return own + COMMON_LAYERS


def per_layer_names() -> list[str]:
    """The per-layer metrics of BENCHMARK.json, printed by every traced run."""
    return list(dict.fromkeys(BUILD_LAYERS + INGEST_LAYERS + query_layers() + COMMON_LAYERS))


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("verify_yield",)):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# run loop
# ---------------------------------------------------------------------------


def proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``proc_stat`` readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def session_cpu_s() -> float:
    """User + system CPU seconds of every process in this process's
    session (driver, JVM, Python workers), children they reaped included."""
    procs = session_stats(os.getsid(0)).values()
    # stat fields 14-17: utime, stime, cutime, cstime
    return sum(int(x) for f in procs for x in f[11:15]) / os.sysconf("SC_CLK_TCK")


def measure(wl: Workload, tracer: Tracer, first: int, seconds: float = 0.0,
            n_ops: int | None = None) -> dict[int, tuple[str, float, float]]:
    """Run ops with ids from ``first``: exactly ``n_ops`` of them, or until
    ``seconds`` have passed and the unit in progress is whole. Returns
    op id → (label, start, end)."""
    ops: dict[int, tuple[str, float, float]] = {}
    deadline = time.time() + seconds
    # an unfinished unit (build, cycle, pass) may run past the deadline,
    # but never by more than this, so a run ends inside its time limit
    hard_stop = deadline + 60
    i = first
    while (i - first < n_ops if n_ops is not None else
           time.time() < deadline or (wl.must_continue() and time.time() < hard_stop)):
        wl.before_op(i)
        ok, note = True, ""
        cpu = session_cpu_s()
        t = time.time()
        with tracer.op(f"op.{wl.name}", i):
            try:
                label, latency, payload = wl.op(i)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                label, latency, payload, ok = "error", None, None, False
                note = f"op {i}: {type(exc).__name__}: {str(exc)[:200]}"
        t_end = time.time()
        wl.cpu.append(session_cpu_s() - cpu)
        ops[i] = (label, t, t_end)
        wl.log.record(latency if latency is not None else t_end - t, ok, note)
        if ok:
            wl.after_op(i, label, payload)
        i += 1
    return ops


def ingest_cycle(spark, tracer: Tracer, work: Path, seed: int) -> Ingest:
    """Traced build runs only: fold one traced cycle of delta files into
    a base graph, so a benchmark workload measures the streaming layers.
    Its set-up is untraced; its oracle check runs here."""
    ing = Ingest(spark, tracer, work / "ingest", seed, True)
    ing.work.mkdir()
    tracer.enabled = False
    ing.setup_once()
    ing.setup_state(0)
    tracer.enabled = True
    measure(ing, tracer, INGEST_OP_BASE, n_ops=ing.traced_ops())
    tracer.enabled = False
    ing.check()
    return ing


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    work, out_dir = Path(args.work), Path(args.out)
    trace = bool(args.trace)
    cpu0 = proc_stat()

    t0 = time.time()
    spark = make_session(work, trace)
    import pyspark

    session_s = time.time() - t0
    tracer = Tracer(spark)
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, trace)

    t = time.time()
    wl.setup_once()
    once_s = time.time() - t
    reps = []
    for r in range(SETUP_REPS):
        t = time.time()
        wl.setup_state(r)
        reps.append(time.time() - t)
    setup_s = session_s + once_s + median(reps)

    # the end-to-end figures come from an untraced phase; a traced run
    # measures the head of a unit untraced, then the same head with
    # tracing on, and the difference between the two is the tracing
    # overhead
    stat_m = proc_stat()
    ops = (measure(wl, tracer, 0, n_ops=wl.traced_ops()) if trace
           else measure(wl, tracer, 0, seconds=args.seconds))
    measured_steal = steal_pct(stat_m, proc_stat())
    (work / "measured").touch()  # ends run.py's memory sampling
    traced: dict[int, tuple[str, float, float]] = {}
    ingest = None
    if trace:
        wl.new_unit()
        install_tracing(tracer)
        tracer.enabled = True
        traced = measure(wl, tracer, len(ops), n_ops=wl.traced_ops())
        tracer.enabled = False
        if isinstance(wl, Build):
            ingest = ingest_cycle(spark, tracer, work, args.seed)
        if isinstance(wl, Query):
            wl.divergent_probe()
    t = time.time()
    wl.check()
    check_s = time.time() - t
    steal = steal_pct(cpu0, proc_stat())

    lat, cpu = wl.log.latencies[:len(ops)], wl.cpu[:len(ops)]
    # gated: wall latency follows the host's steal time (a build took
    # +40% at 5-9% steal), process-tree CPU time much less
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cpu_per_op_s": (sum(cpu) / len(cpu), "s"),
    }
    report = {**end_to_end, "latency_p50_s": (median(lat), "s"),
              "latency_p75_s": (percentile(lat, 75), "s"),
              "ops_per_s": (len(lat) / sum(lat), "ops/s"), **wl.report,
              "error_rate": (wl.log.error_rate, "ratio"),
              "session_start_s": (session_s, "s"), "setup_once_s": (once_s, "s"),
              "setup_state_reps_s": (reps, "s"), "oracle_check_s": (check_s, "s"),
              "ops": (len(lat), "count"), "op_latencies_s": ([round(x, 3) for x in lat], "s"),
              "op_cpu_s": ([round(x, 3) for x in cpu], "s"),
              "measured_phase_steal_pct": (measured_steal, "%")}
    attempted, failed, errors = wl.log.attempted, wl.log.failed, list(wl.log.errors)
    if ingest is not None:
        report.update({f"ingest.{k}": v for k, v in ingest.report.items()})
        attempted += ingest.log.attempted
        failed += ingest.log.failed
        errors += [f"ingest {e}" for e in ingest.log.errors]

    layer_vals: dict[str, float] = {}
    missing: list[str] = []
    if trace:
        tracer.unpatch()
        spark.stop()  # flushes the event log
        st = tracer.self_times()
        spark_by_op = tracer.attach_event_log(
            work / "eventlog", {i: (a, b) for i, (_, a, b) in traced.items()})
        for op, vals in tracer.per_op(SPAN_METRICS.get).items():
            target = ingest.layer if ingest is not None and op >= INGEST_OP_BASE else wl.layer
            for name, v in vals.items():
                target[name].append(v)
        for op, v in legs_wait(tracer).items():
            wl.layer["plans.pipeline.legs_wait_s"].append(v)
        for op, c in spark_by_op.items():
            for k, v in c.items():
                wl.layer[f"spark.{k}"].append(v)
        if isinstance(wl, Query):
            by_label: dict[str, list[float]] = defaultdict(list)
            for lab, a, b in traced.values():
                by_label[lab].append(b - a)
            for lab, xs in by_label.items():
                if lab != "error":
                    wl.layer[f"{wl.layer_of(lab)}.{lab}.p50_s"] += [median(xs)]
        traced_lat = wl.log.latencies[len(ops):]
        wl.layer["trace.latency_p50_s"].append(median(traced_lat))
        # against the untraced phase's head: the same ops in the same order
        wl.layer["trace.overhead_s"].append(median(traced_lat) - median(lat[:len(traced_lat)]))
        spans_path = out_dir / f"spans-{wl.name}-seed{args.seed}.jsonl"
        tracer.write(spans_path, st)
        report["span_file"] = (os.path.relpath(spans_path, ROOT), "path")
        layer_vals, missing = layer_values(
            per_layer_names(), layers_of(wl.name),
            lambda name: (ingest.layer if ingest is not None and name in INGEST_LAYERS
                          else wl.layer).get(name),
            largest={"functions.persistence.pinned_mb"})
        errors += [f"per-layer metric {name} got no samples" for name in missing]
        for prefix, layer in (("", wl.layer), ("ingest.", ingest.layer if ingest else {})):
            for name, xs in sorted(layer.items()):
                if xs and (prefix or name not in layer_vals):
                    report[f"layer.{prefix}{name}"] = (median(xs), layer_unit(name))

    metrics = (
        {k: {"value": layer_vals[k], "unit": layer_unit(k)} for k in per_layer_names()}
        if trace else {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    )
    result = {
        "line": {
            "correct": failed == 0 and not missing,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "errors": errors[:20],
        "env": {"workload": wl.name, "seed": args.seed, "cores": cpu_count(),
                "master": f"local[{cpu_count()}]", "spark_version": pyspark.__version__,
                "steal_pct": round(steal, 3), "sizes": wl.sizes, "trace": trace},
    }
    (work / "result.json").write_text(json.dumps(result))
    if not trace:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
