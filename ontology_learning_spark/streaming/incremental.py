"""Incremental ingest: new document files fold into the mentions,
the triples and the graph without reprocessing what came before.

The reference has no streaming surface (SURVEY.md §2.6): its
"incremental" story is pickle-stage resume. Here three drivers pick up
only the files not yet processed:

- ``run_incremental_batch``: new document files -> mentions, with a
  JSON file manifest as the commit log (no trigger machinery);
- ``run_incremental_triples``: an ``availableNow`` stream of new
  document files -> per-batch triple tables, which ``fold_graph``
  merges into the graph;
- ``run_streaming_near_dedup``: an ``availableNow`` stream of
  (doc_id, text) files folded into durable MinHash-LSH near-dup state.

Exactly-once: a stream's foreachBatch alone is at-least-once (a crash
between the sink write and the checkpoint commit replays the batch),
and so is a manifest written after its output. Every sink therefore
writes each batch to a batch-scoped subdirectory with OVERWRITE —
a replayed batch rewrites the same directory instead of appending
duplicates, making the write idempotent and the end-to-end result
exactly-once. Readers consume ``output_dir/batch_id=*`` as one
partitioned dataset.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..fixtures.generator import DOCUMENT_SCHEMA
from ..operators import extraction as E


def _run_available_now(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    process,
    timeout_sec: int,
    schema=DOCUMENT_SCHEMA,
    max_files_per_trigger: int = 64,
) -> None:
    """One availableNow stream over the parquet files in ``input_dir``
    not yet recorded in ``checkpoint_dir``: ``process(batch_df,
    batch_id)`` runs once per microbatch, then the call returns."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def _extract_delta(docs, n_parts: int, surfaces: tuple[str, ...]):
    """``extract_pipeline`` over one delta of documents.

    A small delta arrives as few files → few partitions (``n_parts``);
    spread it so the Python extraction uses every core (the shuffle
    moves only the delta, and only when the input can't fill the
    slots). pin=False: each caller's sink write is the ONLY consumer,
    so the default eager materialization would add a full extra pass
    (count job + memory copy of the batch) per delta — measured as the
    bulk of the fixed ~1.4 s delta overhead at 80k docs."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if n_parts < par:
        docs = docs.repartition(par)
    return E.extract_pipeline(docs, surfaces, pin=False)


def _batch_ids(root: Path) -> list[int]:
    """Committed ``batch_id=N`` directories under ``root``, in order."""
    return sorted(int(p.name.split("=")[1]) for p in root.glob("batch_id=*") if p.is_dir())


def run_incremental_batch(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    manifest_path: str,
    surfaces: tuple[str, ...],
) -> int:
    """File-granular incremental extraction WITHOUT the streaming
    trigger machinery. Returns the number of new files processed.

    An availableNow stream pays ~1 s of fixed per-trigger bookkeeping
    (query construction, offset/commit WAL, microbatch scheduling)
    regardless of delta size — measured as the whole cost of a small
    delta at 80k docs. For callers that poll on their own cadence, the
    exactly-once contract needs only a file manifest:

    - the manifest (one JSON: processed files + batch counter) is the
      commit log; new files = listing minus manifest;
    - each batch writes to a batch_id-scoped directory with OVERWRITE,
      and the manifest is written only AFTER the output commit — a
      crash in between replays the same files into the same directory,
      so the replay is idempotent and the end state exactly-once
      (identical argument to the streams' foreachBatch sinks).

    Scale note: one flat JSON manifest is right up to ~10^5 files; past
    that, segment it per batch and compact like the file-stream
    source's own log (the listing itself is the same object-store cost
    either way).
    """
    mp = Path(manifest_path)
    state = json.loads(mp.read_text()) if mp.exists() else {"files": [], "n_batches": 0}
    seen = set(state["files"])
    files = sorted(str(p) for p in Path(input_dir).glob("*.parquet"))
    new = [f for f in files if f not in seen]
    if not new:
        return 0
    batch_id = state["n_batches"]
    docs = spark.read.schema(DOCUMENT_SCHEMA).parquet(*new)
    mentions, _, _ = _extract_delta(docs, len(new), surfaces)
    mentions.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
    mp.write_text(json.dumps({"files": files, "n_batches": batch_id + 1}))
    return len(new)


def run_incremental_triples(
    spark: SparkSession,
    input_dir: str,
    graph_root: str,
    checkpoint_dir: str,
    surfaces: tuple[str, ...],
    timeout_sec: int = 300,
) -> None:
    """availableNow stream: new document files → per-batch distinct
    (subj, pred, obj) triple tables under ``graph_root/triples/``.

    Triple extraction is per-document (E4 scans sentences of one doc),
    so batch boundaries cannot change WHAT is extracted — only how the
    rows are grouped into batch directories. The same batch_id-scoped
    OVERWRITE used by run_incremental_batch makes replays
    idempotent; ``fold_graph`` below turns the directories into the
    merged ontology graph.
    """

    def _process(batch_df, batch_id: int) -> None:
        _, doc_triples, _ = _extract_delta(batch_df, batch_df.rdd.getNumPartitions(), surfaces)
        (
            doc_triples.select("subj", "pred", "obj").distinct()
            .write.mode("overwrite")
            .parquet(f"{graph_root}/triples/batch_id={batch_id}")
        )

    _run_available_now(spark, input_dir, checkpoint_dir, _process, timeout_sec)


def fold_canonical_mapping(spark: SparkSession, alias_root: str):
    """Fold committed alias-edge batches into a live (node, component)
    canonical mapping: plain CC of the first batch, then
    ``canonicalize.incremental_components`` per subsequent batch — each
    fold step touches only the delta's contracted component graph plus
    one broadcast-remap pass over the current mapping, and NEVER
    re-reads earlier batches (the whole point at 10^9 accumulated alias
    edges). Result is row-identical to one CC over the concatenated
    edges (streaming≡batch parity pytest).

    Batch directories follow the same ``batch_id=N`` layout the other
    incremental sinks write; at real scale each step reads one Iceberg
    snapshot delta instead.
    """
    from ..functions.persistence import materialize
    from ..operators.canonicalize import connected_components, incremental_components

    aroot = Path(alias_root)
    mapping = None
    for b in _batch_ids(aroot):
        edges_b = spark.read.parquet(str(aroot / f"batch_id={b}"))
        if mapping is None:
            mapping = connected_components(edges_b)
        else:
            mapping = incremental_components(mapping, edges_b)
        mapping = materialize(mapping)
    if mapping is None:
        return spark.createDataFrame([], "node string, component string")
    return mapping


def fold_graph(spark: SparkSession, graph_root: str, hierarchy: list[tuple[str, str]]):
    """Fold every committed triple batch into the baseline graph with
    the SAME merge operator batch mode uses (tables.merge_graph), in
    batch_id order. First-writer-wins on the name / (src, rel_type,
    dst) merge keys makes the fold's node and edge SETS equal to one
    batch-mode merge over the concatenated triples (the edge run_id
    records which batch introduced the edge and legitimately differs —
    the streaming parity pytest compares everything else).

    Each fold step is materialized so the plan stays shallow — B
    batches cost B bounded jobs, not one B-deep window tree. At real
    scale each step is an Iceberg MERGE INTO; this fold is the same
    associative-idempotent contract expressed over directories.
    """
    from ..functions.persistence import materialize
    from ..sources.tables import baseline_graph, merge_graph

    nodes, edges = baseline_graph(spark, hierarchy)
    troot = Path(graph_root) / "triples"
    empty_tasks = spark.createDataFrame(
        [], "name string, parent_class string, status string"
    )
    for b in _batch_ids(troot):
        triples_b = spark.read.parquet(str(troot / f"batch_id={b}"))
        nodes, edges = merge_graph(nodes, edges, empty_tasks, triples_b, run_id=f"batch-{b}")
        nodes, edges = materialize(nodes), materialize(edges)
    return nodes, edges


def run_streaming_near_dedup(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    timeout_sec: int = 300,
    max_files_per_trigger: int = 4,
) -> None:
    """Cross-batch NEAR-dup dedup as a stream: each microbatch of
    (doc_id, text) parquet files folds into durable MinHash-LSH dedup
    state — band keys under ``state_dir/bands/batch_id=N``, docs under
    ``state_dir/docs/batch_id=N`` (the verify-side text lookup), and
    the live (node, component) mapping under ``state_dir/mapping/vN``.

    Replay safety WITHOUT transactional state: batch-scoped OVERWRITE
    for docs/bands (re-running batch N rewrites the same partitions),
    and the mapping fold is IDEMPOTENT — re-folding a batch whose pairs
    are already in the mapping changes nothing (pytest-pinned), so
    loading whatever mapping version is newest is always correct.
    Contrast with ``streaming_exact_dedup`` (content-hash, per-row
    state store): this path catches near-duplicates and keeps its
    state queryable as plain tables.
    """
    from ..operators.canonicalize import connected_components, incremental_components
    from ..operators.dedup import jaccard_verify, minhash_band_table

    def _latest_mapping() -> tuple[int, "DataFrame | None"]:
        mroot = Path(state_dir) / "mapping"
        versions = sorted(
            (int(p.name[1:]) for p in mroot.glob("v*") if p.is_dir()), reverse=True
        )
        for v in versions:
            # Skip torn writes: a crash during batch N's mapping write
            # leaves a v{N} directory without a _SUCCESS marker (empty →
            # schema-inference error wedges the fold; partial → silently
            # dropped historical rows). Falling back to v(N-1) is exactly
            # correct because re-folding batch N's pairs into v(N-1) is
            # pinned idempotent (replay-safety test).
            if not (mroot / f"v{v}" / "_SUCCESS").exists():
                continue
            return v, spark.read.parquet(str(mroot / f"v{v}"))
        return -1, None

    def _process(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df = batch_df.select("doc_id", "text")
        batch_df.write.mode("overwrite").parquet(f"{state_dir}/docs/batch_id={batch_id}")
        nb = minhash_band_table(
            s.read.parquet(f"{state_dir}/docs/batch_id={batch_id}"), threshold=threshold)
        nb.write.mode("overwrite").parquet(f"{state_dir}/bands/batch_id={batch_id}")
        nb = s.read.parquet(f"{state_dir}/bands/batch_id={batch_id}")
        all_bands = s.read.parquet(f"{state_dir}/bands")
        all_docs = s.read.parquet(f"{state_dir}/docs")
        a_, b_ = nb.alias("a"), all_bands.alias("b")
        cands = (
            a_.join(b_, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a.id") != F.col("b.id")))
            .select(F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                    F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"))
            .distinct()
        )
        pairs = jaccard_verify(cands, all_docs, threshold=threshold)
        edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        _, mapping = _latest_mapping()
        mapping = connected_components(edges) if mapping is None \
            else incremental_components(mapping, edges)
        mapping.write.mode("overwrite").parquet(f"{state_dir}/mapping/v{batch_id}")

    _run_available_now(spark, input_dir, checkpoint_dir, _process, timeout_sec,
                       "doc_id string, text string", max_files_per_trigger)
