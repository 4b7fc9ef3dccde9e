#!/usr/bin/env python
"""Launch the KG-construction pipeline (north_rule launch contract).

    spark-submit --py-files ols.zip jobs/run_pipeline.py \
        --input /path/to/documents_table --output /path/to/out --run-id r1

Without --input, a seeded synthetic interleaved-span corpus is
generated (deterministic; --n-docs controls size) — no external data.
Writes triples/, tasks/, mappings/, decisions/ parquet tables plus a
run-metrics JSON line to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# Allow both `spark-submit --py-files` and direct repo-root execution.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ontology_learning_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="parquet path of documents(doc_id, spans)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="local-run")
    ap.add_argument("--n-docs", type=int, default=200, help="synthetic corpus size when --input absent")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = build_session(app_name=f"kg-pipeline-{args.run_id}", master=args.master)

    from ontology_learning_spark.fixtures.generator import DOCUMENT_SCHEMA, generate_documents
    from ontology_learning_spark.plans.pipeline import run_pipeline

    t0 = time.time()
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = spark.createDataFrame(
            generate_documents(n_docs=args.n_docs, seed=args.seed), schema=DOCUMENT_SCHEMA
        )

    result = run_pipeline(spark, docs)

    out = args.output.rstrip("/")
    # Stage-table store: every write is manifest-committed → a re-run
    # with the same --run-id resumes past completed stages (S4).
    from ontology_learning_spark.fixtures.baseline import ONTOLOGY_HIERARCHY
    from ontology_learning_spark.sources.tables import StageStore, baseline_graph, merge_graph

    store = StageStore(spark, out, args.run_id)
    # triples partitioned by predicate, edges by rel_type: queries that
    # filter a relation class (the common §2.5 shape) prune partitions.
    # The triples stage commits PER PARTITION (materialize_by_partition):
    # a failure mid-stage loses only the uncommitted predicates and a
    # resume recomputes exactly those (failure-injection pytest).
    triples_df = store.materialize_by_partition("triples", lambda: result.triples, "pred")
    tasks_df = store.materialize("tasks", lambda: result.tasks)
    store.materialize("mappings", lambda: result.mappings)
    store.materialize("decisions", lambda: result.decisions)

    base_n, base_e = baseline_graph(spark, ONTOLOGY_HIERARCHY)
    nodes_df, edges_df = merge_graph(base_n, base_e, tasks_df, triples_df, args.run_id)
    store.materialize("nodes", lambda: nodes_df)
    store.materialize("edges", lambda: edges_df, partition_by=["rel_type"])

    # the triples stage's committed row already counted it (parquet footers)
    n_triples = store.manifest.stage_commit(args.run_id, "triples")["rows"]
    n_docs = docs.count()
    wall = time.time() - t0
    print(json.dumps({
        "run_id": args.run_id,
        "docs": n_docs,
        "triples": n_triples,
        "wall_sec": round(wall, 2),
        "triples_per_sec": round(n_triples / wall, 2) if wall > 0 else None,
        "docs_per_sec": round(n_docs / wall, 2) if wall > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
