"""Table I/O + checkpoint manifest (SURVEY.md S4, S7, S8, S12, S13).

In production this layer is Iceberg: stage tables + MERGE INTO + time
travel. The sandbox has no Iceberg catalog, so we implement the same
contract as parquet directories plus a JSON-lines **manifest commit
log** — a stage's output is visible iff its manifest row says
status=committed, writes are idempotent per (run_id, stage), and resume
means skipping stages whose manifest row is committed (the anti-join
the reference does against its pickle cache, cached_schema_org_pipeline.py:47-78).
The interface is deliberately thin so a real Iceberg catalog slots in.
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ManifestLog:
    """Append-only commit log: one JSON line per stage commit with
    per-stage lineage metrics (run_id, stage, rows, wall_ms, status)."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.path = self.root / "_manifest.jsonl"

    def entries(self) -> list[dict]:
        if not self.path.exists():
            return []
        return [json.loads(l) for l in self.path.read_text().splitlines() if l.strip()]

    def stage_commit(self, run_id: str, stage: str) -> dict | None:
        """The last stage-level commit row of (run_id, stage), or None.

        Rows carrying a "partition" key are PARTIAL (per-partition)
        commits from materialize_by_partition; only the stage-level
        marker makes the stage done."""
        rows = [
            e for e in self.entries()
            if e["run_id"] == run_id and e["stage"] == stage
            and e["status"] == "committed" and "partition" not in e
        ]
        return rows[-1] if rows else None

    def committed_partitions(self, run_id: str, stage: str) -> set[str]:
        return {
            e["partition"]
            for e in self.entries()
            if e["run_id"] == run_id and e["stage"] == stage
            and e["status"] == "committed" and "partition" in e
        }

    def commit(self, run_id: str, stage: str, rows: int, wall_ms: float,
               extra: dict | None = None) -> None:
        rec = {
            "run_id": run_id,
            "stage": stage,
            "rows": rows,
            "wall_ms": round(wall_ms, 1),
            "status": "committed",
            "commit_id": uuid.uuid4().hex[:12],
            "ts": time.time(),
            **(extra or {}),
        }
        with self.path.open("a") as f:
            f.write(json.dumps(rec) + "\n")


class StageStore:
    """Resumable stage-table store: write-once per (run_id, stage), read
    back for downstream stages. The write is atomic at manifest-commit
    granularity — a killed run leaves no committed marker and the stage
    re-executes idempotently into the same path (overwrite)."""

    def __init__(self, spark: SparkSession, root: str | Path, run_id: str):
        self.spark = spark
        self.root = Path(root)
        self.run_id = run_id
        self.manifest = ManifestLog(root)

    def _path(self, stage: str) -> str:
        return str(self.root / self.run_id / stage)

    def _schema(self, stage: str) -> T.StructType | None:
        """The read schema the stage's commit row records, or None when
        the stage is not committed. A commit row without a schema counts
        as uncommitted: the stage re-runs rather than being read back
        with inferred partition types."""
        row = self.manifest.stage_commit(self.run_id, stage)
        if row is None or "schema" not in row:
            return None
        return T.StructType.fromJson(row["schema"])

    def is_done(self, stage: str) -> bool:
        return self._schema(stage) is not None

    def read(self, stage: str) -> DataFrame:
        """A committed stage, read with the schema its commit recorded:
        the frame's own schema, partition columns last (the order
        partition discovery gives). No schema-inference job runs, and
        partition values keep their computed type, so a resumed stage
        reads back exactly like the run that wrote it. An empty stage
        may have no directory; it reads as 0 rows."""
        schema = self._schema(stage)
        if schema is None:
            raise ValueError(f"stage {stage!r} of run {self.run_id!r} is not committed")
        Path(self._path(stage)).mkdir(parents=True, exist_ok=True)
        return self.spark.read.schema(schema).parquet(self._path(stage))

    def materialize(self, stage: str, df_fn, partition_by: list[str] | None = None) -> DataFrame:
        """Run df_fn() and commit unless already committed (resume).

        The manifest row carries per-PARTITION lineage (north-rule
        contract): row counts per partition value for partitioned
        writes, else per output file — enough to audit which partition
        a row came from and re-verify any single partition. The counts
        come from the written files' parquet footers and the row records
        the read schema ``read`` uses, so the write is the call's only
        Spark job."""
        if self.is_done(stage):
            return self.read(stage)
        t0 = time.time()
        df = df_fn()
        path = self._path(stage)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        lineage = _footer_rows(Path(path), partition_by or [])
        self.manifest.commit(
            self.run_id, stage, sum(lineage.values()), (time.time() - t0) * 1000,
            extra={"partitions": lineage,
                   "schema": _read_schema(df, partition_by or []).jsonValue()},
        )
        return self.read(stage)

    def materialize_by_partition(self, stage: str, df_fn, partition_col: str) -> DataFrame:
        """Partition-granular resumable write (ref stage-cache semantics
        at partition granularity, cached_schema_org_pipeline.py:47-78):
        each partition value commits its own manifest row as soon as its
        write lands, so a failure mid-stage — even inside one
        partition's tasks — loses only the uncommitted partitions.
        Resume anti-joins the manifest's committed-partition set and
        recomputes EXACTLY the missing ones (pytest injects a one-
        partition task failure and asserts this).

        Each partition is its own write job filtering the upstream
        plan; callers should hand in a df_fn whose input is already a
        pinned stage table so the per-partition re-derivation is a
        pruned scan, not a recompute of the whole upstream pipeline.
        Partition and stage row counts come from the parquet footers,
        so each partition costs its write job and nothing else.
        """
        if self.is_done(stage):
            return self.read(stage)
        from urllib.parse import quote

        t0 = time.time()
        df = df_fn()
        raw_values = [
            r[0] for r in df.select(partition_col).distinct().collect()
        ]
        # NULL partition values have no directory to land in here — the
        # whole-stage materialize() path puts them in Hive's default
        # partition, but a silent drop in THIS path would lose rows, so
        # refuse loudly and let the caller coalesce to a sentinel first.
        if any(v is None for v in raw_values):
            raise ValueError(
                f"materialize_by_partition({stage!r}): NULL values in "
                f"partition column {partition_col!r}; coalesce them to a "
                "sentinel value before partition-granular materialization"
            )
        values = sorted(str(v) for v in raw_values)
        done = self.manifest.committed_partitions(self.run_id, stage)
        for v in values:
            if v in done:
                continue
            tp = time.time()
            # URL-escape the path segment the way Spark's partitioned
            # writer does (ExternalCatalogUtils.escapePathName): a raw
            # '/', '=', or '%' in the value would corrupt the layout.
            # Partition discovery unescapes on read, so values round-trip.
            part_path = f"{self._path(stage)}/{partition_col}={quote(v, safe='')}"
            part_df = df.where(F.col(partition_col).cast("string") == v).drop(partition_col)
            part_df.write.mode("overwrite").parquet(part_path)
            n = sum(_footer_rows(Path(part_path), []).values())
            self.manifest.commit(
                self.run_id, stage, n, (time.time() - tp) * 1000,
                extra={"partition": v},
            )
        self.manifest.commit(
            self.run_id, stage, sum(_footer_rows(Path(self._path(stage)), []).values()),
            (time.time() - t0) * 1000,
            extra={"partitions": {v: None for v in values},
                   "schema": _read_schema(df, [partition_col]).jsonValue()},
        )
        return self.read(stage)


def _read_schema(df: DataFrame, partition_by: list[str]) -> T.StructType:
    """``df``'s schema with the partition columns moved last."""
    fields = [f for f in df.schema.fields if f.name not in partition_by]
    return T.StructType(fields + [df.schema[c] for c in partition_by])


_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _footer_rows(root: Path, partition_by: list[str]) -> dict[str, int]:
    """Rows per data file under ``root`` (keyed by file name), or per
    partition (keyed by the ``|``-joined unescaped partition values,
    ``"None"`` for Hive's default partition) when ``partition_by`` is
    given, read from the parquet footers on the driver: no Spark job.
    Files Spark's listing skips (``_``/``.`` prefixes) and 0-row files
    (an empty frame's schema-only file) are left out."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    lineage: dict[str, int] = {}
    for f in sorted(root.rglob("*.parquet")):
        parts = f.relative_to(root).parts
        if any(p.startswith(("_", ".")) for p in parts):
            continue
        n = pq.read_metadata(f).num_rows
        if not n:
            continue
        if partition_by:
            values = [unquote(d.split("=", 1)[1]) for d in parts[:-1]]
            key = "|".join("None" if v == _HIVE_DEFAULT_PARTITION else v for v in values)
        else:
            key = f.name
        lineage[key] = lineage.get(key, 0) + n
    return lineage


# ---------------------------------------------------------------------------
# Graph tables: baseline init (S7) + merge writes (S8)
# ---------------------------------------------------------------------------

NODE_SCHEMA = "name string, uri string, source string, description string, status string, needs_review boolean"
EDGE_SCHEMA = "src string, rel_type string, dst string, source string, run_id string"


def baseline_graph(spark: SparkSession, hierarchy: list[tuple[str, str]]) -> tuple[DataFrame, DataFrame]:
    """S7: root + hierarchy as literal DFs with uniqueness by dedup."""
    names = {"Thing"} | {c for c, _ in hierarchy} | {p for _, p in hierarchy}
    nodes = spark.createDataFrame(
        [
            (n, f"https://schema.org/{n}", "Baseline",
             "The most generic type of item." if n == "Thing" else None,
             None, False)
            for n in sorted(names)
        ],
        NODE_SCHEMA,
    )
    edges = spark.createDataFrame(
        [(c, "SUBCLASS_OF", p, "Baseline", "baseline") for c, p in hierarchy],
        EDGE_SCHEMA,
    )
    return nodes, edges


def _sanitize_rel(col):
    """Dynamic rel types: uppercase, non-alnum stripped (mirrors the
    reference's sanitized dynamic edge labels). The taxonomic predicates
    keep their canonical SUBCLASS_OF/INSTANCE_OF forms — sanitizing them
    would split the hierarchy into two edge types."""
    return (
        F.when(F.lower(col) == "subclass_of", F.lit("SUBCLASS_OF"))
        .when(F.lower(col) == "instance_of", F.lit("INSTANCE_OF"))
        .otherwise(F.upper(F.regexp_replace(col, "[^a-zA-Z0-9]", "")))
    )


def merge_graph(
    nodes: DataFrame,
    edges: DataFrame,
    tasks: DataFrame,
    triples: DataFrame,
    run_id: str,
) -> tuple[DataFrame, DataFrame]:
    """S8 MERGE semantics via dedup-union (Iceberg MERGE INTO stand-in):

    - each CREATE_CLASS task merges a node (uri=slug, NeedsReview flag)
      and a SUBCLASS_OF edge to its parent (parent auto-created);
    - extracted triples merge sanitized dynamic edges and any missing
      endpoint nodes;
    - name is the merge key: existing rows win (first-writer);
    - triple endpoints arrive NORMALIZED (lowercase/singular) while
      existing graph names may be display-cased ('ElectronicComponent')
      — endpoints are resolved through a norm→canonical-name map built
      from the existing nodes so merged edges attach to the hierarchy
      instead of spawning case-variant orphans.
    """
    from ..functions import columns as C

    # norm → canonical display name for every already-known node
    resolve = F.broadcast(
        nodes.select(C.normalize_name(F.col("name")).alias("_norm"),
                     F.col("name").alias("_canonical"))
        .dropDuplicates(["_norm"])
    )

    def _resolved(df: DataFrame, col: str) -> DataFrame:
        return (
            df.join(resolve, df[col] == resolve["_norm"], "left")
            .withColumn(col, F.coalesce("_canonical", col))
            .drop("_norm", "_canonical")
        )

    triples = _resolved(_resolved(triples, "subj"), "obj")
    tasks = _resolved(tasks, "parent_class")

    task_nodes = tasks.select(
        F.col("name"),
        F.concat(F.lit("https://example.org/elec/"), C.slugify(F.col("name"))).alias("uri"),
        F.lit("learned_from_dataset").alias("source"),
        F.lit(None).cast("string").alias("description"),
        F.col("status"),
        (F.col("status") == "review").alias("needs_review"),
    )
    parent_nodes = tasks.select(F.col("parent_class").alias("name")).distinct().select(
        "name",
        F.concat(F.lit("https://example.org/elec/"), C.slugify(F.col("name"))).alias("uri"),
        F.lit("learned_from_dataset").alias("source"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("status"),
        F.lit(False).alias("needs_review"),
    )
    triple_nodes = (
        triples.select(F.col("subj").alias("name"))
        .union(triples.select(F.col("obj").alias("name")))
        .distinct()
        .select(
            "name",
            F.concat(F.lit("https://example.org/elec/"), C.slugify(F.col("name"))).alias("uri"),
            F.lit("learned_from_dataset").alias("source"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("string").alias("status"),
            F.lit(False).alias("needs_review"),
        )
    )

    # MERGE key = name; explicit priority (existing < task < parent <
    # triple) because dropDuplicates keeps an arbitrary row.
    from pyspark.sql import Window

    with_prio = (
        nodes.withColumn("_prio", F.lit(0))
        .unionByName(task_nodes.withColumn("_prio", F.lit(1)))
        .unionByName(parent_nodes.withColumn("_prio", F.lit(2)))
        .unionByName(triple_nodes.withColumn("_prio", F.lit(3)))
    )
    w = Window.partitionBy("name").orderBy(F.col("_prio").asc())
    merged_nodes = (
        with_prio.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )

    task_edges = tasks.select(
        F.col("name").alias("src"),
        F.lit("SUBCLASS_OF").alias("rel_type"),
        F.col("parent_class").alias("dst"),
        F.lit("learned_from_dataset").alias("source"),
        F.lit(run_id).alias("run_id"),
    )
    triple_edges = triples.select(
        F.col("subj").alias("src"),
        _sanitize_rel(F.col("pred")).alias("rel_type"),
        F.col("obj").alias("dst"),
        F.lit("learned_from_dataset").alias("source"),
        F.lit(run_id).alias("run_id"),
    )
    ewith = (
        edges.withColumn("_prio", F.lit(0))
        .unionByName(task_edges.withColumn("_prio", F.lit(1)))
        .unionByName(triple_edges.withColumn("_prio", F.lit(2)))
    )
    ew = Window.partitionBy("src", "rel_type", "dst").orderBy(F.col("_prio").asc())
    merged_edges = (
        ewith.withColumn("_rn", F.row_number().over(ew))
        .where(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )
    return merged_nodes, merged_edges
