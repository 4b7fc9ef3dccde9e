"""StageStore lineage, empty stages, resumed-stage schemas and per-call
job counts (S4, S12), plus the session's generated-code cache across
repeated pipeline runs.

The manifest's per-file / per-partition row counts come from parquet
footers; the oracle here is a Spark aggregation over the read-back
(``groupBy(input_file_name())`` or ``groupBy(<partition cols>)``).
"""

from __future__ import annotations

import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.sources.tables import StageStore


def _stage_row(store: StageStore, stage: str) -> dict:
    rows = [
        e for e in store.manifest.entries()
        if e["stage"] == stage and e["status"] == "committed" and "partition" not in e
    ]
    assert len(rows) == 1, rows
    return rows[0]


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"stage-store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _pinned(spark, rows, schema, parts=4):
    return spark.createDataFrame(rows, schema).repartition(parts).localCheckpoint(eager=True)


def test_unpartitioned_lineage_per_file(spark, tmp_path):
    df = _pinned(spark, [(i, f"v{i}") for i in range(40)], "x int, s string")
    store = StageStore(spark, tmp_path, "r1")
    out = store.materialize("plain", lambda: df)

    oracle = {
        Path(r["f"]).name: r["count"]
        for r in out.groupBy(F.input_file_name().alias("f")).count().collect()
    }
    assert len(oracle) >= 2, oracle
    row = _stage_row(store, "plain")
    assert row["partitions"] == oracle
    assert row["rows"] == 40 == out.count()
    assert out.schema == spark.read.parquet(store._path("plain")).schema


def test_partitioned_lineage_escaped_and_null_values(spark, tmp_path):
    values = ["a/b", "x=y", "50%", None, "plain"]
    rows = [(i, values[i % 5], i % 2) for i in range(50)]
    df = _pinned(spark, rows, "x int, k string, g int")
    store = StageStore(spark, tmp_path, "r1")
    out = store.materialize("parts", lambda: df, partition_by=["k", "g"])

    oracle = {
        f"{r['k']}|{r['g']}": r["count"]
        for r in out.groupBy("k", "g").count().collect()
    }
    assert {"a/b|0", "x=y|1", "50%|0", "None|1"} <= set(oracle), oracle
    row = _stage_row(store, "parts")
    assert row["partitions"] == oracle
    assert row["rows"] == 50
    # partition columns last, with the frame's types
    assert [f.name for f in out.schema.fields] == ["x", "k", "g"]
    assert out.schema["g"].dataType == df.schema["g"].dataType
    assert sorted(tuple(r) for r in out.select("x", "k", "g").collect()) == sorted(rows)


def test_by_partition_lineage(spark, tmp_path):
    rows = [(i, ["p/1", "p=2", "p%3", "p4"][i % 4] if i % 7 else "p4") for i in range(60)]
    df = _pinned(spark, rows, "x int, part string")
    store = StageStore(spark, tmp_path, "r1")
    out = store.materialize_by_partition("bp", lambda: df, "part")

    oracle = {r["part"]: r["count"] for r in out.groupBy("part").count().collect()}
    partial = {
        e["partition"]: e["rows"]
        for e in store.manifest.entries() if "partition" in e
    }
    assert partial == oracle
    row = _stage_row(store, "bp")
    assert row["rows"] == 60 == out.count()
    assert row["partitions"] == {v: None for v in sorted(oracle)}
    assert out.schema == spark.read.parquet(store._path("bp")).schema
    assert sorted(tuple(r) for r in out.collect()) == sorted(rows)


@pytest.mark.parametrize("how", ["plain", "partitioned", "by_partition"])
def test_empty_stage_is_readable(spark, tmp_path, how):
    df = spark.createDataFrame([], "x int, k string")
    store = StageStore(spark, tmp_path, "r1")
    if how == "plain":
        out = store.materialize("empty", lambda: df)
    elif how == "partitioned":
        out = store.materialize("empty", lambda: df, partition_by=["k"])
    else:
        out = store.materialize_by_partition("empty", lambda: df, "k")
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    row = _stage_row(store, "empty")
    assert row["rows"] == 0
    assert store.is_done("empty")


@pytest.mark.parametrize("how", ["partitioned", "by_partition"])
def test_resumed_stage_reads_like_fresh(spark, tmp_path, how):
    """A resumed stage keeps the partition types of the run that wrote
    it: string values ``007`` and ``12`` do not come back as int 7 and
    12. A stage row that records no read schema is not a commit."""
    df = spark.createDataFrame([(1, "007"), (2, "12")], "x int, p string")
    calls = []

    def run(store):
        def df_fn():
            calls.append(1)
            return df
        if how == "partitioned":
            return store.materialize("s", df_fn, partition_by=["p"])
        return store.materialize_by_partition("s", df_fn, "p")

    store = StageStore(spark, tmp_path, "r1")
    store.manifest.commit("r1", "s", 2, 0.0)        # a stage row with no schema
    assert not store.is_done("s")
    fresh = run(store)
    resumed = run(StageStore(spark, tmp_path, "r1"))
    assert len(calls) == 1                          # the second call read back
    for out in (fresh, resumed):
        assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
            ("x", "int"), ("p", "string")]
        assert sorted(tuple(r) for r in out.collect()) == [(1, "007"), (2, "12")]


def test_materialize_runs_one_job(spark, tmp_path):
    df = _pinned(spark, [(i, f"k{i % 3}") for i in range(40)], "x int, k string")
    store = StageStore(spark, tmp_path, "r1")
    _, plain = _jobs(spark, lambda: store.materialize("plain", lambda: df))
    _, parted = _jobs(spark, lambda: store.materialize("parted", lambda: df, partition_by=["k"]))
    assert (plain, parted) == (1, 1)


def test_materialize_by_partition_runs_k_plus_two_jobs(spark, tmp_path):
    df = _pinned(spark, [(i, f"k{i % 4}") for i in range(40)], "x int, k string")
    store = StageStore(spark, tmp_path, "r1")
    out, n = _jobs(spark, lambda: store.materialize_by_partition("bp", lambda: df, "k"))
    assert out.count() == 40
    assert n <= 4 + 2, n


def test_repeated_pipeline_run_compiles_no_new_code(spark, docs_df):
    """The second run of the same pipeline hits the generated-code cache:
    at Spark's default of 100 entries it Janino-compiled ~150 classes."""
    from ontology_learning_spark.plans.pipeline import run_pipeline

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run():
        res = run_pipeline(spark, docs_df)
        for df in (res.triples, res.tasks, res.mappings):
            df.collect()

    run()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled <= 5, compiled
