"""Tests for the manifest-committed incremental mention ingest."""

from __future__ import annotations


def _assert_equals_batch_extract(spark, out_dir, docs, surfaces):
    """Extraction is per document, so the union of the delta mention
    tables equals one batch extraction over every document, row for
    row (``batch_id`` is the only extra column)."""
    from collections import Counter

    from ontology_learning_spark.fixtures.generator import DOCUMENT_SCHEMA
    from ontology_learning_spark.operators.extraction import extract_pipeline

    want, _, _ = extract_pipeline(
        spark.createDataFrame(docs, schema=DOCUMENT_SCHEMA), surfaces, pin=False)
    got = spark.read.parquet(out_dir).select(*want.columns)
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def test_incremental_batch_manifest_exactly_once(spark, tmp_path, fixture_docs):
    from ontology_learning_spark.fixtures.generator import DOCUMENT_SCHEMA
    from ontology_learning_spark.streaming.incremental import run_incremental_batch

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    manifest = tmp_path / "manifest.json"
    surfaces = ("resistor", "antenna", "capacitor")

    batch1 = spark.createDataFrame(fixture_docs[:40], schema=DOCUMENT_SCHEMA)
    batch1.write.mode("append").parquet(in_dir)
    assert run_incremental_batch(spark, in_dir, out_dir, str(manifest), surfaces) > 0
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0
    manifest_after_b1 = manifest.read_text()

    # no new files -> no-op
    assert run_incremental_batch(spark, in_dir, out_dir, str(manifest), surfaces) == 0
    assert spark.read.parquet(out_dir).count() == n1

    # delta lands -> only the delta is appended, under the next batch_id
    batch2 = spark.createDataFrame(fixture_docs[40:80], schema=DOCUMENT_SCHEMA)
    batch2.write.mode("append").parquet(in_dir)
    assert run_incremental_batch(spark, in_dir, out_dir, str(manifest), surfaces) > 0
    n2 = spark.read.parquet(out_dir).count()
    assert n2 > n1

    # crash-replay: roll the manifest back to its post-batch-1 state
    # (simulating a crash between the batch-2 output write and the
    # manifest commit); the rerun rewrites the SAME batch_id directory,
    # so the end state is identical -- exactly-once despite the replay
    manifest.write_text(manifest_after_b1)
    assert run_incremental_batch(spark, in_dir, out_dir, str(manifest), surfaces) > 0
    assert spark.read.parquet(out_dir).count() == n2
    # parity with a one-shot batch over everything
    one_shot_dir = str(tmp_path / "oneshot")
    run_incremental_batch(
        spark, in_dir, one_shot_dir, str(tmp_path / "m2.json"), surfaces)
    assert spark.read.parquet(one_shot_dir).count() == n2
    _assert_equals_batch_extract(spark, out_dir, fixture_docs[:80], surfaces)
