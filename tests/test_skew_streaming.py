"""Tests for the salted-join helpers and incremental streaming ingest."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontology_learning_spark.functions import skew as SK


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in (["hot"] * 3 + ["cold"])],
        "k string, v int",
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2), ("unused", 3)], "k string, w int")
    plain = big.join(small, "k").groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    salted = SK.salted_join(big, small, "k", salt_factor=4).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_skew_split_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [(f"k{i}", i) for i in range(50)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", 10)] + [(f"k{i}", i) for i in range(50)], "k string, w int"
    )
    plain = big.join(small, "k")
    hybrid = SK.skew_split_join(big, small, "k", hot_threshold=100, salt_factor=4)
    assert plain.count() == hybrid.count()
    assert sorted(r["v"] for r in plain.collect()) == sorted(r["v"] for r in hybrid.collect())


def test_hot_keys(spark):
    df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 2, "k string")
    hot = [r["k"] for r in SK.hot_keys(df, "k", 10).collect()]
    assert hot == ["a"]


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


def test_incremental_streaming_delta_only(spark, tmp_path, fixture_docs):
    from ontology_learning_spark.fixtures.generator import DOCUMENT_SCHEMA
    from ontology_learning_spark.streaming.incremental import run_incremental_extraction

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    surfaces = ("resistor", "antenna", "capacitor")

    batch1 = spark.createDataFrame(fixture_docs[:40], schema=DOCUMENT_SCHEMA)
    batch1.write.mode("append").parquet(in_dir)
    run_incremental_extraction(spark, in_dir, out_dir, ckpt, surfaces)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # second trigger with no new files → no new rows
    run_incremental_extraction(spark, in_dir, out_dir, ckpt, surfaces)
    assert spark.read.parquet(out_dir).count() == n1

    # new files land → only the delta is appended
    batch2 = spark.createDataFrame(fixture_docs[40:80], schema=DOCUMENT_SCHEMA)
    batch2.write.mode("append").parquet(in_dir)
    run_incremental_extraction(spark, in_dir, out_dir, ckpt, surfaces)
    n2 = spark.read.parquet(out_dir).count()
    assert n2 > n1
    # distinct doc ids should equal the union of both batches' mention docs
    total_docs = spark.read.parquet(out_dir).select("doc_id").distinct().count()
    assert total_docs <= 80
    _assert_equals_batch_extract(spark, out_dir, fixture_docs[:80], surfaces)


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
