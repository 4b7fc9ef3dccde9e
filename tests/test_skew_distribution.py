"""Skew handling (north_rule): AQE skew-join must be on in the session
(the E7 window's map-side prune is pinned in test_plan_quality). Also
the threshold-config comparison over the shared gold set."""

from __future__ import annotations


def test_aqe_skew_join_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_compare_threshold_configs(spark, docs_df):
    from ontology_learning_spark.fixtures import baseline
    from ontology_learning_spark.functions import semantics as S
    from ontology_learning_spark.operators.analytics import compare_threshold_configs

    gold = spark.createDataFrame(
        [(S.normalize_name(r["source"]), r["type"], S.normalize_name(r["target"]))
         for r in baseline.gold_relations()],
        "subj string, pred string, obj string",
    )
    configs = {
        "pipeline_default": S.DEFAULT_THRESHOLDS,
        "config_strict": {"exact_match": 0.96, "high_similarity": 0.90,
                          "medium_similarity": 0.75, "low_similarity": 0.60},
    }
    out = {r["config"]: r for r in
           compare_threshold_configs(spark, docs_df, gold, configs).collect()}
    assert set(out) == {"pipeline_default", "config_strict"}
    for r in out.values():
        assert r["tp"] > 0 and 0 <= r["precision"] <= 1 and 0 <= r["recall"] <= 1
    # both configs see the same corpus → same distinct concept count
    assert out["pipeline_default"]["n_concepts"] == out["config_strict"]["n_concepts"]
