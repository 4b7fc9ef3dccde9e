"""Decision cascade + routing (SURVEY.md §2.3 M7, M8, M11, M12).

Pure Catalyst: a single ``F.when`` cascade over the argmax row per
concept — the scored-argmax-per-mention required by the north star.
The reference's LLM validation band (M8) is replaced by the
deterministic token-set-containment / category-agreement tie-break
(semantics.validate_similarity), expressed here with array functions so
it stays JVM-side.

Reference parity (behavior studied at /root/reference, no code copied):
- decide            ~ src/ontology_extension_manager.py:368-421
  (bands: no-match EXTEND 0.9 / >=0.999 MAP_EXACT / >=high validated /
   >=medium UNCERTAIN 0.5 / else EXTEND 0.8)
- M8 band           ~ src/ontology_extension_manager.py:423-486
- route_tasks       ~ src/integrated_schema_pipeline.py:182-216
- mapping_objects   ~ src/integrated_schema_pipeline.py:276-289
- decision_stats    ~ src/integrated_schema_pipeline.py:310-327,
                      src/data_models.py:76-83
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from ..functions import semantics as S


def _token_contained(a, b):
    """set(tokens(a)) ⊆ set(tokens(b)) or vice versa (JVM-side)."""
    ta, tb = F.split(a, " "), F.split(b, " ")
    return (F.size(F.array_except(ta, tb)) == 0) | (F.size(F.array_except(tb, ta)) == 0)


def decide(best: DataFrame, thresholds: dict | None = None,
           enable_validation: bool = True) -> DataFrame:
    """Input: one row per concept with (concept, category, best_match,
    best_score, best_category) — best_* null when no match survived.
    Output adds decision / target / confidence."""
    th = thresholds or S.DEFAULT_THRESHOLDS
    score = F.col("best_score")
    norm_best = C.normalize_name_cached("best_match")

    validated = _token_contained(F.col("concept"), norm_best) | (
        F.col("category").isNotNull()
        & F.col("best_category").isNotNull()
        & (F.lower(F.col("category")) == F.lower(F.col("best_category")))
    )

    decision = (
        F.when(score.isNull() | F.col("best_match").isNull(), F.lit(S.EXTEND))
        .when(score >= 0.999, F.lit(S.MAP_EXACT))
        .when(
            score >= th["high_similarity"],
            (F.when(validated, F.lit(S.MAP_SIMILAR)).otherwise(F.lit(S.EXTEND))
             if enable_validation else F.lit(S.UNCERTAIN)),
        )
        .when(score >= th["medium_similarity"], F.lit(S.UNCERTAIN))
        .otherwise(F.lit(S.EXTEND))
    )

    # Same null guard as the decision cascade: a row with a score but a
    # null best_match must take the no-match branch in BOTH expressions
    # (unreachable via best_offers_with_category today, but direct
    # callers could otherwise get decision=EXTEND with a score-derived
    # confidence).
    confidence = (
        F.when(score.isNull() | F.col("best_match").isNull(), F.lit(0.9))
        .when(score >= 0.999, score)
        .when(score >= th["high_similarity"],
              F.lit(0.85) if enable_validation else F.lit(0.5))
        .when(score >= th["medium_similarity"], F.lit(0.5))
        .otherwise(F.lit(0.8))
    )

    target = (
        F.when(decision.isin(S.MAP_EXACT, S.MAP_SIMILAR, S.UNCERTAIN), F.col("best_match"))
        .otherwise(F.lit(None).cast("string"))
    )

    return best.select(
        "concept",
        "category",
        "best_match",
        "best_score",
        decision.alias("decision"),
        target.alias("target"),
        confidence.alias("confidence"),
    )


def route_tasks(decisions: DataFrame) -> DataFrame:
    """M11: EXTEND/UNCERTAIN → CREATE_CLASS task rows with parent =
    target ?? best match ?? 'ElectronicComponent', status 'review' for
    UNCERTAIN."""
    routed = decisions.where(F.col("decision").isin(S.EXTEND, S.UNCERTAIN))
    return routed.select(
        F.col("concept").alias("name"),
        F.lit("CREATE_CLASS").alias("action"),
        F.coalesce("target", "best_match", F.lit("ElectronicComponent")).alias("parent_class"),
        F.when(F.col("decision") == S.UNCERTAIN, F.lit("review")).alias("status"),
        "confidence",
    )


def mapping_objects(decisions: DataFrame) -> DataFrame:
    """M12: MAP_* decisions → alias-edge rows (canonicalization input)."""
    return decisions.where(F.col("decision").startswith("MAP")).select(
        F.col("concept").alias("name"),
        F.concat(F.lit("#"), F.col("target")).alias("same_as"),
        F.col("target").alias("canonical"),
        F.col("confidence").alias("mapping_confidence"),
    )


def decision_stats(decisions: DataFrame) -> DataFrame:
    """A1: per-decision counts + automation rate + mean confidence."""
    agg = decisions.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("decision") == S.EXTEND, 1).otherwise(0)).alias("extended"),
        F.sum(F.when(F.col("decision") == S.MAP_EXACT, 1).otherwise(0)).alias("mapped_exact"),
        F.sum(F.when(F.col("decision") == S.MAP_SIMILAR, 1).otherwise(0)).alias("mapped_similar"),
        F.sum(F.when(F.col("decision") == S.UNCERTAIN, 1).otherwise(0)).alias("uncertain"),
        F.avg("confidence").alias("average_confidence"),
    )
    automated = F.col("extended") + F.col("mapped_exact") + F.col("mapped_similar")
    return agg.withColumn(
        "automation_rate",
        F.when(F.col("total") > 0, automated / F.col("total")).otherwise(F.lit(0.0)),
    )
