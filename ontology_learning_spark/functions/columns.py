"""Catalyst Column implementations of the scalar rule set.

Everything here compiles to built-in JVM expressions (regexp_replace /
lower / when chains) so the hot path is whole-stage-codegen'd — no
Python on executors. Each function has a pure-Python twin in
``semantics.py``; tests assert exact parity over the fixture corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import semantics as S

# ---------------------------------------------------------------------------
# S2 preprocessing — chained regexp_replace, mirrors semantics.preprocess_text
# ---------------------------------------------------------------------------


_PREP_COL_CACHE: dict[str, Column] = {}


def preprocess_text_cached(name: str) -> Column:
    """Memoized ``preprocess_text(F.col(name))``: the chain is ~20
    py4j round trips (one per regexp_replace) that cost ~0.1-0.2 s of
    driver time per plan build; the Column tree is immutable, so one
    build per source column name serves every later plan."""
    col = _PREP_COL_CACHE.get(name)
    if col is None:
        col = preprocess_text(F.col(name))
        _PREP_COL_CACHE[name] = col
    return col


def preprocess_text(col: Column) -> Column:
    c = F.lower(col)
    c = F.regexp_replace(c, r"!\[(.*?)\]\(.*?\)", r"$1")   # md image -> alt
    c = F.regexp_replace(c, r"\[(.*?)\]\(.*?\)", r"$1")    # md link -> text
    for pat in S._BOILERPLATE:
        c = F.regexp_replace(c, r"(?i)" + pat, "")
    c = F.regexp_replace(c, r"[`*#_]+", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


# ---------------------------------------------------------------------------
# E2 validity filter — boolean Column
# ---------------------------------------------------------------------------


def is_valid_concept(col: Column) -> Column:
    lower = F.lower(col)
    return (
        col.isNotNull()
        & ~lower.isin(*S.CONCEPT_STOPWORDS)
        & (F.length(col) >= 3)
        & col.rlike("[a-zA-Z]")
        & ~col.contains("/")
        & ~col.contains("www.")
        & ~col.contains(".com")
    )


# ---------------------------------------------------------------------------
# E12 normalization — lower/trim + head-token singularization.
# The suffix rules are identical to semantics._singularize_token; the
# irregular map becomes a when-chain over the last whitespace token.
# ---------------------------------------------------------------------------


def _singularize_token_col(tok: Column) -> Column:
    irregular = None
    for plural, singular in S._IRREGULAR_SINGULAR.items():
        branch = F.when(tok == plural, F.lit(singular))
        irregular = branch if irregular is None else irregular.when(tok == plural, F.lit(singular))

    keep = tok.isin(*sorted(S._SINGULAR_FORMS)) | tok.endswith("ss") | (F.length(tok) < 4)
    ies = tok.rlike(r"^.*[^aeiou]ies$")
    es = tok.rlike(r"^.*(ss|x|z|ch|sh)es$")
    plain_s = tok.rlike(r"^.*[^s]s$")

    ruled = (
        F.when(keep, tok)
        .when(ies, F.regexp_replace(tok, r"ies$", "y"))
        .when(es, F.regexp_replace(tok, r"es$", ""))
        .when(plain_s, F.regexp_replace(tok, r"s$", ""))
        .otherwise(tok)
    )
    return irregular.otherwise(ruled)


def normalize_name(col: Column) -> Column:
    lowered = F.trim(F.lower(col))
    head = F.substring_index(lowered, " ", -1)  # last token
    prefix_len = F.length(lowered) - F.length(head)
    prefix = F.substring(lowered, F.lit(1), prefix_len)
    singular_head = _singularize_token_col(head)
    out = F.concat(prefix, singular_head)
    return F.when(col.isNull() | (lowered == ""), F.lit("")).otherwise(out)


#: normalize_name's when-chain costs ~100 driver→JVM py4j round-trips
#: (~0.15 s) just to BUILD; unresolved Column expressions are immutable
#: and reusable across plans in one JVM, so per-run hot paths (the
#: pipeline tail builds three of these per invocation) memoize one
#: instance per source-column name.
_NORM_COL_CACHE: dict[str, Column] = {}


def normalize_name_cached(name: str) -> Column:
    col = _NORM_COL_CACHE.get(name)
    if col is None:
        col = normalize_name(F.col(name))
        _NORM_COL_CACHE[name] = col
    return col


def slugify(col: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(F.lower(col), r"[^a-z0-9]+", "-"), r"^-+|-+$", ""
    )


# ---------------------------------------------------------------------------
# E13 category inference — when-chain over rlike
# ---------------------------------------------------------------------------


def infer_category(col: Column) -> Column:
    c = F.coalesce(col, F.lit(""))
    return (
        F.when(c.rlike("(?i)resistor|capacitor|inductor|filter|ferrite"), F.lit("Passive Components"))
        .when(c.rlike(r"(?i)transistor|diode|regulator|amplifier|ic\b|circuit|converter"), F.lit("Active Components"))
        .when(c.rlike("(?i)connector|cable|socket|header|terminal"), F.lit("Interconnects"))
        .when(c.rlike(r"(?i)antenna|rf\b|coaxial|balun"), F.lit("RF Components"))
        .otherwise(F.lit("General Electronics"))
    )


# ---------------------------------------------------------------------------
# Vector math on array<float> columns — built-in higher-order functions,
# no UDF: used by similarity search / embedding cosine paths.
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)
