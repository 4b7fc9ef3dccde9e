"""Shared pure-Python semantics of the reference pipeline.

Single source of truth for every rule the reference implements
imperatively. Both the Spark pipeline (inside vectorized pandas UDFs)
and the pure-Python test oracle import THIS module, so triple-set
parity between them is by construction; the P/R >= 0.95 gate then
measures the Spark plan's faithfulness (joins, windows, dedup), not
rule drift.

Reference parity notes (file:line refer to the read-only reference at
/root/reference, studied for behavior only — no code copied):
- preprocess_text        ~ src/data_loader.py:13-47
- CONCEPT_STOPWORDS/
  is_valid_concept       ~ src/idea_extractor.py:22-29,49-61
- normalize_name         ~ src/ontology_extension_manager.py:51-57
  (inflect.singular_noun replaced by deterministic suffix rules —
  inflect is not available here; the same rules run on both sides)
- seq_ratio              = difflib.SequenceMatcher.ratio (stdlib, exact)
- match_frequency/...    ~ src/ontology_extension_manager.py:517-650
- decide                 ~ src/ontology_extension_manager.py:368-421
  with the LLM validation band (:423-486) replaced by a deterministic
  token-containment/category tie-break.
"""

from __future__ import annotations

import hashlib
import math
import re
from difflib import SequenceMatcher

# ---------------------------------------------------------------------------
# S2: text preprocessing
# ---------------------------------------------------------------------------

_BOILERPLATE = [
    r"johanson technology, inc\. reserves the right to make design changes without notice\.",
    r"all sales are subject to johanson technology, inc\. terms and conditions\.",
    r"copyright © \d{4} texas instruments incorporated",
    r"submit document feedback",
    r"important notice and disclaimer",
    r"www\.ti\.com",
    r"www\.johansontechnology\.com",
]

_MD_IMAGE = re.compile(r"!\[(.*?)\]\(.*?\)")
_MD_LINK = re.compile(r"\[(.*?)\]\(.*?\)")
_MD_CHARS = re.compile(r"[`*#_]+")
_WS = re.compile(r"\s+")
_BOILER_RES = [re.compile(p, re.IGNORECASE) for p in _BOILERPLATE]


def preprocess_text(text: str) -> str:
    """Lowercase, strip md images/links keeping text, drop boilerplate,
    strip md formatting chars, collapse whitespace."""
    if text is None:
        return ""
    text = text.lower()
    text = _MD_IMAGE.sub(r"\1", text)
    text = _MD_LINK.sub(r"\1", text)
    for rx in _BOILER_RES:
        text = rx.sub("", text)
    text = _MD_CHARS.sub("", text)
    text = _WS.sub(" ", text).strip()
    return text


# ---------------------------------------------------------------------------
# E2: concept validity filter
# ---------------------------------------------------------------------------

CONCEPT_STOPWORDS = frozenset(
    {
        "figure", "table", "application", "system", "section", "part", "example",
        "information", "note", "introduction", "overview", "description", "feature",
        "copyright", "inc", "page", "date", "january", "february", "march", "april",
        "may", "june", "july", "august", "september", "october", "november", "december",
        "california", "texas", "germany", "japan", "china", "india", "france",
    }
)

_HAS_ALPHA = re.compile(r"[a-zA-Z]")


def is_valid_concept(concept: str | None) -> bool:
    if not concept or not isinstance(concept, str):
        return False
    if concept.lower() in CONCEPT_STOPWORDS:
        return False
    if len(concept) < 3:
        return False
    if concept.isnumeric() or not _HAS_ALPHA.search(concept):
        return False
    if "/" in concept or "www." in concept or ".com" in concept:
        return False
    return True


# ---------------------------------------------------------------------------
# E12: name normalization (lower + trim + singularize)
# ---------------------------------------------------------------------------

_IRREGULAR_SINGULAR = {
    "indices": "index",
    "matrices": "matrix",
    "vertices": "vertex",
    "analyses": "analysis",
    "axes": "axis",
    "buses": "bus",
    "statuses": "status",
    "chassis": "chassis",
    "series": "series",
    "species": "species",
}

# Irregular singulars are kept as they are ('axis' must not become 'axi').
_SINGULAR_FORMS = frozenset(_IRREGULAR_SINGULAR.values())

# Deterministic English plural→singular suffix rules, applied to the
# LAST whitespace token (multi-word concepts pluralize their head noun).
# Every output is a fixed point: it ends in 'y', 'ss', 'x', 'z', 'ch',
# 'sh' or a non-'s' letter, so singularizing twice changes nothing.
# '-ses' therefore only drops 'es' after 'ss' (classes -> class); other
# '-ses' words drop the 's' (licenses -> license, not 'licens' -> 'licen').
_SINGULAR_RULES: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"(.*[^aeiou])ies$"), r"\1y"),       # capacities -> capacity
    (re.compile(r"(.*(?:ss|x|z|ch|sh))es$"), r"\1"),  # switches -> switch
    (re.compile(r"(.*[^s])s$"), r"\1"),               # resistors -> resistor
]


def _singularize_token(tok: str) -> str:
    if tok in _IRREGULAR_SINGULAR:
        return _IRREGULAR_SINGULAR[tok]
    # 'class', 'axis', 'bus' and short tokens untouched
    if tok in _SINGULAR_FORMS or tok.endswith("ss") or len(tok) < 4:
        return tok
    for rx, repl in _SINGULAR_RULES:
        if rx.match(tok):
            return rx.sub(repl, tok)
    return tok


def singularize(name: str) -> str:
    parts = name.split(" ")
    if not parts:
        return name
    parts[-1] = _singularize_token(parts[-1])
    return " ".join(parts)


def normalize_name(name: str | None) -> str:
    """Lowercase, strip, plural→singular on the head token."""
    if not name:
        return ""
    return singularize(name.lower().strip())


def slugify(name: str) -> str:
    """URI slug: lowercase, non-alnum runs → '-'; mirrors apoc.text.slug
    usage in the reference graph writer."""
    s = re.sub(r"[^a-z0-9]+", "-", (name or "").lower()).strip("-")
    return s


# ---------------------------------------------------------------------------
# Fuzzy ratio (must be byte-identical with reference: difflib stdlib)
# ---------------------------------------------------------------------------


def seq_ratio(a: str, b: str) -> float:
    return SequenceMatcher(None, a, b).ratio()


# ---------------------------------------------------------------------------
# M4a-e: technical-spec matchers
# ---------------------------------------------------------------------------

_NUM = re.compile(r"[\d.]+")


def _extract_freq_range(freq_str: str) -> tuple[float, float] | None:
    s = freq_str.lower().replace(" ", "")
    if "ghz" in s:
        mult = 1000.0
    elif "mhz" in s:
        mult = 1.0
    else:
        return None
    nums = _NUM.findall(s)
    if not nums:
        return None
    try:
        vals = [float(n) * mult for n in nums]
    except ValueError:
        return None
    if len(vals) == 1:
        return (vals[0], vals[0])
    return (min(vals), max(vals))


def match_frequency(f1: str, f2: str) -> float:
    """Interval-overlap ratio of parsed MHz ranges."""
    r1, r2 = _extract_freq_range(f1), _extract_freq_range(f2)
    if not r1 or not r2:
        return 0.0
    lo = max(r1[0], r2[0])
    hi = min(r1[1], r2[1])
    if lo <= hi:
        total = max(r1[1], r2[1]) - min(r1[0], r2[0])
        return (hi - lo) / total if total > 0 else 1.0
    return 0.0


def _first_number(s: str) -> float | None:
    nums = _NUM.findall(s.lower())
    if not nums:
        return None
    try:
        return float(nums[0])
    except ValueError:
        return None


def match_impedance(a: str, b: str) -> float:
    v1, v2 = _first_number(a), _first_number(b)
    if v1 is None or v2 is None:
        return 0.0
    if v1 == v2:
        return 1.0
    if abs(v1 - v2) / max(v1, v2) <= 0.1:
        return 0.9
    return 0.0


def match_voltage(a: str, b: str) -> float:
    v1, v2 = _first_number(a), _first_number(b)
    if v1 is None or v2 is None:
        return 0.0
    if v1 == v2:
        return 1.0
    if abs(v1 - v2) / max(v1, v2) <= 0.1:
        return 0.8
    return 0.0


_CONNECTOR_SYNONYMS = [
    {"sma", "sub miniature a"},
    {"bnc", "bayonet neill-concelman"},
    {"n-type", "n connector", "type n"},
    {"mmcx", "micro-miniature coaxial"},
]

_MOUNTING_SYNONYMS = [
    {"smd", "smt", "surface mount", "surface-mount"},
    {"through hole", "through-hole", "tht", "thru-hole"},
    {"panel mount", "panel-mount", "chassis mount"},
]


def _synonym_match(a: str, b: str, groups: list[set[str]]) -> float:
    a, b = a.lower().strip(), b.lower().strip()
    if a == b:
        return 1.0
    for g in groups:
        if a in g and b in g:
            return 1.0
    return seq_ratio(a, b)


def match_connector(a: str, b: str) -> float:
    return _synonym_match(a, b, _CONNECTOR_SYNONYMS)


def match_mounting(a: str, b: str) -> float:
    return _synonym_match(a, b, _MOUNTING_SYNONYMS)


TECH_MATCHERS = {
    "frequency": match_frequency,
    "impedance": match_impedance,
    "voltage": match_voltage,
    "connector": match_connector,
    "mounting": match_mounting,
}

# E9: unit-pattern property extraction over (lowercased) context text.
# Same pattern strings drive Java regexp_extract (Spark) and re.search
# (oracle) — plain character classes, identical semantics.
PROP_PATTERNS: dict[str, str] = {
    "frequency": r"(\d+(?:\.\d+)?(?:\s*-\s*\d+(?:\.\d+)?)?\s*[gm]hz)",
    "impedance": r"(\d+(?:\.\d+)?\s*ohms?)",
    "voltage": r"(\d+(?:\.\d+)?\s*v)\b",
    "connector": r"\b(sma|bnc|n-type|mmcx|u\.fl)\b",
    "mounting": r"\b(surface mount|surface-mount|smd|smt|through hole|through-hole|tht|panel mount)\b",
}

_PROP_RES = {k: re.compile(v) for k, v in PROP_PATTERNS.items()}

CONTEXT_CHUNKS = 3
CONTEXT_CAP = 2000


def extract_props(context: str) -> dict[str, str | None]:
    out: dict[str, str | None] = {}
    for prop, rx in _PROP_RES.items():
        m = rx.search(context or "")
        out[prop] = m.group(1) if m else None
    return out


def technical_similarity(new: dict, existing: dict) -> float | None:
    """M4: sum of per-prop sims > 0.7; require total >= 1.5; return mean."""
    total = 0.0
    n = 0
    for prop, fn in TECH_MATCHERS.items():
        a, b = new.get(prop), existing.get(prop)
        if a and b:
            s = fn(a, b)
            if s > 0.7:
                total += s
                n += 1
    if total >= 1.5 and n:
        return total / n
    return None


# ---------------------------------------------------------------------------
# Blocking contract for fuzzy candidate generation (M3-fuzzy / M5).
# Both the Spark linker and the oracle generate candidate pairs ONLY
# where block keys intersect: whitespace tokens + 4-char prefix of the
# normalized name. This is the scale-correct adaptation of the
# reference's all-pairs SequenceMatcher loop.
# ---------------------------------------------------------------------------


def block_keys(norm_name: str) -> list[str]:
    if not norm_name:
        return []
    keys = set(norm_name.split(" "))
    keys.add(norm_name[:4])
    return sorted(keys)


# ---------------------------------------------------------------------------
# E14 (deterministic): hashed char-3gram embedding + cosine
# ---------------------------------------------------------------------------

EMBED_DIM = 64


from functools import lru_cache


@lru_cache(maxsize=1 << 20)
def _gram_hash(g: str) -> int:
    return int.from_bytes(hashlib.md5(g.encode()).digest()[:4], "little")


def hashed_embedding(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic char-trigram feature-hash vector (L2-normalized).

    Replaces the reference's OpenAI ada-002 call (an external service)
    with a pure function so the similarity band is reproducible.
    Trigram hashes are memoized — the gram vocabulary is tiny relative
    to the corpus, so this is ~10x on hot paths (executors keep the
    cache for the process lifetime).
    """
    v = [0.0] * dim
    t = f"  {text.lower()}  "
    for i in range(len(t) - 2):
        h = _gram_hash(t[i : i + 3])
        v[h % dim] += 1.0 if (h >> 31) & 1 == 0 else -1.0
    norm = math.sqrt(sum(x * x for x in v))
    if norm > 0:
        v = [x / norm for x in v]
    return v


# Scores are rounded to 12 decimals on BOTH sides (oracle and Spark)
# before thresholding/ranking: different float64 summation orders
# (np.dot vs matmul) agree to ~1e-15, so rounding makes argmax and
# threshold comparisons method-independent.
SCORE_DECIMALS = 12


def cosine(a: list[float], b: list[float]) -> float:
    import numpy as np

    va = np.asarray(a, dtype=np.float64)
    vb = np.asarray(b, dtype=np.float64)
    da = float(np.linalg.norm(va))
    db = float(np.linalg.norm(vb))
    if da == 0.0 or db == 0.0:
        return 0.0
    return round(float(np.dot(va, vb)) / (da * db), SCORE_DECIMALS)


def concept_text(concept: dict) -> str:
    """Embedding text for a concept: name + optional category/
    description(≤200)/frequency/impedance."""
    parts = [concept.get("name", "")]
    if concept.get("category"):
        parts.append(f"Category: {concept['category']}")
    if concept.get("description"):
        parts.append(f"Description: {concept['description'][:200]}")
    if concept.get("frequency"):
        parts.append(f"Frequency: {concept['frequency']}")
    if concept.get("impedance"):
        parts.append(f"Impedance: {concept['impedance']}")
    return ". ".join(parts)


# ---------------------------------------------------------------------------
# M7 decision cascade (+ deterministic M8 tie-break)
# ---------------------------------------------------------------------------

# PipelineConfig defaults — what the integrated pipeline actually runs with.
DEFAULT_THRESHOLDS = {
    "exact_match": 0.95,
    "high_similarity": 0.85,
    "medium_similarity": 0.70,
    "low_similarity": 0.50,
}

EXTEND = "EXTEND"
MAP_EXACT = "MAP_EXACT"
MAP_SIMILAR = "MAP_SIMILAR"
UNCERTAIN = "UNCERTAIN"


def token_set_contained(a: str, b: str) -> bool:
    ta = set(a.lower().split())
    tb = set(b.lower().split())
    if not ta or not tb:
        return False
    return ta <= tb or tb <= ta


def validate_similarity(new_name: str, new_category: str | None,
                        best_name: str, best_category: str | None) -> bool:
    """Deterministic stand-in for the reference's LLM SAME_ENTITY check:
    token-set containment on normalized names, or category agreement."""
    if token_set_contained(normalize_name(new_name), normalize_name(best_name)):
        return True
    if new_category and best_category and new_category.lower() == best_category.lower():
        return True
    return False


def decide(
    best_score: float | None,
    new_name: str,
    new_category: str | None,
    best_name: str | None,
    best_category: str | None,
    thresholds: dict | None = None,
    enable_validation: bool = True,
) -> tuple[str, str | None, float]:
    """The M7 cascade. Returns (decision, target_concept, confidence)."""
    th = thresholds or DEFAULT_THRESHOLDS
    if best_score is None or best_name is None:
        return (EXTEND, None, 0.9)
    if best_score >= 0.999:
        return (MAP_EXACT, best_name, best_score)
    if best_score >= th["high_similarity"] and enable_validation:
        if validate_similarity(new_name, new_category, best_name, best_category):
            return (MAP_SIMILAR, best_name, 0.85)
        return (EXTEND, None, 0.85)
    if best_score >= th["medium_similarity"]:
        return (UNCERTAIN, best_name, 0.5)
    return (EXTEND, None, 0.8)


def route_parent(decision: str, target: str | None, best_name: str | None) -> str | None:
    """M11: EXTEND/UNCERTAIN concepts become CREATE_CLASS tasks whose
    parent is target ?? best match ?? 'ElectronicComponent'."""
    if decision not in (EXTEND, UNCERTAIN):
        return None
    return target or best_name or "ElectronicComponent"


# ---------------------------------------------------------------------------
# E13: category inference
# ---------------------------------------------------------------------------

_CAT_RULES = [
    (re.compile(r"resistor|capacitor|inductor|filter|ferrite", re.I), "Passive Components"),
    (re.compile(r"transistor|diode|regulator|amplifier|ic\b|circuit|converter", re.I), "Active Components"),
    (re.compile(r"connector|cable|socket|header|terminal", re.I), "Interconnects"),
    (re.compile(r"antenna|rf\b|coaxial|balun", re.I), "RF Components"),
]


def infer_category(name: str) -> str:
    for rx, cat in _CAT_RULES:
        if rx.search(name or ""):
            return cat
    return "General Electronics"
