"""Unit tests for the shared pure-Python rule set (SURVEY.md §5.2 item 1)."""

import math

from ontology_learning_spark.functions import semantics as S
from ontology_learning_spark.functions import extraction_rules as X


def test_preprocess_matches_reference_rules():
    raw = "**The** [LM317](http://x.com) regulator! www.ti.com   Submit Document Feedback  `code`"
    out = S.preprocess_text(raw)
    assert out == "the lm317 regulator! code"
    assert S.preprocess_text("![alt text](img.png) rest") == "alt text rest"
    assert S.preprocess_text("a\n\nb\tc") == "a b c"


def test_validity_filter():
    assert not S.is_valid_concept("figure")
    assert not S.is_valid_concept("May")        # stopword, case-insensitive
    assert not S.is_valid_concept("ab")          # too short
    assert not S.is_valid_concept("12345")       # numeric
    assert not S.is_valid_concept("a/b")
    assert not S.is_valid_concept("www.x.org")
    assert not S.is_valid_concept("site.com")
    assert S.is_valid_concept("resistor")
    assert S.is_valid_concept("lm317")


def test_normalization():
    assert S.normalize_name(" Resistors ") == "resistor"
    assert S.normalize_name("Switches") == "switch"
    assert S.normalize_name("chip antennas") == "chip antenna"
    assert S.normalize_name("Capacities") == "capacity"
    assert S.normalize_name("chassis") == "chassis"
    assert S.normalize_name("bus") == "bus"
    assert S.normalize_name("class") == "class"
    assert S.normalize_name("") == ""
    assert S.normalize_name(None) == ""


_SINGULAR_FIXED_POINTS = {
    "licenses": "license", "lenses": "lense", "classes": "class",
    "statuses": "status", "status": "status", "analyses": "analysis",
    "analysis": "analysis", "axes": "axis", "axis": "axis", "uses": "use",
}


def test_singularize_twice_changes_nothing():
    for w, want in _SINGULAR_FIXED_POINTS.items():
        assert S.normalize_name(w) == want
        assert S.normalize_name(want) == want


def test_column_normalize_name_matches_python(spark):
    from pyspark.sql import functions as F

    from ontology_learning_spark.functions import columns as C

    words = list(_SINGULAR_FIXED_POINTS) + ["Switches", "chip antennas", "capacities", "bus", "abcses"]
    rows = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", C.normalize_name(F.col("w")).alias("n")).collect()
    assert {r.w: r.n for r in rows} == {w: S.normalize_name(w) for w in words}


def test_singular_plural_roundtrip():
    for w in ["resistor", "capacitor", "switch", "antenna", "cable", "battery"]:
        assert S.normalize_name(X.pluralize_token(w)) == w


def test_spec_matchers():
    assert S.match_frequency("2.4-5.8 GHz", "2.4-5.8GHz") == 1.0
    assert S.match_frequency("900 MHz", "2.4 GHz") == 0.0
    overlap = S.match_frequency("1-6 GHz", "2.4-5.8 GHz")
    assert 0 < overlap < 1
    assert S.match_impedance("50 ohms", "50") == 1.0
    assert S.match_impedance("50 ohms", "52 ohm") == 0.9
    assert S.match_impedance("50", "75") == 0.0
    assert S.match_voltage("3.3 V", "3.3V") == 1.0
    assert S.match_voltage("3.3 V", "3.6 V") == 0.8
    assert S.match_connector("SMA", "sub miniature a") == 1.0
    assert S.match_mounting("SMD", "surface mount") == 1.0
    assert S.match_mounting("smd", "smd") == 1.0


def test_technical_similarity_requires_1_5_total():
    new = {"frequency": "2.4-5.8 GHz", "impedance": "50 ohms"}
    old = {"frequency": "2.4-5.8 GHz", "impedance": "50 ohms"}
    assert S.technical_similarity(new, old) == 1.0
    assert S.technical_similarity({"frequency": "2.4-5.8 GHz"}, old) is None


def test_embedding_deterministic_and_normalized():
    a = S.hashed_embedding("antenna")
    b = S.hashed_embedding("antenna")
    assert a == b
    assert math.isclose(sum(x * x for x in a), 1.0, rel_tol=1e-9)
    assert S.cosine(a, a) > 0.999999
    assert S.cosine(S.hashed_embedding("antenna"), S.hashed_embedding("zzzz")) < 0.5


def test_decision_cascade():
    th = S.DEFAULT_THRESHOLDS
    assert S.decide(None, "x", None, None, None, th) == (S.EXTEND, None, 0.9)
    assert S.decide(1.0, "resistor", None, "Resistor", None, th) == (S.MAP_EXACT, "Resistor", 1.0)
    d, t, c = S.decide(0.9, "chip antenna", "RF Components", "Antenna", "RF Components", th)
    assert d == S.MAP_SIMILAR and t == "Antenna" and c == 0.85
    d, t, c = S.decide(0.9, "zzz", "A", "qqq www", "B", th)
    assert d == S.EXTEND and t is None
    d, t, c = S.decide(0.75, "x", None, "y", None, th)
    assert d == S.UNCERTAIN and t == "y" and c == 0.5
    assert S.decide(0.3, "x", None, "y", None, th)[0] == S.EXTEND


def test_mention_extraction_rules():
    surfaces = ("resistor", "chip antenna", "antenna")
    m = X.get_matcher(surfaces)
    found = m.find("the resistors and the chip antenna near the antenna lm317 x1")
    got = {(f.surface, f.char_offset) for f in found}
    assert ("resistors", 4) in got
    assert ("chip antenna", 22) in got
    assert ("lm317", 52) in got
    # 'antenna' inside 'chip antenna' must not double-fire at offset 27
    assert ("antenna", 27) not in got
    assert ("antenna", 44) in got


def test_relation_extraction_rules():
    surfaces = ("resistor", "voltage regulator", "antenna")
    text = "the lm317 is a voltage regulator and the antenna is manufactured by murata"
    rels = X.find_relations(text, surfaces)
    assert ("lm317", "instance_of", "voltage regulator") in rels
    text2 = "the resistor is a passive thing"   # obj not in vocab → no triple
    assert not any(r[0] == "resistor" and r[1] == "subclass_of" for r in X.find_relations(text2, surfaces))


def test_block_keys():
    assert "chip" in S.block_keys("chip antenna")
    assert "antenna" in S.block_keys("chip antenna")
    assert "chip" in S.block_keys("chip antenna")
    assert S.block_keys("") == []
    assert "resi" in S.block_keys("resistor")


def test_technical_matches_vectorized_parity(spark):
    """The numpy-vectorized M4 band must reproduce the scalar
    semantics.technical_similarity on every pair of a mixed grid
    (parseable/unparseable/partial/synonym/near-miss values)."""
    from ontology_learning_spark.operators import linking as L

    concepts = [
        ("c1", "2.4 GHz", "50 Ohm", None, None, None),
        ("c2", "2.4-5.8 GHz", "55 Ohm", "5 V", None, None),
        ("c3", None, "50 Ohm", "5 V", "SMA", "smd"),
        ("c4", "bogus", "junk", "5.5 V", "bnc", "through hole"),
        ("c5", "900 MHz", None, "12 V", "sma", "surface mount"),
    ]
    catalog = [
        ("k1", "2.4 GHz", "50 Ohm", "5 V", None, None),
        ("k2", "2-6 GHz", "52 Ohm", None, "sub miniature a", "smt"),
        ("k3", None, None, "5 V", "bayonet neill-concelman", "tht"),
    ]
    cols = "frequency string, impedance string, voltage string, connector string, mounting string"
    props = spark.createDataFrame(concepts, "concept string, " + cols)
    cat = spark.createDataFrame(catalog, "name string, " + cols)

    got = {
        (r["concept"], r["candidate"]): r["score"]
        for r in L.technical_matches(props, cat).collect()
    }
    want = {}
    for c in concepts:
        new = dict(zip(["frequency", "impedance", "voltage", "connector", "mounting"], c[1:]))
        n_new = sum(1 for v in new.values() if v)
        if n_new < 2:
            continue
        for k in catalog:
            old = dict(zip(["frequency", "impedance", "voltage", "connector", "mounting"], k[1:]))
            if sum(1 for v in old.values() if v) < 2:
                continue
            s = S.technical_similarity(new, old)
            if s is not None:
                want[(c[0], k[0])] = s
    assert set(got) == set(want)
    for key, v in want.items():
        assert abs(got[key] - v) < 1e-12, (key, got[key], v)
