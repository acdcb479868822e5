"""The driver-side score rule (scoring.score_rows) against hand-computed
values: binary shapes, the count-metric ratio with its missing and zero
denominators, and the meta rollup. Pure Python — no Spark job runs."""

from __future__ import annotations

from shacl_dqa_prototype_spark.plans.constraints import ShapeSpec
from shacl_dqa_prototype_spark.plans.scoring import score_rows


def _by_key(rows):
    out = {}
    for target, dim, metric, item, kind, measure, n, sample in rows:
        key = (metric, item, kind)
        assert key not in out, key
        out[key] = (target, dim, measure, n, sample)
    return out


SHAPES = [
    ShapeSpec("DeprecatedClasses", None, "binary"),
    ShapeSpec("InverseFunctionalPropertyUniqueness", "p:a", "binary"),
    ShapeSpec("FunctionalProperty", "p:a", "subjects_per_property", "p:a"),
    # zero violations, and the property has no subjects_per_property row
    ShapeSpec("FunctionalProperty", "p:unused", "subjects_per_property",
              "p:unused"),
    # violations, but the denominator key is missing
    ShapeSpec("AsymmetricProperty", "p:gone", "subjects_per_property",
              "p:gone"),
    # more violations than the denominator: floored at 0
    ShapeSpec("IrreflexiveProperty", "p:a", "subjects_per_property", "p:a"),
    ShapeSpec("LabelForEntities", None, "entities"),
    ShapeSpec("ProlixFeatures", None, "entities"),
    # the first class has no entities_per_class row
    ShapeSpec("EntitiesDisjointClasses", "c:A|c:B", "entities_per_class",
              "c:A"),
    ShapeSpec("EntitiesDisjointClasses", "c:B|c:A", "entities_per_class",
              "c:B"),
]
COUNTS = [
    ("DeprecatedClasses", None, 2, "urn:x; urn:y"),
    ("FunctionalProperty", "p:a", 1, "urn:s1"),
    ("AsymmetricProperty", "p:gone", 3, "urn:s1; urn:s2; urn:s3"),
    ("IrreflexiveProperty", "p:a", 9, "urn:z"),
    ("LabelForEntities", None, 3, "urn:e1; urn:e2; urn:e3"),
    ("EntitiesDisjointClasses", "c:A|c:B", 1, "urn:e1"),
    ("EntitiesDisjointClasses", "c:B|c:A", 1, "urn:e1"),
    # a count without a shape is not reported
    ("MisplacedClasses", "c:X", 5, "urn:q"),
]
SPP = {"p:a": 4}
EPC = {"c:B": 4}


def _denoms(num_entities):
    return {"entities": num_entities, "subjects_per_property": SPP,
            "entities_per_class": EPC}


def test_score_rows_hand_computed():
    got = _by_key(score_rows(SHAPES, COUNTS, _denoms(12), target="data"))
    C = "Consistency"
    assert got == {
        # binary: any violation → 0, none → 1
        ("DeprecatedClasses", None, "binary"): (
            "data", C, 0.0, 2, "urn:x; urn:y"),
        ("InverseFunctionalPropertyUniqueness", "p:a", "binary"): (
            "data", C, 1.0, 0, None),
        # 1 − 1/4
        ("FunctionalProperty", "p:a", "ratio"): ("data", C, 0.75, 1, "urn:s1"),
        ("FunctionalProperty", "p:unused", "ratio"): ("data", C, 1.0, 0, None),
        ("AsymmetricProperty", "p:gone", "ratio"): (
            "data", C, 0.0, 3, "urn:s1; urn:s2; urn:s3"),
        ("IrreflexiveProperty", "p:a", "ratio"): ("data", C, 0.0, 9, "urn:z"),
        # 1 − 3/12
        ("LabelForEntities", None, "ratio"): (
            "data", "Understandability", 0.75, 3, "urn:e1; urn:e2; urn:e3"),
        ("ProlixFeatures", None, "ratio"): (
            "data", "Representational Conciseness", 1.0, 0, None),
        ("EntitiesDisjointClasses", "c:A|c:B", "ratio"): (
            "data", C, 0.0, 1, "urn:e1"),
        ("EntitiesDisjointClasses", "c:B|c:A", "ratio"): (
            "data", C, 0.75, 1, "urn:e1"),
        # meta rollup per per-item family: share of items scoring 1, and
        # the sum of their violations; entity-scoped shapes (item None)
        # have none
        ("InverseFunctionalPropertyUniqueness", None, "meta"): (
            "data", C, 1.0, 0, None),
        ("FunctionalProperty", None, "meta"): ("data", C, 0.5, 1, None),
        ("AsymmetricProperty", None, "meta"): ("data", C, 0.0, 3, None),
        ("IrreflexiveProperty", None, "meta"): ("data", C, 0.0, 9, None),
        ("EntitiesDisjointClasses", None, "meta"): ("data", C, 0.0, 2, None),
    }


def test_score_rows_without_entities():
    """num_entities == 0: a violated entity-scoped shape floors to 0, an
    unviolated one scores 1."""
    got = _by_key(score_rows(SHAPES, COUNTS, _denoms(0), target="data"))
    assert got[("LabelForEntities", None, "ratio")][2:4] == (0.0, 3)
    assert got[("ProlixFeatures", None, "ratio")][2:4] == (1.0, 0)


def test_score_rows_measure_types():
    """Measures are floats and counts ints, as REPORT_SCHEMA needs them."""
    for row in score_rows(SHAPES, COUNTS, _denoms(12)):
        assert type(row[5]) is float and type(row[6]) is int, row
