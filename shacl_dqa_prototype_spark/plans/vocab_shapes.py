"""C37–C40 — vocabulary shapes, evaluated against the TBox.

Reference: vocabulary_shapes.template.ttl + shacl_shape_builder.py:542-583;
dataset classes/properties are routed to vocabularies by namespace prefix
(dq_assessment.py:176-199).

The TBox is tiny (hundreds of terms), so these compile to broadcast-size
joins; inputs are the vocab_terms dim + the used-class/used-property sets
from the data profile.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from shacl_dqa_prototype_spark.plans.constraints import ShapeSpec, VocabTerm
from shacl_dqa_prototype_spark.plans.scoring import report_frame, score_rows
from shacl_dqa_prototype_spark.schemas import VIOLATIONS_SCHEMA


def namespace_terms(namespace: str, used: set[str]) -> list[str]:
    """The terms of ``used`` routed to the vocabulary with ``namespace``
    by prefix (dq_assessment.py:176-199), sorted: the items of its
    Undefined{Class,Property} shapes. An empty namespace (all-bnode or
    URN vocabulary) routes nothing: startswith('') is True for EVERY term,
    which would flag every used term of the dataset as Undefined — the
    same bool(ns) guard as mine_vocab."""
    return sorted(u for u in used if namespace and u.startswith(namespace))


@dataclass
class VocabPlan:
    violations: DataFrame
    shapes: list[ShapeSpec]


def compile_vocab_constraints(
    spark: SparkSession,
    vocab: str,
    namespace: str,
    vocab_terms: list[VocabTerm],
    term_labels: dict[str, bool],
    used_classes: set[str],
    used_props: set[str],
) -> VocabPlan:
    """Evaluate the four vocabulary shape families for one vocabulary.

    term_labels: term → has rdfs:label in the vocab graph (drives C37/C38).
    """
    shapes: list[ShapeSpec] = []
    rows: list[tuple] = []

    classes = [t for t in vocab_terms if t.term_kind == "class"]
    props = [t for t in vocab_terms if t.term_kind != "class"]

    # C37/C38 LabelForClasses/Properties: minCount 1 label per term.
    # Ratio over the vocab's class/property count (dq_assessment.py:395-398).
    for t in classes:
        if not term_labels.get(t.term, False):
            rows.append(("LabelForClasses", None, t.term, None))
    shapes.append(ShapeSpec("LabelForClasses", None, "vocab_classes"))
    for t in props:
        if not term_labels.get(t.term, False):
            rows.append(("LabelForProperties", None, t.term, None))
    shapes.append(ShapeSpec("LabelForProperties", None, "vocab_properties"))

    # C39/C40 UndefinedClass/Property: every class/property used in the data
    # within this vocab's namespace must be defined by the vocab.
    defined_classes = {t.term for t in classes}
    defined_props = {t.term for t in props}
    for c in namespace_terms(namespace, used_classes):
        if c not in defined_classes:
            rows.append(("UndefinedClass", c, c, None))
        shapes.append(ShapeSpec("UndefinedClass", c, "binary"))
    for p in namespace_terms(namespace, used_props):
        if p not in defined_props:
            rows.append(("UndefinedProperty", p, p, None))
        shapes.append(ShapeSpec("UndefinedProperty", p, "binary"))

    return VocabPlan(
        violations=spark.createDataFrame(rows, VIOLATIONS_SCHEMA), shapes=shapes)


def score_vocab_plan(
    spark: SparkSession,
    vocab: str,
    plan: VocabPlan,
    n_classes: int,
    n_properties: int,
) -> DataFrame:
    """Vocab-shape scoring through the shared score rule (score_rows):
    LabelFor* are ratios over the vocab's class/property count; the
    Undefined* families are binary per term + meta rollups. The violations
    are a local relation of rows built in Python, so their per-shape counts
    are taken in Python too; the sample lists every distinct focus node
    (no cap)."""
    foci: dict[tuple, set[str]] = {}
    for metric, item, focus, _ in plan.violations.collect():
        foci.setdefault((metric, item), set()).add(focus)
    counts = [(m, i, len(fs), "; ".join(sorted(fs)))
              for (m, i), fs in foci.items()]
    rows = score_rows(plan.shapes, counts, {"vocab_classes": n_classes,
                                            "vocab_properties": n_properties},
                      target=f"vocab:{vocab}")
    return report_frame(spark, rows)
