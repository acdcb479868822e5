"""D2–D7 — violation → score → report.

Reference semantics (/root/reference/dq_assessment.py:452-586 and
const.py:33-104):
  * binary metrics: any violation ⇒ measure 0 (dq_assessment.py:457-485);
  * count metrics: measure = 1 − |distinct focus nodes| / denominator,
    denominator family selected per metric (utils.py:849-871);
  * meta rollup per per-item family: share of items with score 1
    (dq_assessment.py:577-586);
  * violations stringified '; '-joined (dq_assessment.py:566-568).

Batch (dqa.run_data_dqa) and incremental (incremental.score_from_state)
DQA both score through score_plan, over a ConstraintPlan and a
GraphProfile. Spark does only the O(violations + profile) part, as four
concurrent collects: ONE aggregation of the violations DF to (metric,
item) → distinct-focus count + sorted sample (violation_counts), and the
profile's per-property, per-class and entity-count tables, which a
profile collects once (GraphProfile.collected), so a profile read before
scoring adds no job here. Everything
after them is O(#shapes) and runs on the driver in plain Python: the
shape list is instantiated from the collected property and class keys
(constraints.data_shapes), and score_rows supplies the zero-violation
rows, looks the denominators up in dicts, applies the measure rule and the
meta rollup row by row, and the report comes back as one local relation.
No shape-spec join, denominator broadcast or rollup aggregate runs in
Spark, and nothing is cached or checkpointed.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.plans.constraints import (
    ConstraintPlan,
    ShapeSpec,
    data_shapes,
)
from shacl_dqa_prototype_spark.plans.profile import GraphProfile
from shacl_dqa_prototype_spark.plans.report_csv import METRIC_IDS
from shacl_dqa_prototype_spark.schemas import REPORT_SCHEMA

MAX_VIOLATION_SAMPLES = 100  # cap the '; '-joined list (CSV stays small)


def violation_counts(violations: DataFrame) -> DataFrame:
    """(metric, item, num_violations, violations): the distinct focus nodes
    per shape and their smallest MAX_VIOLATION_SAMPLES, '; '-joined — the
    D2/D3 numerator and the D5 sample list, one row per shape that has
    violations.

    Two-level aggregation spreads a metric's samples over salt buckets:
    each (metric, item, salt) group contributes an exact sub-count plus
    its local smallest-K sample; the final merge sums counts and re-sorts
    at most K × #buckets strings. The first level still collect_lists
    EVERY distinct focus of its bucket before slicing to K, so a reducer
    holds about 1/n_buckets of a metric's violations — split
    n_buckets ways, not bounded by K. A single collect_set over the group
    (the naive plan) would buffer all of them in one reducer. The salt
    must be DETERMINISTIC (a hash of focus, not
    spark_partition_id): nondeterministic expressions make the plan fail
    sameResult checks, so downstream queries would never hit a cache of
    this DF and silently re-aggregate."""
    spark = violations.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    d = violations.select("metric", "item", "focus").distinct()
    part = d.groupBy(
        "metric", "item",
        F.pmod(F.xxhash64("focus"), F.lit(n_buckets)).alias("_salt"),
    ).agg(
        F.count("*").alias("_c"),
        F.slice(F.array_sort(F.collect_list("focus")),
                1, MAX_VIOLATION_SAMPLES).alias("_tops"),
    )
    return part.groupBy("metric", "item").agg(
        F.sum("_c").alias("num_violations"),
        F.concat_ws(
            "; ",
            F.slice(F.array_sort(F.flatten(F.collect_list("_tops"))),
                    1, MAX_VIOLATION_SAMPLES),
        ).alias("violations"),
    )


def score_rows(
    shapes: list[ShapeSpec],
    counts: list[tuple],
    denominators: dict[str, int | dict[str, int]],
    target: str = "data",
) -> list[tuple]:
    """The report rows (REPORT_SCHEMA order) for ``shapes``: one per shape,
    then one meta-rollup row per per-item family (score_kind='meta').

    ``counts`` holds the collected violation_counts rows as (metric, item,
    num_violations, violations); a shape without a row has no violations.
    ``denominators`` maps a shape's denom family to the denominator of its
    count metric: a number (entities, vocab_classes, vocab_properties) or
    a dict the shape's denom_key is looked up in (subjects_per_property,
    entities_per_class)."""
    found = {(m, i): (n, v) for m, i, n, v in counts}
    rows = []
    for sp in shapes:
        n, sample = found.get((sp.metric, sp.item), (0, None))
        if sp.denom == "binary":
            measure = 1.0 if n == 0 else 0.0
        elif n == 0:
            # zero violations → 1.0 even when the denominator dim has no
            # row (property unused)
            measure = 1.0
        else:
            # Parity note: EntitiesDisjointClasses divides a subclass-
            # CLOSURE numerator (pySHACL sh:class semantics) by the
            # DIRECT-typing entities_per_class denominator — deliberately
            # mirroring the reference (utils.py:869-871 reads the same
            # profile dict and defaults a missing class to 1, flooring the
            # measure to 0). A missing or zero denominator floors to 0.0.
            denom = denominators.get(sp.denom)
            if isinstance(denom, dict):
                denom = denom.get(sp.denom_key)
            measure = max(0.0, 1.0 - n / denom) if denom else 0.0
        rows.append((target, METRIC_IDS[sp.metric][0], sp.metric, sp.item,
                     "binary" if sp.denom == "binary" else "ratio",
                     measure, n, sample))

    # D4 — meta rollup for per-item families: share of items scoring 1
    per_metric: dict[str, list[tuple]] = {}
    for r in rows:
        if r[3] is not None:
            per_metric.setdefault(r[2], []).append(r)
    for metric, items in per_metric.items():
        rows.append((target, METRIC_IDS[metric][0], metric, None, "meta",
                     sum(r[5] == 1.0 for r in items) / len(items),
                     sum(r[6] for r in items), None))
    return rows


def score_plan(
    spark: SparkSession,
    plan: ConstraintPlan,
    profile: GraphProfile,
    target: str = "data",
) -> DataFrame:
    """Violations + profile → per-shape report rows + meta-rollup rows
    (score_kind='meta'), as one local relation.

    The violation counts are collected beside the profile's one collect
    (GraphProfile.collected; no job when the profile was read before);
    the shape list comes from the collected property and class keys, and
    score_rows does the rest on the driver. Driver memory is
    O(#shapes + #properties + #classes): the per-shape rows carry at most
    MAX_VIOLATION_SAMPLES focus nodes each, at any corpus scale."""
    with ThreadPoolExecutor(max_workers=1) as ex:
        counts = ex.submit(violation_counts(plan.violations).collect)
        props, classes, ents = profile.collected
        counts = counts.result()
    shapes = data_shapes(plan.vocab_terms, plan.disjoint_pairs, plan.cfg,
                         set(props), set(classes))
    rows = score_rows(shapes, counts, {
        "entities": ents["num_entities"],
        "subjects_per_property": {p: n for p, (_, n) in props.items()},
        "entities_per_class": classes}, target)
    return report_frame(spark, rows)


def report_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Report rows (REPORT_SCHEMA order) as a local relation: handed to
    Spark as one Arrow table, so the plan is a LocalTableScan and actions
    on it (the report writes, a collect) run no tasks. An empty ``rows``
    gives an empty, typed report."""
    return spark.createDataFrame(pa.table({
        name: [r[i] for r in rows]
        for i, name in enumerate(REPORT_SCHEMA.fieldNames())}), REPORT_SCHEMA)
