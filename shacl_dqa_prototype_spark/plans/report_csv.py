"""D6/D7 — the reference-shaped final CSV.

The reference assembles one CSV row per metric FAMILY
(/root/reference/dq_assessment.py:884-1293): per-item families roll up to
`score = (#items with score 1) / #items` and `num_violations = #violated
items` (create_aggregate_metric, dq_assessment.py:577-586); single-shape
metrics carry their measure and focus-node violation count. Static columns
(dimension, metric_id, metric_type) and the presentation texts
(metric/message/metric_description/metric_calculation/
meta_metric_calculation/shape_template/violation_text) come from the
reference's published metric metadata (const.py:148-341,
metrics_templates/*.json, shapes/*.template.ttl sh:message), re-expressed
in plans/metric_texts.py (generated by tools/gen_metric_texts.py).
tools/pizza_parity.py verifies every column against the committed golden
CSV (violation lists as multisets — their order is pySHACL
dict-iteration order in the reference, which is not reproducible).

Known reference quirks mirrored because they are observable in the CSV:
  * the family row name is '<Metric>Shape' (single metrics keep the plain
    name; a single-member family keeps its '_<idx>' suffix — we emit the
    'Shape' form and the parity check normalizes both);
  * MalformedLiteral's CSV row is named 'MalformedDatatypeShape';
  * EntitiesDisjointClasses counts both directed shapes (pairs ×2,
    dq_assessment.py:1040-1044) — our per-item rows are already directed.
"""

from __future__ import annotations

CSV_COLUMNS = [
    "dimension", "metric_id", "metric", "score", "message",
    "metric_description", "metric_type", "metric_calculation",
    "meta_metric_calculation", "shape_name", "shape_template",
    "violations", "violation_text", "num_violations", "vocab",
]

# metric → (dimension, metric_id, metric_type) — reference const.py:148-341;
# every report row takes its dimension from here
METRIC_IDS: dict[str, tuple[str, str, str]] = {
    "AsymmetricProperty": ("Consistency", "CN10", "count"),
    "AuthenticityOfDataset": ("Security", "S2", "binary"),
    "AvailabilityDump": ("Availability", "A2", "binary"),
    "BlankNodesUsageEntities": ("Interpretability", "ITP4", "count"),
    "CorrectDomain": ("Consistency", "CN9", "count"),
    "CorrectRange": ("Consistency", "CN9", "count"),
    "DeprecatedClasses": ("Consistency", "CN4", "binary"),
    "DeprecatedProperties": ("Consistency", "CN4", "count"),
    "DifferentLanguagesDescriptionsEntities": ("Versatility", "V2", "count"),
    "DifferentLanguagesLabelsEntities": ("Versatility", "V2", "count"),
    "EntitiesDisjointClasses": ("Consistency", "CN1", "count"),
    "ExemplaryResources": ("Understandability", "U2", "binary"),
    "FunctionalProperty": ("Consistency", "CN10", "count"),
    "InterlinkingCompleteness": ("Completeness", "C4", "count"),
    "InverseFunctionalPropertyUniqueness": ("Consistency", "CN5", "binary"),
    "IrreflexiveProperty": ("Consistency", "CN10", "count"),
    "LabelForClasses": ("Understandability", "U1", "count"),
    "LabelForEntities": ("Understandability", "U1", "count"),
    "LabelForProperties": ("Understandability", "U1", "count"),
    "MachineReadableLicense": ("Licensing", "L1", "binary"),
    "MalformedLiteral": ("Syntactic Validity", "SV3", "count"),
    "MisplacedClasses": ("Consistency", "CN2", "binary"),
    "MisplacedProperties": ("Consistency", "CN2", "binary"),
    "MisuseOwlDatatypeProperties": ("Consistency", "CN3", "count"),
    "MisuseOwlObjectProperties": ("Consistency", "CN3", "count"),
    "PresenceMetadata": ("Understandability", "U1", "binary"),
    "ProlixFeatures": ("Representational Conciseness", "RC2", "count"),
    "SchemaCompletenessClassUsage": ("Completeness", "CP1", "count"),
    "SelfDescriptiveFormat": ("Interpretability", "ITP1", "count"),
    "SelfDescriptiveFormatProperties": ("Interpretability", "ITP1", "count"),
    "SerializationFormats": ("Versatility", "V1", "binary"),
    "URIRegexComplianceEntities": ("Understandability", "U3", "count"),
    "URIRegexPressence": ("Understandability", "U3", "binary"),
    "URISpaceComplianceEntities": ("Understandability", "U3", "count"),
    "URISpacePressence": ("Understandability", "U3", "binary"),
    "URIsLengthEntities": ("Representational Conciseness", "RC1", "count"),
    "URIsParametersEntities": ("Representational Conciseness", "RC1", "count"),
    "UndefinedClass": ("Interpretability", "ITP3", "count"),
    "UndefinedProperty": ("Interpretability", "ITP3", "count"),
    "UsageExternalURIEntities": ("Interlinking", "I2", "count"),
    "UsageHashURIsEntities": ("Performance", "P1", "count"),
    "VocabularyExistence": ("Understandability", "U5", "binary"),
}

# metric → CSV family-row shape_name when it differs from '<metric>Shape'
CSV_NAME_OVERRIDES = {"MalformedLiteral": "MalformedDatatypeShape"}

# Reference CSV row order. The reference appends rows in three passes
# (metadata, data, per-vocab), each emitting per-shape singles in
# shapes-graph order followed by family rollups in a fixed code order
# (dq_assessment.py:1134-1262); the sequence below reproduces the golden
# dq_assessment_pizza.csv row order exactly. Metric names across the
# metadata/data sections are disjoint, so one flat list suffices.
ROW_ORDER = [
    # metadata singles
    "AvailabilityDump", "MachineReadableLicense", "AuthenticityOfDataset",
    "PresenceMetadata", "ExemplaryResources", "URIRegexPressence",
    "URISpacePressence", "VocabularyExistence", "SerializationFormats",
    # data per-shape singles (shapes-graph order)
    "UsageExternalURIEntities", "UsageHashURIsEntities", "LabelForEntities",
    "URIRegexComplianceEntities", "URISpaceComplianceEntities",
    "URIsParametersEntities", "URIsLengthEntities", "ProlixFeatures",
    "DifferentLanguagesLabelsEntities",
    "DifferentLanguagesDescriptionsEntities", "SelfDescriptiveFormat",
    "BlankNodesUsageEntities", "InterlinkingCompleteness",
    "InverseFunctionalPropertyUniqueness", "DeprecatedClasses",
    # data family rollups (dq_assessment.py emission order)
    "MisplacedProperties", "MisplacedClasses", "CorrectRange",
    "CorrectDomain", "EntitiesDisjointClasses", "IrreflexiveProperty",
    "SelfDescriptiveFormatProperties", "MisuseOwlObjectProperties",
    "MisuseOwlDatatypeProperties", "FunctionalProperty",
    "AsymmetricProperty", "SchemaCompletenessClassUsage",
    "MalformedLiteral", "DeprecatedProperties",
    # per-vocab rows (within each vocab)
    "LabelForClasses", "LabelForProperties", "UndefinedProperty",
    "UndefinedClass",
]
_ROW_RANK = {m: i for i, m in enumerate(ROW_ORDER)}


def reference_csv_rows(report_rows: list, uris_max_length: int = 80) -> list[dict]:
    """Collected report rows (target/dimension/metric/item/score_kind/
    measure/num_violations/violations) → one dict per reference CSV row,
    presentation text columns included (metric_texts.py carries the
    reference's published per-metric metadata).

    Metadata rows store their violation message in the `violations` slot
    of the report schema (run_metadata_dqa) — it surfaces as `message`.
    Rows come out in the reference's CSV row order (ROW_ORDER above;
    asserted against the golden in tools/pizza_parity.py). Family-row
    violation-list ORDER within a cell differs from the reference (ours is
    sorted; the reference emits pySHACL dict-iteration order, which is
    not reproducible) — the parity check compares them as multisets."""
    from shacl_dqa_prototype_spark.plans.metric_texts import (
        FAMILY_INFO,
        FAMILY_KEY,
        SINGLE_INFO,
        SINGLE_MESSAGES,
        TUPLE_FAMILIES,
    )

    by_metric: dict[tuple, list] = {}
    vocab_rank: dict[str, int] = {}  # vocabs keep report-row (config) order
    for r in report_rows:
        key = (r["target"], r["metric"])
        by_metric.setdefault(key, []).append(r)
        if r["target"].startswith("vocab:"):
            vocab_rank.setdefault(r["target"], len(vocab_rank))

    def row_rank(item: tuple) -> tuple:
        target, metric = item[0]
        return (vocab_rank.get(target, -1),
                _ROW_RANK.get(metric, len(ROW_ORDER)), metric)

    def fill(base: dict, info: dict) -> None:
        base["dimension"] = info.get("dimension", base["dimension"])
        base["metric_id"] = info.get("metric_id", "")
        base["metric"] = info.get("metric", "")
        base["metric_description"] = info.get("description", "")
        base["metric_type"] = info.get("metric_type", base["metric_type"])
        base["metric_calculation"] = info.get("metric_calculation", "")
        base["meta_metric_calculation"] = info.get("meta_metric_calculation", "")
        base["shape_template"] = info.get("shape_template", "")

    out: list[dict] = []
    for (target, metric), rows in sorted(by_metric.items(), key=row_rank):
        dim, mid, mtype = METRIC_IDS.get(metric, (rows[0]["dimension"], "", ""))
        vocab = target.split(":", 1)[1] if target.startswith("vocab:") else ""
        items = [r for r in rows if r["item"] is not None
                 and r["score_kind"] != "meta"]
        base = {c: "" for c in CSV_COLUMNS}
        base.update({"dimension": dim, "metric_id": mid, "metric_type": mtype,
                     "vocab": vocab})

        if metric in FAMILY_KEY and items:
            # rollup row (reference create_metric_info semantics)
            info = FAMILY_INFO[FAMILY_KEY[metric]]
            fill(base, info)
            base["shape_name"] = info.get(
                "shape_name", CSV_NAME_OVERRIDES.get(metric, f"{metric}Shape"))
            base["violation_text"] = info.get("violation_text", "")
            violated = sorted(
                (r for r in items if r["measure"] != 1.0),
                key=lambda r: str(r["item"]))
            score = (len(items) - len(violated)) / len(items)
            base["score"] = score
            base["num_violations"] = len(violated)
            if metric == "EntitiesDisjointClasses":
                parts = [
                    "({},{},{})".format(*str(r["item"]).split("|", 1),
                                        float(r["measure"]))
                    for r in violated
                ]
            elif metric in TUPLE_FAMILIES:
                parts = [f"({r['item']},{float(r['measure'])})" for r in violated]
            else:
                parts = [str(r["item"]) for r in violated]
            base["violations"] = "; ".join(parts)
            # message: "<violated shape count> <family text>" — disjoint
            # shapes are double-counted (dq_assessment.py:1040-1044)
            mult = 2 if metric == "EntitiesDisjointClasses" else 1
            if score < 1 and not vocab:
                base["message"] = f"{mult * len(violated)} {info['message']}"
            out.append(base)
            continue

        r = next(r for r in rows if r["score_kind"] != "meta")
        fill(base, SINGLE_INFO.get(metric, {}))
        base["shape_name"] = metric
        # binary singles are Python ints in the reference JSON → CSV '0'/'1';
        # count scores and family rollups stay float-repr ('0.0')
        meas = r["measure"]
        if mtype == "binary" and float(meas) == int(float(meas)):
            meas = int(float(meas))
        base["score"] = meas
        if target == "metadata":
            # the reference's metadata JSON carries no violation counts
            base["num_violations"] = 0
            if r["measure"] != 1:
                base["message"] = r["violations"] or ""
        elif metric == "InverseFunctionalPropertyUniqueness":
            # quirk (dq_assessment.py:1110-1116): violations = the
            # duplicated values prefixed with the property, nv = #values
            base["num_violations"] = r["num_violations"]
            base["violations"] = f"({r['item']}); " + (r["violations"] or "") + " )"
        elif metric == "DeprecatedClasses":
            # focus nodes ';'-joined without spaces (dq_assessment.py:485)
            base["num_violations"] = r["num_violations"]
            base["violations"] = ";".join(
                v.strip() for v in (r["violations"] or "").split(";") if v.strip())
        else:
            base["num_violations"] = r["num_violations"]
            base["violations"] = r["violations"] or ""
            if r["measure"] != 1 and metric in SINGLE_MESSAGES:
                base["message"] = SINGLE_MESSAGES[metric].format(
                    max_length=uris_max_length)
        out.append(base)
    return out


def write_reference_csv(rows: list[dict], path: str) -> None:
    import csv

    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=CSV_COLUMNS)
        w.writeheader()
        for r in rows:
            w.writerow(r)
