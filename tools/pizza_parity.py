"""Pizza golden-output parity harness (SURVEY.md §5.2).

Rebuilds the reference's pizza assessment with the Spark engine — parse
data.ttl/void.ttl/pizza.xml with our RDF scans, mine the vocab, merge the
TBox, compile+evaluate all shapes, score — then compares every metric's
measure (and num_violations where the golden has one) against the
committed golden JSONs in /root/reference/datasets/pizza/results/.

Usage: PYTHONPATH=/root/repo python tools/pizza_parity.py
Exit 0 = full parity. Prints one line per mismatch otherwise.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from shacl_dqa_prototype_spark.functions.terms import OWL, RDF, RDFS, VOID
from shacl_dqa_prototype_spark.plans.constraints import DQAConfig, VocabTerm
from shacl_dqa_prototype_spark.plans.dqa import (
    contextual_config_from_metadata,
    run_data_dqa,
    run_metadata_dqa,
)
from shacl_dqa_prototype_spark.plans.profile import profile_graph
from shacl_dqa_prototype_spark.plans.vocab import (
    mine_vocab,
    profile_to_vocab_terms,
    subclass_closure,
    tbox_merge_rows,
    tbox_self_typing_rows,
)
from shacl_dqa_prototype_spark.plans.vocab_shapes import (
    compile_vocab_constraints,
    score_vocab_plan,
)
from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
from shacl_dqa_prototype_spark.session import get_spark
from shacl_dqa_prototype_spark.sources.rdf import parse_rdfxml, parse_turtle

PIZZA = "/root/reference/datasets/pizza"
RDF_TYPE = f"{RDF}type"

CFG = DQAConfig(
    type_property=RDF_TYPE,
    labeling_property=f"{RDFS}label",
    description_property=f"{RDFS}comment",
    interlinking_property=f"{OWL}sameAs",
    uris_max_length=80,
    base_uri="http://example.org/pizza#",
)


def build_report(spark):
    data_rows = list(dict.fromkeys(parse_turtle(open(f"{PIZZA}/data.ttl").read())))
    void_rows = parse_turtle(open(f"{PIZZA}/void.ttl").read())
    vocab_rows = parse_rdfxml(open(f"{PIZZA}/pizza.xml").read())

    prof_v = mine_vocab(vocab_rows)
    terms, disjoint = profile_to_vocab_terms(prof_v)

    T_raw = spark.createDataFrame(data_rows, TRIPLES_SCHEMA)
    # profile BEFORE merge (dq_assessment.py:128-143 profiles the raw graph)
    profile = profile_graph(T_raw, CFG.type_property, CFG.labeling_property,
                            CFG.description_property, CFG.interlinking_property)
    merged = tbox_merge_rows(vocab_rows, prof_v.classes)
    T = T_raw.unionByName(
        spark.createDataFrame(merged, TRIPLES_SCHEMA)).dropDuplicates()

    metadata = spark.createDataFrame(void_rows, TRIPLES_SCHEMA)
    cfg = contextual_config_from_metadata(metadata, CFG)

    from shacl_dqa_prototype_spark.plans.constraints import compile_data_constraints
    from shacl_dqa_prototype_spark.plans.scoring import score_plan

    # the raw-graph profile prunes the shapes (the reference's profile
    # drives shape instantiation); sh:class closure from vocab subClassOf
    plan = compile_data_constraints(
        T, terms, disjoint, cfg, subclass_pairs=subclass_closure(vocab_rows))
    report = score_plan(spark, plan, profile, target="data")
    md_report = run_metadata_dqa(spark, metadata)
    return report, md_report, (vocab_rows, prof_v, profile)


def vocab_report(spark, vocab_rows, prof_v, raw_profile):
    """C37-C40 against the self-typed vocab graph, mirroring
    dq_assessment.py:171-229 (namespace routing + derived typing); the
    used classes and properties are the raw-graph profile's keys."""
    from shacl_dqa_prototype_spark.plans.dqa import run_vocab_dqa

    used_props, used_classes = raw_profile.usage_sets()
    return run_vocab_dqa(spark, "pizza_owl", vocab_rows,
                         used_classes, used_props)


def compare(report, md_report, vrep) -> list[str]:
    golden = json.load(open(f"{PIZZA}/results/dq_assessment_pizza_data.json"))
    md_golden = json.load(open(f"{PIZZA}/results/dq_assessment_pizza_metadata.json"))
    v_golden = json.load(
        open(f"{PIZZA}/results/dq_assessment_vocabularies_pizza_owl.json"))
    errors: list[str] = []

    ours = {}
    for r in report.collect():
        if r["score_kind"] != "meta":
            ours[(r["metric"], r["item"])] = (r["measure"], r["num_violations"])

    def check(metric, item, g, tag):
        got = ours.get((metric, item))
        if got is None:
            errors.append(f"MISSING {tag}: ({metric}, {item})")
            return
        gm = float(g.get("measure"))
        if abs(got[0] - gm) > 1e-9:
            errors.append(f"MEASURE {tag}: ({metric}, {item}) ours={got[0]} golden={gm}")
        gnv = g.get("num_violations")
        if isinstance(gnv, int) and got[1] != gnv:
            errors.append(f"NV {tag}: ({metric}, {item}) ours={got[1]} golden={gnv}")

    # single metrics that carry an item (their shape is property-scoped)
    SINGLE_ITEM = {
        "UsageExternalURIEntities": CFG.interlinking_property,
        "DifferentLanguagesLabelsEntities": CFG.labeling_property,
        "DifferentLanguagesDescriptionsEntities": CFG.description_property,
    }
    fam_golden: dict[str, list[float]] = {}
    for key, g in golden.items():
        metric = key.rsplit("_", 1)[0] if key[-1].isdigit() else key
        if metric == key:
            check(metric, SINGLE_ITEM.get(metric), g, "single")
            continue
        fam_golden.setdefault(metric, []).append(round(float(g["measure"]), 9))
        item = g.get("property") or g.get("class")
        if isinstance(item, dict):  # EntitiesDisjointClasses
            item = f"{item['first_class']}|{item['second_class']}"
        if item is not None:
            check(metric, item, g, "item")

    # family multiset parity (covers the measure-1 entries with no item key)
    fam_ours: dict[str, list[float]] = {}
    for (metric, item), (m, _nv) in ours.items():
        if item is not None:
            fam_ours.setdefault(metric, []).append(round(m, 9))
    for metric, gvals in fam_golden.items():
        ovals = fam_ours.get(metric, [])
        if sorted(gvals) != sorted(ovals):
            errors.append(
                f"FAMILY {metric}: ours({len(ovals)})={sorted(ovals)[:8]}... "
                f"golden({len(gvals)})={sorted(gvals)[:8]}...")

    md_ours = {r["metric"]: r["measure"] for r in md_report.collect()}
    for metric, g in md_golden.items():
        if metric not in md_ours:
            errors.append(f"MISSING metadata: {metric}")
        elif abs(md_ours[metric] - float(g["measure"])) > 1e-9:
            errors.append(f"MEASURE metadata {metric}: ours={md_ours[metric]} "
                          f"golden={g['measure']}")

    v_ours = {}
    for r in vrep.collect():
        if r["score_kind"] != "meta":
            v_ours[(r["metric"], r["item"])] = (r["measure"], r["num_violations"])
    vfam_g: dict[str, list[float]] = {}
    for key, g in v_golden.items():
        metric = key.rsplit("_", 1)[0] if key[-1].isdigit() else key
        if metric == key:
            got = v_ours.get((metric, None))
            if got is None:
                errors.append(f"MISSING vocab: {metric}")
            elif abs(got[0] - float(g["measure"])) > 1e-9:
                errors.append(f"MEASURE vocab {metric}: ours={got[0]} "
                              f"golden={g['measure']}")
            continue
        vfam_g.setdefault(metric, []).append(round(float(g["measure"]), 9))
        item = g.get("property") or g.get("class")
        if item is not None:
            got = v_ours.get((metric, item))
            if got is None:
                errors.append(f"MISSING vocab item: ({metric}, {item})")
            elif abs(got[0] - float(g["measure"])) > 1e-9:
                errors.append(f"MEASURE vocab ({metric}, {item}): ours={got[0]} "
                              f"golden={g['measure']}")
    vfam_o: dict[str, list[float]] = {}
    for (metric, item), (m, _nv) in v_ours.items():
        if item is not None:
            vfam_o.setdefault(metric, []).append(round(m, 9))
    for metric, gvals in vfam_g.items():
        if sorted(gvals) != sorted(vfam_o.get(metric, [])):
            errors.append(f"FAMILY vocab {metric}: ours={sorted(vfam_o.get(metric, []))} "
                          f"golden={sorted(gvals)}")
    return errors


def _norm_name(name: str) -> str:
    """Family rows are '<Metric>Shape'; a single-member family keeps its
    '_<idx>' suffix in the reference CSV — normalize both forms."""
    base = name.rsplit("_", 1)[0] if name and name[-1].isdigit() else name
    return base[:-5] if base.endswith("Shape") else base


def _canon_violations(text: str) -> tuple:
    """Violation list → order-insensitive canonical form. The reference
    emits pySHACL dict-iteration order (not reproducible); elements and
    any per-item scores inside '(item,score)' tuples must still match.
    Handles the IFP '(prop); v1; v2 )' framing and ';' vs '; ' joins.
    Floats are rounded so double-arithmetic ordering differences don't
    register as mismatches."""
    import re

    text = (text or "").strip()
    if text.endswith(")") and not text.endswith("))") and " )" in text:
        text = text[: text.rfind(" )")]  # IFP trailing ' )'
    parts = []
    for el in text.split(";"):
        el = el.strip()
        if not el:
            continue
        # blank-node labels can never match across engines (rdflib
        # skolemizes to random hex ids) — normalize both spellings
        if el.startswith("_:") or re.fullmatch(r"[Nn][0-9a-f]{32}(b\d+)?", el):
            parts.append("<bnode>")
            continue
        if el.startswith("(") and el.endswith(")") and "," in el:
            bits = el[1:-1].rsplit(",", 1)
            try:
                parts.append((bits[0].strip(), round(float(bits[1]), 9)))
                continue
            except ValueError:
                pass
        parts.append(el)
    return tuple(sorted(map(repr, parts)))


def compare_csv(report, md_report, vrep) -> list[str]:
    """CSV-level parity: our reference-shaped rollup rows vs the committed
    dq_assessment_pizza.csv — ALL 15 columns per row. score compared
    numerically, violations as canonical multisets, everything else
    byte-exact."""
    import csv

    from shacl_dqa_prototype_spark.plans.report_csv import (
        CSV_NAME_OVERRIDES,
        CSV_COLUMNS,
        reference_csv_rows,
    )

    rows = (report.collect() + md_report.collect() + vrep.collect())
    ours = reference_csv_rows(rows, uris_max_length=CFG.uris_max_length)
    inv = {v: k for k, v in CSV_NAME_OVERRIDES.items()}
    got = {}
    for r in ours:
        name = _norm_name(str(r["shape_name"]))
        got[inv.get(r["shape_name"], name)] = r

    errors = []
    # row ORDER parity: the golden's row sequence must match ours exactly
    # (reference_csv_rows emits in the reference's emission order)
    def _seq(names):
        return [inv.get(n, _norm_name(n)) for n in names]
    with open(f"{PIZZA}/results/dq_assessment_pizza.csv") as f:
        golden_seq = _seq(row["shape_name"] for row in csv.DictReader(f))
    ours_seq = _seq(str(r["shape_name"]) for r in ours)
    if ours_seq != golden_seq:
        errors.append(f"CSV ROW ORDER: ours={ours_seq} golden={golden_seq}")
    exact_cols = [c for c in CSV_COLUMNS
                  if c not in ("score", "num_violations", "violations",
                               "shape_name")]
    with open(f"{PIZZA}/results/dq_assessment_pizza.csv") as f:
        for row in csv.DictReader(f):
            name = _norm_name(row["shape_name"])
            name = inv.get(row["shape_name"], name)
            if name not in got:
                errors.append(f"CSV MISSING {name}")
                continue
            r = got[name]
            if abs(float(r["score"]) - float(row["score"])) > 1e-9:
                errors.append(
                    f"CSV SCORE {name}: ours={r['score']} golden={row['score']}")
            if int(r["num_violations"]) != int(row["num_violations"] or 0):
                errors.append(f"CSV NV {name}: ours={r['num_violations']} "
                              f"golden={row['num_violations']}")
            if _canon_violations(str(r["violations"])) != _canon_violations(
                    row["violations"]):
                errors.append(f"CSV VIOLATIONS {name}: ours="
                              f"{str(r['violations'])[:80]!r} "
                              f"golden={row['violations'][:80]!r}")
            for col in exact_cols:
                if str(r[col]) != row[col]:
                    errors.append(f"CSV {col} {name}: ours={str(r[col])[:70]!r}"
                                  f" golden={row[col][:70]!r}")
    return errors


def compare_vocab_profile(prof_v) -> list[str]:
    """Per-vocabulary profile JSON parity (A5): our vocab_profile_json
    output vs the committed /root/reference/profile/vocabularies/
    pizza_owl.json — same keys, same counts, and same element MULTISETS
    for every list/dict field (the reference's list order follows rdflib/
    set iteration, which is not reproducible across processes)."""
    from shacl_dqa_prototype_spark.plans.vocab import vocab_profile_json

    golden = json.load(open("/root/reference/profile/vocabularies/pizza_owl.json"))
    ours = vocab_profile_json(prof_v)
    errors = []
    if list(ours.keys()) != list(golden.keys()):
        errors.append(f"VOCAB PROFILE KEYS: ours={list(ours.keys())} "
                      f"golden={list(golden.keys())}")
        return errors
    import re

    def _canon_el(x) -> str:
        # blank-node labels are process-random in both engines (rdflib
        # Nhex32 vs our _:genid counters) — same normalization as
        # _canon_violations
        s = str(x)
        if s.startswith("_:") or re.fullmatch(r"[Nn][0-9a-f]{32}(b\d+)?", s):
            return "<bnode>"
        return s

    for k, gv in golden.items():
        ov = ours[k]
        if isinstance(gv, list):
            canon = (lambda x: sorted(map(_canon_el, x)))
            if canon(ov) != canon(gv):
                errors.append(f"VOCAB PROFILE {k}: ours({len(ov)}) != "
                              f"golden({len(gv)})")
        elif isinstance(gv, dict):
            if {m: ov[m] for m in sorted(ov)} != {m: gv[m] for m in sorted(gv)}:
                errors.append(f"VOCAB PROFILE {k}: ours={ov} golden={gv}")
        elif ov != gv:
            errors.append(f"VOCAB PROFILE {k}: ours={ov} golden={gv}")
    return errors


def main() -> int:
    spark = get_spark("pizza-parity", cores=8, shuffle_partitions=8)
    report, md_report, (vocab_rows, prof_v, raw_profile) = build_report(spark)
    vrep = vocab_report(spark, vocab_rows, prof_v, raw_profile)
    errors = compare(report, md_report, vrep)
    errors += compare_csv(report, md_report, vrep)
    errors += compare_vocab_profile(prof_v)
    for e in errors:
        print(e)
    print(f"{'PARITY OK' if not errors else 'MISMATCHES'}: {len(errors)} errors")
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
