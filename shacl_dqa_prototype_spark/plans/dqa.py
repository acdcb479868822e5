"""DQA orchestration — the engine's equivalent of DQAssessment.run()
(/root/reference/dq_assessment.py:89-125): profile → compile constraint
plan → evaluate → score → report.

Stage DAG preserved from the reference (metadata gates the contextual data
shapes — shacl_shape_builder.py:63-77): metadata results feed
uri_regex/uri_space into DQAConfig before data shapes compile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.plans.constraints import (
    DQAConfig,
    VocabTerm,
    compile_data_constraints,
)
from shacl_dqa_prototype_spark.plans.metadata import evaluate_metadata
from shacl_dqa_prototype_spark.plans.profile import GraphProfile, profile_graph
from shacl_dqa_prototype_spark.plans.report_csv import METRIC_IDS
from shacl_dqa_prototype_spark.plans.scoring import report_frame, score_plan
from shacl_dqa_prototype_spark.functions.terms import VOID


def run_data_dqa(
    T: DataFrame,
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    cfg: DQAConfig,
    profile: GraphProfile | None = None,
    plan=None,
) -> DataFrame:
    """Full data-shape assessment over the triple table → report DF.

    Pass `profile` to score against another graph's profile (its keys
    prune the shapes, its tables give the denominators), and `plan` (a
    ConstraintPlan from compile_data_constraints) to reuse a compiled plan.
    Scoring reads the plan's violations once, so nothing is cached."""
    if profile is None:
        profile = profile_graph(
            T, cfg.type_property, cfg.labeling_property,
            cfg.description_property, cfg.interlinking_property,
        )
    if plan is None:
        plan = compile_data_constraints(T, vocab_terms, disjoint_pairs, cfg)
    return score_plan(T.sparkSession, plan, profile, target="data")


def run_metadata_dqa(
    spark: SparkSession, metadata: DataFrame, metadata_class: str = f"{VOID}Dataset"
) -> DataFrame:
    results = evaluate_metadata(metadata, metadata_class)
    rows = [
        (
            "metadata",
            METRIC_IDS[r.metric][0],
            r.metric,
            None,
            "binary",
            float(r.measure),
            0 if r.measure else 1,
            r.message,
        )
        for r in results
    ]
    return report_frame(spark, rows)


def run_vocab_dqa(
    spark: SparkSession,
    vocab_name: str,
    vocab_rows: list[tuple],
    used_classes: set[str],
    used_props: set[str],
    labeling_property: str | None = None,
    profile=None,
) -> DataFrame:
    """C37-C40 for one vocabulary, against its self-typed graph
    (utils.py:771-785) with namespace routing (dq_assessment.py:176-199).
    Produces the vocab-target report rows."""
    from shacl_dqa_prototype_spark.functions.terms import RDF, RDFS
    from shacl_dqa_prototype_spark.plans.vocab import (
        mine_vocab,
        tbox_self_typing_rows,
    )
    from shacl_dqa_prototype_spark.plans.vocab_shapes import (
        compile_vocab_constraints,
        score_vocab_plan,
    )
    from shacl_dqa_prototype_spark.plans.constraints import VocabTerm

    rdf_type = f"{RDF}type"
    # reuse the caller's mined profile when available (cmd_dqa mines each
    # vocab once for the profile JSON sink) instead of mining twice
    prof_v = profile if profile is not None else mine_vocab(vocab_rows)
    typed = tbox_self_typing_rows(vocab_rows)
    classes_all = sorted({s for (s, p, o, *_r) in typed
                          if p == rdf_type and o == f"{RDFS}Class"})
    props_all = sorted({s for (s, p, o, *_r) in typed
                        if p == rdf_type and o == f"{RDF}Property"})
    # C37/C38 label presence keys on the CONFIGURED labeling property
    # (reference shacl_shape_builder.py:546-547 uses self.labeling_property)
    # — a hard-coded rdfs:label mis-scored skos:prefLabel-labeled vocabs
    lbl_prop = labeling_property or f"{RDFS}label"
    labeled = {s for (s, p, o, *_r) in vocab_rows if p == lbl_prop}
    vterms = ([VocabTerm(c, "class") for c in classes_all]
              + [VocabTerm(p, "object_property") for p in props_all])
    plan = compile_vocab_constraints(
        spark, vocab_name, prof_v.namespace, vterms,
        {t: True for t in labeled}, used_classes, used_props)
    return score_vocab_plan(
        spark, vocab_name, plan,
        n_classes=prof_v.num_all_classes + len(prof_v.other_classes),
        n_properties=prof_v.num_all_properties + len(prof_v.other_properties))


def contextual_config_from_metadata(metadata: DataFrame, cfg: DQAConfig) -> DQAConfig:
    """The reference reads the metadata results to decide whether to emit
    the uriRegex/uriSpace data shapes (shacl_shape_builder.py:63-77)."""
    rows = metadata.filter(
        F.col("p").isin(f"{VOID}uriRegexPattern", f"{VOID}uriSpace")
    ).collect()
    regex = next((r["o"] for r in rows if r["p"] == f"{VOID}uriRegexPattern"), None)
    space = next((r["o"] for r in rows if r["p"] == f"{VOID}uriSpace"), None)
    from dataclasses import replace

    return replace(cfg, uri_regex_pattern=regex or cfg.uri_regex_pattern,
                   uri_space=space or cfg.uri_space)
