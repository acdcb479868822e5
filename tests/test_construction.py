"""End-to-end construction tests: extraction P/R, linking, CC, invariant,
manifest resume (SURVEY.md §5.2 items 1, 4, 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.datagen import (
    GenConfig,
    P_SAME_AS,
    dup_iri,
    entity_dictionary,
    entity_iri,
    expected_triples,
    generate_documents,
)
from shacl_dqa_prototype_spark.operators.extract import explode_spans, extract_mentions
from shacl_dqa_prototype_spark.operators.invariant import invariant_violations
from shacl_dqa_prototype_spark.operators.connected_components import connected_components
from shacl_dqa_prototype_spark.plans.construction import run_construction

CFG = GenConfig(n_docs=300, n_entities=60, seed=42)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, CFG).cache()


@pytest.fixture(scope="module")
def dictionary(spark):
    return entity_dictionary(spark, CFG)


def test_documents_shape(docs):
    assert docs.count() == CFG.n_docs
    row = docs.filter(F.col("doc_id") == "doc_000000000").first()
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)
    kinds = {s["kind"] for s in row["spans"]}
    assert "text" in kinds


def test_span_invariant(docs):
    bad = invariant_violations(docs, explode_spans(docs))
    assert bad.count() == 0


def test_extraction_precision_recall(spark, docs, dictionary, tmp_path):
    res = run_construction(spark, docs, dictionary, str(tmp_path / "wd"))
    got = spark.read.parquet(str(tmp_path / "wd/linked_triples.parquet"))

    truth = expected_triples(spark, CFG).drop("doc_id").distinct()
    got_spo = got.select("s", "p", "o").distinct()
    truth_spo = truth.select("s", "p", "o").distinct()

    tp = got_spo.join(truth_spo, ["s", "p", "o"], "semi").count()
    n_got = got_spo.count()
    n_truth = truth_spo.count()
    precision = tp / n_got
    recall = tp / n_truth
    assert precision >= 0.95, f"precision {precision} ({tp}/{n_got})"
    assert recall >= 0.95, f"recall {recall} ({tp}/{n_truth})"


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("x", "x2"), ("x2", "x3"), ("x3", "x4")],
        ["src", "dst"],
    )
    expected = {"b": "a", "c": "a", "e": "d", "x2": "x", "x3": "x", "x4": "x"}
    # small-graph driver union-find path and distributed large-star/
    # small-star fixpoint (forced via driver_threshold=0) must agree
    for thresh in (2_000_000, 0):
        m = {r["node"]: r["component"]
             for r in connected_components(edges, driver_threshold=thresh).collect()}
        assert m == expected, f"threshold={thresh}: {m}"


def test_canonicalization_merges_dups(spark, docs, dictionary, tmp_path):
    res = run_construction(spark, docs, dictionary, str(tmp_path / "wd2"))
    triples = spark.read.parquet(res.triples_path)
    # All sameAs-linked dup/entity pairs collapsed: no subject may remain in
    # the entity/ namespace if its dup twin existed (dup sorts first).
    linked = spark.read.parquet(str(tmp_path / "wd2/linked_triples.parquet"))
    merged = (
        linked.filter(F.col("p") == P_SAME_AS)
        .select(F.col("o").alias("ent"))
        .distinct()
        .collect()
    )
    merged_set = {r["ent"] for r in merged}
    remaining = {r["s"] for r in triples.select("s").distinct().collect()}
    for ent in merged_set:
        assert ent not in remaining, f"{ent} should have merged into its dup IRI"
    # sameAs edges themselves are dropped from the materialized KG
    assert triples.filter(F.col("p") == P_SAME_AS).count() == 0


def test_resume_skips_committed_stages(spark, docs, dictionary, tmp_path):
    wd = str(tmp_path / "wd3")
    with pytest.raises(InterruptedError):
        run_construction(spark, docs, dictionary, wd, stop_after="link")
    res = run_construction(spark, docs, dictionary, wd)
    assert "extract" in res.stages_resumed and "link" in res.stages_resumed
    assert "canonicalize" in res.stages_run and "materialize" in res.stages_run
    assert spark.read.parquet(res.triples_path).count() > 0


def test_invariant_empty_spans_doc_passes(spark):
    """A doc with spans=[] vanishes from the exploded side (posexplode
    emits nothing) — the full-join NULL used to read as a violation even
    though no span was lost (review finding)."""
    from shacl_dqa_prototype_spark.operators.extract import explode_spans
    from shacl_dqa_prototype_spark.operators.invariant import (
        invariant_violations,
    )
    from shacl_dqa_prototype_spark.schemas import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [("d_empty", []),
         ("d_one", [("text", "hello", None, 0)])], DOCUMENTS_SCHEMA)
    v = invariant_violations(docs, explode_spans(docs))
    assert v.count() == 0
