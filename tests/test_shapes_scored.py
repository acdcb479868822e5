"""A7 — the instantiated shapes graphs name exactly the shapes the engine
scores, and every metric those shapes and the metadata checks emit has
its dimension in report_csv.METRIC_IDS. Unlike tests/test_shapes_ttl.py
these need no reference checkout: they compare the emitted Turtle with
the engine's own scored report."""

from __future__ import annotations

import glob
import json
import re
from collections import Counter
from dataclasses import replace

import pytest

import __spark_entry__ as core
from shacl_dqa_prototype_spark.functions.terms import OWL, RDF_TYPE, RDFS, XSD
from shacl_dqa_prototype_spark.plans.constraints import (
    DQAConfig,
    VocabTerm,
    compile_data_constraints,
    data_shapes,
)
from shacl_dqa_prototype_spark.plans.metadata import evaluate_metadata
from shacl_dqa_prototype_spark.plans.profile import profile_graph
from shacl_dqa_prototype_spark.plans.report_csv import METRIC_IDS
from shacl_dqa_prototype_spark.plans.scoring import score_plan
from shacl_dqa_prototype_spark.plans.shapes_ttl import data_shapes_ttl
from shacl_dqa_prototype_spark.plans.vocab_shapes import (
    compile_vocab_constraints,
)
from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
from tests.test_incremental import SF

E = "http://e.org/v#"
D = "http://e.org/d/"
# a vocabulary exercising every data-shape family and every range form
EVERY_VOCAB = [
    VocabTerm(E + "A", "class"), VocabTerm(E + "B", "class"),
    VocabTerm(E + "C", "class"),
    VocabTerm(E + "Old", "class", deprecated=True),
    VocabTerm(E + "o1", "object_property", domain=E + "A", range=E + "B",
              range_kind="class", functional=True),
    VocabTerm(E + "o2", "object_property", domain=f"{OWL}Thing",
              range=f"{OWL}Thing", range_kind="class",
              inverse_functional=True),
    VocabTerm(E + "o3", "object_property", range=f"{RDFS}Resource",
              range_kind="class", asymmetric=True, irreflexive=True),
    VocabTerm(E + "d1", "datatype_property", domain=E + "A",
              range=f"{XSD}int", range_kind="literal"),
    VocabTerm(E + "d2", "datatype_property", range=f"{RDFS}Literal",
              range_kind="literal"),
    VocabTerm(E + "r1", "rdf_property", range=f"{XSD}date",
              range_kind="literal"),
    VocabTerm(E + "r2", "rdf_property", range=f"{RDFS}Literal",
              range_kind="literal"),
    VocabTerm(E + "r3", "rdf_property", domain=E + "C", range=E + "C",
              range_kind="class"),
    VocabTerm(E + "r4", "rdf_property", range=f"{OWL}Thing",
              range_kind="class"),
    VocabTerm(E + "dp", "object_property", deprecated=True, asymmetric=True),
    VocabTerm(E + "unused", "object_property", functional=True),
]
EVERY_DISJOINT = [(E + "A", E + "B"), (E + "B", E + "C")]
# data using every vocabulary term but E:unused and E:C
EVERY_DATA = [
    (D + "a1", RDF_TYPE, E + "A", "iri", None, None),
    (D + "a1", RDF_TYPE, E + "B", "iri", None, None),
    (D + "a1", RDF_TYPE, E + "Old", "iri", None, None),
    (D + "a1", f"{RDFS}label", "a one", "literal", None, None),
    (D + "a1", f"{OWL}sameAs", D + "b1", "iri", None, None),
    (D + "a1", E + "o1", D + "b1", "iri", None, None),
    (D + "a1", E + "o1", D + "b2", "iri", None, None),
    (D + "b1", E + "o2", D + "a1", "iri", None, None),
    (D + "b2", E + "o2", D + "a1", "iri", None, None),
    (D + "a1", E + "o3", D + "a1", "iri", None, None),
    (D + "a1", E + "d1", "x", "literal", f"{XSD}int", None),
    (D + "b1", E + "d2", "y", "literal", None, None),
    (D + "b1", E + "r1", "2020-01-01", "literal", f"{XSD}date", None),
    (D + "b1", E + "r2", D + "a1", "iri", None, None),
    (D + "b1", E + "r3", "_:n", "bnode", None, None),
    (D + "b1", E + "r4", D + "a1", "iri", None, None),
    (D + "b1", E + "dp", D + "a1", "iri", None, None),
    (D + "b1", RDF_TYPE, E + "B", "iri", None, None),
]
ALL_GATES = dict(base_uri=D, uri_regex_pattern=f"{D}a.*", uri_space=D,
                 check_languages=True)


def _shape_keys(ttl: str, type_property: str) -> Counter:
    """(family, item) per shape block of a shapes graph, the item read as
    the report names it: the target IRI; for an entity-scoped shape (one
    targeting the subjects of the type property) the path of a per-item
    shape and no item otherwise; "a|b" for a disjoint-class pair."""
    keys: Counter = Counter()
    for block in re.split(r"(?m)^(?=ex:)", ttl)[1:]:
        name = re.match(r"ex:(\w+)", block).group(1)
        family = re.sub(r"Shape(_\d+)?$", "", name)

        def iris(pred: str) -> list[str]:
            return re.findall(rf"{pred} <([^>]*)>", block)

        target = (iris(r"sh:target\w+") or [None])[0]
        if family == "EntitiesDisjointClasses":
            item = f"{target}|{iris('sh:class')[0]}"
        elif target == type_property:
            indexed = re.search(r"_\d+$", name)
            item = (iris("sh:path") or [target])[0] if indexed else None
        else:
            item = target
        keys[(family, item)] += 1
    return keys


def test_every_metric_has_a_dimension(spark):
    """METRIC_IDS is the one per-metric table: every metric data_shapes
    can emit (every DQAConfig gate on, every family instantiated), every
    vocabulary-shape metric and every metadata metric has an entry, and it
    has no other."""
    used = ({t.term for t in EVERY_VOCAB if t.term_kind != "class"},
            {t.term for t in EVERY_VOCAB if t.term_kind == "class"})
    data = {sp.metric for sp in data_shapes(
        EVERY_VOCAB, EVERY_DISJOINT, DQAConfig(**ALL_GATES), *used)}
    assert len(data) == 29, sorted(data)
    vocab = {sp.metric for sp in compile_vocab_constraints(
        spark, "v", E, EVERY_VOCAB, {}, used[1] | {E + "X"},
        used[0] | {E + "x"}).shapes}
    assert vocab == {"LabelForClasses", "LabelForProperties",
                     "UndefinedClass", "UndefinedProperty"}
    metadata = {r.metric for r in evaluate_metadata(
        spark.createDataFrame([], TRIPLES_SCHEMA), "urn:Dataset")}
    assert len(metadata) == 9
    assert data | vocab | metadata == set(METRIC_IDS)


@pytest.mark.parametrize("vocab", ["entry", "every"])
@pytest.mark.parametrize("gates", [False, True])
def test_data_shapes_ttl_names_the_scored_shapes(spark, vocab, gates):
    """The (family, item) blocks of data_shapes_ttl are the non-meta rows
    of the report score_plan scores for the same inputs, plus the
    NotNamedIndividualShape the class-usage shapes reference."""
    if vocab == "entry":
        T = core._triples(spark, SF)
        terms, disjoint, cfg = (core.ENTRY_VOCAB, core.ENTRY_DISJOINT,
                                core.ENTRY_CFG)
    else:
        T = spark.createDataFrame(EVERY_DATA, TRIPLES_SCHEMA)
        terms, disjoint, cfg = EVERY_VOCAB, EVERY_DISJOINT, DQAConfig()
    if gates:
        cfg = replace(cfg, **ALL_GATES)
    profile = profile_graph(T, cfg.type_property, cfg.labeling_property,
                            cfg.description_property,
                            cfg.interlinking_property)
    report = score_plan(spark, compile_data_constraints(
        T, terms, disjoint, cfg), profile).collect()
    scored = Counter((r["metric"], r["item"]) for r in report
                     if r["score_kind"] != "meta")
    if vocab == "every":  # every family is instantiated
        assert len({m for m, _ in scored}) == (29 if gates else 26)
    if any(m == "SchemaCompletenessClassUsage" for m, _ in scored):
        scored[("NotNamedIndividual", None)] += 1
    ttl = data_shapes_ttl(terms, disjoint, cfg, *profile.usage_sets())
    assert _shape_keys(ttl, cfg.type_property) == scored


URN_DATA = """\
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
<urn:x:1> rdf:type <urn:v:Pizza> ; <urn:v:hasTopping> <urn:x:2> .
<urn:x:2> rdf:type <urn:v:Topping> .
"""
URN_VOCAB = """\
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
<urn:v:Pizza> a owl:Class ; rdfs:label "Pizza" .
<urn:v:Topping> a owl:Class .
<urn:v:hasTopping> a owl:ObjectProperty .
"""


def test_vocabulary_ttl_names_only_scored_shapes(spark, tmp_path):
    """`main.py dqa` on a vocabulary of URN IRIs (namespace ''): the
    vocabulary shapes graph holds no Undefined* shape that the report does
    not score — the scorer routes no term to an empty namespace, and the
    graph's term lists come from the same routing."""
    from main import cmd_dqa
    from tests.test_dqa import _dqa_args

    (tmp_path / "data.ttl").write_text(URN_DATA)
    (tmp_path / "vocab.ttl").write_text(URN_VOCAB)
    out = tmp_path / "out"
    cmd_dqa(_dqa_args(out, triples=str(tmp_path / "data.ttl"),
                      vocab=[str(tmp_path / "vocab.ttl")],
                      vocab_names=["urn_v"]))
    rows = [json.loads(line)
            for part in glob.glob(str(out / "dq_report_json" / "part-*"))
            for line in open(part)]
    scored = {(r["metric"], r.get("item")) for r in rows
              if r["target"] == "vocab:urn_v" and r["score_kind"] != "meta"}
    assert ("LabelForClasses", None) in scored
    ttl = (out / "shapes" / "vocabulary_shapes_urn_v.ttl").read_text()
    undefined = {key for key in _shape_keys(ttl, RDF_TYPE)
                 if key[0].startswith("Undefined")}
    assert undefined <= scored, sorted(undefined - scored)
