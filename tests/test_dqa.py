"""Constraint-unit + score tests over a violation-seeded triple fixture
(FIXTURES.md §2 — mirrors the reference pizza seeding patterns)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.functions.terms import (
    OWL_NAMED_INDIVIDUAL,
    OWL_SAME_AS,
    RDF,
    RDF_TYPE,
    RDFS_LABEL,
)
from shacl_dqa_prototype_spark.plans.constraints import (
    DQAConfig,
    VocabTerm,
    compile_data_constraints,
)
from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa
from shacl_dqa_prototype_spark.plans.profile import profile_graph
from shacl_dqa_prototype_spark.plans.scoring import score_plan
from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
from tests.test_pizza_parity import PIZZA

EX = "http://example.org/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
XSD_STR = "http://www.w3.org/2001/XMLSchema#string"

CLASS_A, CLASS_B = f"{EX}ClassA", f"{EX}ClassB"
DEPR_CLASS, EMPTY_CLASS = f"{EX}DeprClass", f"{EX}EmptyClass"
KNOWS, PARTNER, AGE = f"{EX}knows", f"{EX}partner", f"{EX}age"
EMAIL, PARENT, OLD = f"{EX}email", f"{EX}parent", f"{EX}oldProp"

E1, E2 = f"{EX}e1", f"{EX}e2"
E3 = f"{EX}thing#e3"
E4 = "_:b4"
E5 = f"{EX}{'e5' + 'x' * 90}"
E6 = f"{EX}e6?id=1"
E7, E8, E9 = f"{EX}e7", f"{EX}e8", f"{EX}e9"
WEIRD = f"{EX}weird#x"
B1, B2 = f"{EX}b1", f"{EX}b2"

VOCAB = [
    VocabTerm(CLASS_A, "class"),
    VocabTerm(CLASS_B, "class"),
    VocabTerm(EMPTY_CLASS, "class"),
    VocabTerm(DEPR_CLASS, "class", deprecated=True),
    VocabTerm(KNOWS, "object_property", asymmetric=True),
    VocabTerm(PARTNER, "object_property", domain=CLASS_A, range=CLASS_B,
              range_kind="class", functional=True),
    VocabTerm(AGE, "datatype_property", range=XSD_INT, range_kind="literal",
              functional=True),
    VocabTerm(EMAIL, "datatype_property", range=XSD_STR, range_kind="literal",
              inverse_functional=True),
    VocabTerm(PARENT, "object_property", irreflexive=True),
    VocabTerm(OLD, "datatype_property", deprecated=True),
]
DISJOINT = [(CLASS_A, CLASS_B)]


def t(s, p, o, kind="iri", dtype=None, lang=None):
    return (s, p, o, kind, dtype, lang)


FIXTURE = [
    # e1: clean entity apart from deprecated-prop usage & misplaced-class use
    t(E1, RDF_TYPE, CLASS_A),
    t(E1, RDFS_LABEL, "Entity one", "literal",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en"),
    t(E1, OWL_SAME_AS, "http://other.org/e1"),
    t(E1, PARTNER, B1),
    t(E1, AGE, "42", "literal", XSD_INT),
    t(E1, EMAIL, "a@x", "literal", XSD_STR),
    t(E1, KNOWS, E2),
    t(E1, OLD, "v", "literal", XSD_STR),            # DeprecatedProperties
    t(E1, CLASS_B, "x", "literal", XSD_STR),        # MisplacedClasses
    # e2: asymmetric-mutual, IFP-share, no-lang label, functional double,
    # malformed int, object-prop-with-literal, no sameAs
    t(E2, RDF_TYPE, CLASS_A),
    t(E2, KNOWS, E1),                                # mutual with e1→e2
    t(E2, EMAIL, "a@x", "literal", XSD_STR),         # shared IFP value
    t(E2, RDFS_LABEL, "zwei", "literal", XSD_STR),   # label without lang
    t(E2, PARTNER, B1),
    t(E2, PARTNER, B2),                              # functional violation
    t(E2, AGE, "fortytwo", "literal", XSD_INT),      # malformed literal
    t(E2, KNOWS, "literal guy", "literal", XSD_STR), # obj prop w/ literal
    # e3: hash URI, disjoint classes, irreflexive loop, dt prop w/ IRI
    t(E3, RDF_TYPE, CLASS_A),
    t(E3, RDF_TYPE, CLASS_B),                        # disjoint violation
    t(E3, PARENT, E3),                               # irreflexive violation
    t(E3, AGE, E1, "iri"),                           # dt prop with IRI
    # e4: blank node entity
    t(E4, RDF_TYPE, CLASS_A),
    # e5: over-long URI; internal sameAs link
    t(E5, RDF_TYPE, CLASS_A),
    t(E5, RDFS_LABEL, "five", "literal",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en"),
    t(E5, OWL_SAME_AS, f"{EX}e1"),                   # internal → C1 violation
    # e6: query-params URI
    t(E6, RDF_TYPE, CLASS_A),
    # e7: prolix (rdf:Bag)
    t(E7, RDF_TYPE, f"{RDF}Bag"),
    # e8: typed as a property → MisplacedProperties
    t(E8, RDF_TYPE, KNOWS),
    # e9: deprecated class instance
    t(E9, RDF_TYPE, DEPR_CLASS),
    # weird: exempt (NamedIndividual) despite hash URI
    t(WEIRD, RDF_TYPE, OWL_NAMED_INDIVIDUAL),
    # b1 typed ClassB (needed for partner range check); b2 untyped
    t(B1, RDF_TYPE, CLASS_B),
]

CFG = DQAConfig(base_uri=EX)


@pytest.fixture(scope="module")
def plan_and_profile(spark):
    T = spark.createDataFrame(FIXTURE, TRIPLES_SCHEMA).cache()
    plan = compile_data_constraints(T, VOCAB, DISJOINT, CFG)
    plan.violations = plan.violations.cache()
    profile = profile_graph(T, CFG.type_property, CFG.labeling_property,
                            CFG.description_property, CFG.interlinking_property)
    return T, plan, profile


def focus_set(plan, metric, item=None):
    df = plan.violations.filter(F.col("metric") == metric)
    if item is not None:
        df = df.filter(F.col("item") == item)
    return {r["focus"] for r in df.select("focus").distinct().collect()}


def test_entity_scoped_filters(plan_and_profile):
    _, plan, _ = plan_and_profile
    # bnodes violate sh:pattern / sh:maxLength (pizza-golden parity)
    assert focus_set(plan, "UsageHashURIsEntities") == {E3, E4}  # weird exempt
    assert focus_set(plan, "URIsLengthEntities") == {E5, E4}
    assert focus_set(plan, "URIsParametersEntities") == {E6}
    assert focus_set(plan, "BlankNodesUsageEntities") == {E4}
    assert focus_set(plan, "SelfDescriptiveFormat") == {E4}
    assert focus_set(plan, "ProlixFeatures") == {E7}


def test_existence_anti_joins(plan_and_profile):
    _, plan, _ = plan_and_profile
    # entities minus exempt = e1,e2,e3,b4,e5,e6,e7,e8,e9,b1 (10)
    assert focus_set(plan, "LabelForEntities") == {E3, E4, E6, E7, E8, E9, B1}
    assert focus_set(plan, "InterlinkingCompleteness") == {
        E2, E3, E4, E6, E7, E8, E9, B1}


def test_property_aggregates(plan_and_profile):
    _, plan, _ = plan_and_profile
    assert focus_set(plan, "FunctionalProperty", PARTNER) == {E2}
    assert focus_set(plan, "FunctionalProperty", AGE) == set()
    assert focus_set(plan, "InverseFunctionalPropertyUniqueness", EMAIL) == {"a@x"}
    assert focus_set(plan, "AsymmetricProperty", KNOWS) == {E1, E2}
    assert focus_set(plan, "IrreflexiveProperty", PARENT) == {E3}


def test_consistency_joins(plan_and_profile):
    _, plan, _ = plan_and_profile
    assert focus_set(plan, "EntitiesDisjointClasses") == {E3}
    assert focus_set(plan, "MisplacedProperties") == {KNOWS}
    assert focus_set(plan, "MisplacedClasses", CLASS_B) == {E1}
    assert focus_set(plan, "MisuseOwlObjectProperties", KNOWS) == {E2}
    assert focus_set(plan, "MisuseOwlDatatypeProperties", AGE) == {E3}
    assert focus_set(plan, "DeprecatedClasses") == {E9}
    assert focus_set(plan, "DeprecatedProperties", OLD) == {E1}


def test_range_domain(plan_and_profile):
    _, plan, _ = plan_and_profile
    # partner range ClassB: b2 untyped → e2 violates; b1 ok
    assert focus_set(plan, "CorrectRange", PARTNER) == {E2}
    # age range xsd:integer: e2 malformed, e3 IRI value
    assert focus_set(plan, "CorrectRange", AGE) == {E2, E3}
    assert focus_set(plan, "MalformedLiteral", AGE) == {E2, E3}
    # partner domain ClassA: e1,e2 both typed A → no violations
    assert focus_set(plan, "CorrectDomain", PARTNER) == set()


def test_language_and_interlinking_quality(plan_and_profile):
    _, plan, _ = plan_and_profile
    assert focus_set(plan, "DifferentLanguagesLabelsEntities") == {E2}
    assert focus_set(plan, "UsageExternalURIEntities") == {E5}


def test_schema_completeness(plan_and_profile):
    _, plan, _ = plan_and_profile
    assert focus_set(plan, "SchemaCompletenessClassUsage") == {EMPTY_CLASS}


def test_scores(spark, plan_and_profile):
    T, plan, profile = plan_and_profile
    report = score_plan(spark, plan, profile).cache()

    def measure(metric, item=None, kind=None):
        df = report.filter(F.col("metric") == metric)
        df = df.filter(F.col("item") == item) if item else df.filter(
            F.col("item").isNull())
        if kind:
            df = df.filter(F.col("score_kind") == kind)
        rows = df.collect()
        assert len(rows) == 1, f"{metric}/{item}: {rows}"
        return rows[0]["measure"]

    assert profile.num_entities == 11
    # count metrics over entities: 1 - violations/11
    assert measure("UsageHashURIsEntities") == pytest.approx(1 - 2 / 11)
    assert measure("LabelForEntities") == pytest.approx(1 - 7 / 11)
    assert measure("InterlinkingCompleteness") == pytest.approx(1 - 8 / 11)
    # per-property ratio: partner has 2 distinct subjects, 1 violating
    assert measure("FunctionalProperty", PARTNER) == pytest.approx(0.5)
    # binary
    assert measure("InverseFunctionalPropertyUniqueness", EMAIL) == 0.0
    assert measure("DeprecatedClasses") == 0.0
    # zero-violation shape scores 1
    assert measure("FunctionalProperty", AGE) == 1.0
    # disjoint: EntitiesDisjointClasses both directions, denominator =
    # instances of first class (A: 6 typed-A entities; B: 2)
    a_b = report.filter(
        (F.col("metric") == "EntitiesDisjointClasses")
        & (F.col("item") == f"{CLASS_A}|{CLASS_B}")).first()
    assert a_b["measure"] == pytest.approx(1 - 1 / 6)
    # meta rollups exist
    meta = report.filter((F.col("score_kind") == "meta")
                         & (F.col("metric") == "FunctionalProperty")).first()
    assert meta["measure"] == pytest.approx(0.5)  # 1 of 2 properties clean


def test_profile_hand_computed(plan_and_profile):
    """Every B1-B8 scalar and all three per-key tables of FIXTURE, counted
    by hand from its 31 triples."""
    _, _, profile = plan_and_profile
    assert profile.as_dict() == {
        "num_triples": 31,
        # A, B, rdf:Bag, knows (e8), DeprClass, owl:NamedIndividual
        "num_classes": 6,
        # the 11 typed subjects; e3 is typed twice
        "num_entities": 11,
        "num_properties": 10,
        "num_entities_interlinking": 2,     # e1, e5
        "num_entities_label": 3,            # e1, e2, e5
        "num_entities_description": 0,
    }
    # (property, triples, distinct subjects)
    per_property = {
        RDF_TYPE: (12, 11), RDFS_LABEL: (3, 3), OWL_SAME_AS: (2, 2),
        PARTNER: (3, 2), AGE: (3, 3), EMAIL: (2, 2), KNOWS: (3, 2),
        OLD: (1, 1), CLASS_B: (1, 1), PARENT: (1, 1)}
    assert dict(map(tuple, profile.triples_per_property.collect())) == {
        p: n for p, (n, _) in per_property.items()}
    assert dict(map(tuple, profile.subjects_per_property.collect())) == {
        p: n for p, (_, n) in per_property.items()}
    assert dict(map(tuple, profile.entities_per_class.collect())) == {
        CLASS_A: 6, CLASS_B: 2, f"{RDF}Bag": 1, KNOWS: 1, DEPR_CLASS: 1,
        OWL_NAMED_INDIVIDUAL: 1}


def test_deprecated_functional_excluded(spark):
    """Reference parity (utils.py:313-318): deprecated terms are skipped
    when harvesting functional / inverse-functional property sets, so a
    deprecated functional property never raises FunctionalProperty or IFP
    violations (it still raises DeprecatedProperties)."""
    DFP, DIFP = f"{EX}oldSpouse", f"{EX}oldSsn"
    vocab = [
        VocabTerm(CLASS_A, "class"),
        VocabTerm(DFP, "object_property", functional=True, deprecated=True),
        VocabTerm(DIFP, "datatype_property", range=XSD_STR,
                  range_kind="literal", inverse_functional=True,
                  deprecated=True),
    ]
    rows = [
        t(E1, RDF_TYPE, CLASS_A),
        t(E1, DFP, B1), t(E1, DFP, B2),              # would violate FP
        t(E1, DIFP, "123", "literal", XSD_STR),      # would violate IFP
        t(E2, RDF_TYPE, CLASS_A),
        t(E2, DIFP, "123", "literal", XSD_STR),
    ]
    T = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    plan = compile_data_constraints(T, vocab, [], CFG)
    assert focus_set(plan, "FunctionalProperty") == set()
    assert focus_set(plan, "InverseFunctionalPropertyUniqueness") == set()
    assert focus_set(plan, "DeprecatedProperties", DFP) == {E1}
    # and the shapes are not even instantiated for the deprecated terms
    report = run_data_dqa(T, vocab, [], CFG, plan=plan)
    assert not report.filter(F.col("metric").isin(
        "FunctionalProperty", "InverseFunctionalPropertyUniqueness")).count()


def test_vocab_scoring_empty_denominator(spark):
    """Zero-violation ratio shapes score 1.0 even when the denominator
    family is empty (e.g. LabelForProperties for a class-only vocabulary) —
    greatest() must not swallow the NULL ratio into 0.0."""
    from shacl_dqa_prototype_spark.plans.vocab_shapes import (
        compile_vocab_constraints,
        score_vocab_plan,
    )

    plan = compile_vocab_constraints(
        spark, "v", EX, [VocabTerm(CLASS_A, "class")],
        term_labels={CLASS_A: True}, used_classes={CLASS_A}, used_props=set())
    rep = score_vocab_plan(spark, "v", plan, n_classes=1, n_properties=0)
    rows = {(r["metric"], r["item"]): r["measure"] for r in rep.collect()}
    assert rows[("LabelForClasses", None)] == 1.0
    assert rows[("LabelForProperties", None)] == 1.0  # empty denominator
    assert rows[("UndefinedClass", CLASS_A)] == 1.0


def test_vocab_scoring_hand_computed(spark):
    """Every report row of two vocabularies against hand-computed values:
    LabelFor* ratios (one with n_classes=0), Undefined* binary rows, their
    meta rollups, and the '; '-joined samples, which are not capped."""
    from shacl_dqa_prototype_spark.plans.vocab_shapes import (
        compile_vocab_constraints,
        score_vocab_plan,
    )

    V = "urn:v:"
    c1, c2, c3, p1, p2 = (f"{V}{x}" for x in ("C1", "C2", "C3", "P1", "P2"))
    plan = compile_vocab_constraints(
        spark, "v", V,
        [VocabTerm(c1, "class"), VocabTerm(c2, "class"),
         VocabTerm(c3, "class"), VocabTerm(p1, "object_property"),
         VocabTerm(p2, "datatype_property")],
        term_labels={c1: True, p2: True},
        used_classes={c1, f"{V}Cx", "urn:other:Z"},
        used_props={p1, f"{V}Py", f"{V}Pz"})
    rep = score_vocab_plan(spark, "v", plan, n_classes=4, n_properties=2)

    def _sorted(rows):
        return sorted((tuple(r) for r in rows),
                      key=lambda t: tuple((x is None, x) for x in t[:5]))

    U, Un, I = "Understandability", "UndefinedClass", "Interpretability"
    assert _sorted(rep.collect()) == _sorted([
        # 1 − 2/4 and 1 − 1/2
        ("vocab:v", U, "LabelForClasses", None, "ratio", 0.5, 2,
         "urn:v:C2; urn:v:C3"),
        ("vocab:v", U, "LabelForProperties", None, "ratio", 0.5, 1,
         "urn:v:P1"),
        ("vocab:v", I, Un, c1, "binary", 1.0, 0, None),
        ("vocab:v", I, Un, f"{V}Cx", "binary", 0.0, 1, "urn:v:Cx"),
        ("vocab:v", I, "UndefinedProperty", p1, "binary", 1.0, 0, None),
        ("vocab:v", I, "UndefinedProperty", f"{V}Py", "binary", 0.0, 1,
         "urn:v:Py"),
        ("vocab:v", I, "UndefinedProperty", f"{V}Pz", "binary", 0.0, 1,
         "urn:v:Pz"),
        # share of items scoring 1, and their violations summed
        ("vocab:v", I, Un, None, "meta", 0.5, 1, None),
        ("vocab:v", I, "UndefinedProperty", None, "meta", 1 / 3, 2, None),
    ])

    # a property-only vocabulary: n_classes=0, and 120 unlabeled
    # properties, more than the data report's 100-sample cap
    W = "urn:w:"
    props = [f"{W}p{i:03d}" for i in range(120)]
    plan = compile_vocab_constraints(
        spark, "w", W, [VocabTerm(p, "object_property") for p in props],
        term_labels={}, used_classes=set(), used_props=set())
    rep = score_vocab_plan(spark, "w", plan, n_classes=0, n_properties=150)
    assert _sorted(rep.collect()) == [
        ("vocab:w", U, "LabelForClasses", None, "ratio", 1.0, 0, None),
        # 1 − 120/150
        ("vocab:w", U, "LabelForProperties", None, "ratio",
         pytest.approx(0.2), 120, "; ".join(props)),
    ]


def test_apply_ini_overlay(tmp_path):
    """A reference-format INI (config/*.ini keys, dq_assessment.py:40-86)
    fills the dqa args; explicit CLI flags win; root-relative paths
    resolve against the INI's parent directory."""
    import argparse

    from main import _apply_ini

    (tmp_path / "config").mkdir()
    (tmp_path / "datasets").mkdir()
    (tmp_path / "datasets" / "g.ttl").write_text("")
    (tmp_path / "datasets" / "v.xml").write_text("")
    ini = tmp_path / "config" / "t.ini"
    ini.write_text(
        "[settings]\n"
        "dataset_name = t\n"
        "graph_file = datasets/g.ttl\n"
        "graph_file_format = ttl\n"
        "base_namespace = http://ex.org/t#\n"
        "type_property = http://ex.org/type\n"
        "uris_max_length = 64\n"
        "vocabularies = v1\n"
        "[v1]\n"
        "vocab_name = v1\n"
        "file_path = datasets/v.xml\n"
        "file_format = xml\n")
    args = argparse.Namespace(
        config=str(ini), triples=None, triples_format=None, metadata=None,
        metadata_format=None, dataset_name=None, base_uri=None,
        metadata_class=None, type_property=None, labeling_property=None,
        description_property=None, interlinking_property=None,
        uris_max_length=None, vocab=[], vocab_names=[], vocab_formats=[])
    _apply_ini(args)
    assert args.triples == str(tmp_path / "datasets" / "g.ttl")
    assert args.triples_format == "ttl"
    assert args.dataset_name == "t"
    assert args.base_uri == "http://ex.org/t#"
    assert args.type_property == "http://ex.org/type"
    assert args.uris_max_length == 64
    assert args.vocab == [str(tmp_path / "datasets" / "v.xml")]
    assert args.vocab_names == ["v1"] and args.vocab_formats == ["xml"]

    # explicit CLI flag wins over the INI value
    args2 = argparse.Namespace(**{**vars(args), "triples": "/x/own.nt",
                                  "uris_max_length": 80, "vocab": []})
    args2.vocab_names, args2.vocab_formats = [], []
    _apply_ini(args2)
    assert args2.triples == "/x/own.nt"
    assert args2.uris_max_length == 80


def test_doc_contract_count_in_sync():
    """Gate docs must state the live contract size — counts drifted in r1
    and r2, so they are now asserted, not proofread."""
    import re

    import __spark_entry__ as core

    n = len(core.queries())
    assert len(core.oracle_sql()) == n  # every entry value-oracled
    baseline = open("BASELINE.md").read()
    m = re.search(r"all (\d+) contract queries \((\d+)/(\d+)", baseline)
    assert m, "BASELINE.md must state the contract count"
    assert {int(g) for g in m.groups()} == {n}, (m.groups(), n)


# A tiny data graph, OWL vocabulary (RDF/XML, as the pizza ontology) and
# VoID description: enough RDF for every stage of the dqa CLI. Seeded
# violations: margherita has two bases (FunctionalProperty), `odd` is typed
# with both disjoint classes and tops itself (IrreflexiveProperty), _:b1 is
# a blank-node entity and Crust has no instance.
MINI_NS = "http://example.org/mini#"
MINI_DATA = f"""\
@prefix ex: <{MINI_NS}> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
ex:margherita a ex:Pizza ; rdfs:label "Margherita"@en ;
    ex:hasTopping ex:tomato , ex:basil ; ex:hasBase ex:thin , ex:deep .
ex:odd a ex:Pizza , ex:Topping ; ex:hasTopping ex:odd .
ex:tomato a ex:Topping ; rdfs:label "Tomato" ; owl:sameAs ex:basil .
ex:basil a ex:Topping .
ex:thin a ex:Base .
_:b1 a ex:Pizza .
"""
MINI_VOCAB = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/mini">
  <owl:Ontology rdf:about=""/>
  <owl:Class rdf:about="#Pizza">
    <rdfs:label xml:lang="en">Pizza</rdfs:label>
    <owl:disjointWith rdf:resource="#Topping"/>
  </owl:Class>
  <owl:Class rdf:about="#Topping"/>
  <owl:Class rdf:about="#Base"/>
  <owl:Class rdf:about="#Crust"/>
  <owl:ObjectProperty rdf:about="#hasTopping">
    <rdf:type rdf:resource="http://www.w3.org/2002/07/owl#IrreflexiveProperty"/>
    <rdfs:domain rdf:resource="#Pizza"/>
    <rdfs:range rdf:resource="#Topping"/>
  </owl:ObjectProperty>
  <owl:ObjectProperty rdf:about="#hasBase">
    <rdf:type rdf:resource="http://www.w3.org/2002/07/owl#FunctionalProperty"/>
    <rdfs:domain rdf:resource="#Pizza"/>
    <rdfs:range rdf:resource="#Base"/>
  </owl:ObjectProperty>
</rdf:RDF>
"""
MINI_VOID = """\
@prefix void: <http://rdfs.org/ns/void#> .
@prefix dct: <http://purl.org/dc/terms/> .
<http://example.org/mini> a void:Dataset ;
    dct:title "Mini pizza graph" ;
    void:uriSpace "http://example.org/mini#" ;
    void:dataDump <http://example.org/mini.ttl> .
"""


def _mini_dataset(tmp_path) -> dict[str, str]:
    """Write the mini data graph, vocabulary and VoID description under
    ``tmp_path``; returns their paths by role."""
    d = tmp_path / "mini"
    d.mkdir()
    out = {}
    for role, name, text in (("data", "data.ttl", MINI_DATA),
                             ("vocab", "vocab.xml", MINI_VOCAB),
                             ("void", "void.ttl", MINI_VOID)):
        (d / name).write_text(text)
        out[role] = str(d / name)
    return out


def _dqa_args(output, **kw):
    import argparse

    args = dict(
        cmd="dqa", config=None, triples=None, triples_format=None,
        vocab=[], vocab_names=[], vocab_formats=[],
        metadata=None, metadata_format=None, metadata_class=None,
        output=str(output), dataset_name=None, base_uri=None,
        type_property=None, labeling_property=None,
        description_property=None, interlinking_property=None,
        uris_max_length=None, master=None, shuffle_partitions=None)
    args.update(kw)
    return argparse.Namespace(**args)


def test_cmd_dqa_releases_all_caches(spark, tmp_path):
    """The spark-submit dqa surface must leave NO persistent RDDs behind —
    a long-lived session (notebook, orchestrated batch) would otherwise
    accumulate one violations cache per assessed dataset. The data report
    it writes carries the seeded violations' scores."""
    import glob
    import json as _json

    from main import cmd_dqa
    from shacl_dqa_prototype_spark.plans.vocab import (
        mine_vocab,
        vocab_profile_json,
    )
    from shacl_dqa_prototype_spark.sources.rdf import parse_rdfxml

    mini = _mini_dataset(tmp_path)
    args = _dqa_args(
        tmp_path / "out", triples=mini["data"], triples_format="ttl",
        vocab=[mini["vocab"]], vocab_names=["mini_owl"],
        vocab_formats=["xml"], metadata=mini["void"], metadata_format="ttl",
        dataset_name="mini", base_uri=MINI_NS)
    # other tests share this session and legitimately hold module-scoped
    # caches — assert cmd_dqa adds NOTHING, not that the session is empty
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    cmd_dqa(args)
    assert (tmp_path / "out" / "dq_assessment_mini.csv").exists()
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    assert after - before == set(), f"cmd_dqa leaked RDDs {after - before}"

    data = {}
    for part in glob.glob(str(tmp_path / "out" / "dq_report_json" / "part-*")):
        with open(part) as f:
            for r in map(_json.loads, f):
                if r["target"] == "data":
                    data[(r["metric"], r.get("item"), r["score_kind"])] = (
                        r["measure"], r["num_violations"])
    ex = MINI_NS
    # margherita is the only hasBase subject and has two
    assert data[("FunctionalProperty", f"{ex}hasBase", "ratio")] == (0.0, 1)
    # odd tops itself; 2 hasTopping subjects
    assert data[("IrreflexiveProperty", f"{ex}hasTopping", "ratio")] == (0.5, 1)
    # odd is typed Pizza and Topping: 1 of 3 Pizza instances
    assert data[("EntitiesDisjointClasses", f"{ex}Pizza|{ex}Topping",
                 "ratio")] == pytest.approx((1 - 1 / 3, 1))
    assert data[("SchemaCompletenessClassUsage", f"{ex}Crust",
                 "binary")] == (0.0, 1)
    assert data[("SchemaCompletenessClassUsage", None, "meta")] == (0.75, 1)
    # 6 entities, one of them a blank node
    assert data[("BlankNodesUsageEntities", None, "ratio")] == (
        pytest.approx(1 - 1 / 6), 1)

    # per-vocabulary profile sink (reference utils.py:643-645)
    ours = _json.load(open(
        tmp_path / "out" / "profile" / "vocabularies" / "mini_owl.json"))
    assert ours == _json.loads(_json.dumps(
        vocab_profile_json(mine_vocab(parse_rdfxml(MINI_VOCAB)))))


@pytest.mark.skipif(not os.path.exists(PIZZA), reason="reference not mounted")
def test_cmd_dqa_pizza_vocab_profile_matches_golden(spark, tmp_path):
    """The per-vocabulary profile sink of a pizza run has the keys and
    counts of the reference's committed pizza_owl.json."""
    import json as _json

    from main import cmd_dqa

    cmd_dqa(_dqa_args(
        tmp_path / "out", triples=f"{PIZZA}/data.ttl", triples_format="ttl",
        vocab=[f"{PIZZA}/pizza.xml"], vocab_names=["pizza_owl"],
        vocab_formats=["xml"], metadata=f"{PIZZA}/void.ttl",
        metadata_format="ttl", dataset_name="pizza",
        base_uri="http://example.org/pizza#"))
    ours = _json.load(open(
        tmp_path / "out" / "profile" / "vocabularies" / "pizza_owl.json"))
    golden = _json.load(open(os.path.join(
        PIZZA, "..", "..", "profile", "vocabularies", "pizza_owl.json")))
    assert list(ours.keys()) == list(golden.keys())
    for k, gv in golden.items():
        if isinstance(gv, (list, dict)):
            assert len(ours[k]) == len(gv), k
        else:
            assert ours[k] == gv, k


def test_cmd_dqa_metadata_only(spark, tmp_path):
    """Reference -rm selective run (main.py:22-25 / dq_assessment.py:97-112):
    a metadata-only assessment must run WITHOUT --triples and emit the
    metadata-shaped report rows."""
    import csv

    from main import cmd_dqa

    mini = _mini_dataset(tmp_path)
    cmd_dqa(_dqa_args(tmp_path / "md_out", metadata=mini["void"],
                      metadata_format="ttl", dataset_name="mini md"))
    csv_path = tmp_path / "md_out" / "dq_assessment_mini_md.csv"
    assert csv_path.exists()
    with open(csv_path) as f:
        rows = list(csv.DictReader(f))
    names = {r["shape_name"] for r in rows}
    # all four metadata shape families present, nothing else
    assert any("Metadata" in n or "Availability" in n or "Authenticity" in n
               for n in names)
    assert not any("FunctionalProperty" in n for n in names)
    assert (tmp_path / "md_out" / "shapes" / "metadata_shapes.ttl").exists()
    assert not (tmp_path / "md_out" / "shapes" / "data_shapes.ttl").exists()


def test_cmd_curate_end_to_end(spark, tmp_path):
    """The spark-submit curate surface: gate -> source filter -> near-dup
    keep-best -> PII redaction, with monotone survivor counts and the
    text column actually redacted."""
    import argparse
    import json as _json

    from main import cmd_curate

    out_dir = str(tmp_path / "curated")
    args = argparse.Namespace(
        cmd="curate", docs="/root/testdata/sf0.001/documents.parquet",
        output=out_dir, ngram=5, max_dup_word_frac=0.9, min_source_docs=5,
        skip_source_filter=False, master=None, shuffle_partitions=None)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        cmd_curate(args)
    stats = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert (stats["input"] >= stats["after_quality_gate"]
            >= stats["after_source_filter"] >= stats["after_near_dedup"] > 0)
    out = spark.read.parquet(out_dir)
    assert out.count() == stats["after_near_dedup"]
    assert set(out.columns) >= {"doc_id", "text", "source"}


def test_cmd_dqa_append_matches_batch_dqa(spark, tmp_path):
    """The spark-submit incremental surface: two dqa-append deltas into a
    fresh state, then the state-derived report must row-for-row equal a
    batch dqa run over the union of the deltas (same cfg, no vocab)."""
    import argparse
    import csv

    import __spark_entry__ as core
    from main import cmd_dqa, cmd_dqa_append

    T = core._triples(spark, "/root/testdata/sf0.001")
    split = F.pmod(F.xxhash64("s"), F.lit(2)) == 0
    d1, d2 = str(tmp_path / "d1.parquet"), str(tmp_path / "d2.parquet")
    allp = str(tmp_path / "all.parquet")
    T.filter(split).write.parquet(d1)
    T.filter(~split).write.parquet(d2)
    T.write.parquet(allp)

    common = dict(
        master=None, shuffle_partitions=None, vocab=[],
        dataset_name="inc", base_uri=None,
        type_property="rdf:type", labeling_property=core.RDFS_LABEL,
        description_property=None, interlinking_property=None,
        uris_max_length=None,
    )
    state = str(tmp_path / "state")
    cmd_dqa_append(argparse.Namespace(
        cmd="dqa-append", state=state, delta=d1, delta_id="d1",
        report=None, **common))
    rep_dir = str(tmp_path / "inc_report")
    cmd_dqa_append(argparse.Namespace(
        cmd="dqa-append", state=state, delta=d2, delta_id="d2",
        report=rep_dir, **common))

    batch_dir = str(tmp_path / "batch_report")
    cmd_dqa(argparse.Namespace(
        cmd="dqa", config=None, triples=allp, triples_format=None,
        metadata=None, metadata_format=None, metadata_class=None,
        output=batch_dir, vocab_names=[], vocab_formats=[], **common))

    def rows_of(d):
        with open(f"{d}/dq_assessment_inc.csv") as f:
            return sorted((r["shape_name"], r["score"], r["num_violations"])
                          for r in csv.DictReader(f))

    inc, batch = rows_of(rep_dir), rows_of(batch_dir)
    assert inc == batch and len(inc) > 5


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    """The launch contract is `spark-submit --py-files engine.zip main.py`
    (reference runs `python main.py -c config.ini`, main.py:20-27; ours is
    the cluster-shaped equivalent). This test exercises the REAL binary:
    build engine.zip with --make-pyfiles, copy main.py alone into an empty
    directory — so the package is importable ONLY from the zip — and
    spark-submit an assessment of the mini dataset from there. A module
    missing from the packaging step fails here instead of on a
    1000-executor cluster, and the report CSV must be byte-identical to
    the in-process run."""
    import os
    import shutil
    import subprocess

    import main as mainmod
    from main import cmd_dqa, make_pyfiles

    zip_path = str(tmp_path / "engine.zip")
    make_pyfiles(zip_path)

    # isolated launch dir: main.py + nothing else
    launch = tmp_path / "launch"
    launch.mkdir()
    shutil.copy(mainmod.__file__, launch / "main.py")

    mini = _mini_dataset(tmp_path)
    argv_tail = [
        "dqa", "--master", "2", "--shuffle-partitions", "4",
        "--triples", mini["data"],
        "--vocab", mini["vocab"],
        "--metadata", mini["void"],
        "--dataset-name", "mini",
        "--base-uri", MINI_NS,
    ]
    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit must be on PATH"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_sub = tmp_path / "out_submit"
    proc = subprocess.run(
        [spark_submit, "--py-files", zip_path, str(launch / "main.py"),
         *argv_tail, "--output", str(out_sub)],
        cwd=str(launch), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # in-process reference run on the shared session; the vocab name must
    # match the CLI path's filename-stem inference ("vocab"), because it
    # lands in the CSV's vocab rows
    out_ref = tmp_path / "out_ref"
    cmd_dqa(_dqa_args(
        out_ref, triples=mini["data"], triples_format="ttl",
        vocab=[mini["vocab"]], vocab_names=["vocab"], vocab_formats=["xml"],
        metadata=mini["void"], metadata_format="ttl", dataset_name="mini",
        base_uri=MINI_NS))
    sub_csv = (out_sub / "dq_assessment_mini.csv").read_bytes()
    ref_csv = (out_ref / "dq_assessment_mini.csv").read_bytes()
    assert sub_csv == ref_csv and len(sub_csv) > 1000


def test_read_rdf_routes_large_ttl_distributed(spark, tmp_path, monkeypatch):
    """Large `.ttl` data graphs go through read_turtle_distributed; files
    with multi-line long strings (distributed-unsupported) and callers
    that need the driver row list (vocab graphs) fall back to the driver
    parser. Both paths must yield the same triples."""
    import main as mainmod
    from shacl_dqa_prototype_spark.sources.rdf import parse_turtle

    EX = "http://example.org/"
    stmts = [f"@prefix ex: <{EX}> ."] + [
        f'ex:s{i} ex:p ex:o{i} ; ex:n "v{i}" .' for i in range(200)]
    clean = tmp_path / "clean.ttl"
    clean.write_text("\n".join(stmts) + "\n")
    longstr = tmp_path / "long.ttl"
    longstr.write_text(
        "\n".join(stmts) + f'\nex:s0 ex:big """multi\nline""" .\n')

    monkeypatch.setattr(mainmod, "_TTL_DISTRIBUTED_MIN_BYTES", 1)
    calls = []
    from shacl_dqa_prototype_spark.sources import rdf as rdfmod
    orig = rdfmod.read_turtle_distributed

    def spy(spark_, path, **kw):
        calls.append(path)
        return orig(spark_, path, **kw)

    monkeypatch.setattr(rdfmod, "read_turtle_distributed", spy)

    df, rows = mainmod._read_rdf(spark, str(clean))
    assert calls == [str(clean)] and rows is None
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        set(parse_turtle(clean.read_text())))

    df2, rows2 = mainmod._read_rdf(spark, str(longstr))
    assert calls == [str(clean)]  # long strings: driver fallback
    assert rows2 is not None and len(rows2) == 401

    _, rows3 = mainmod._read_rdf(spark, str(clean), need_rows=True)
    assert calls == [str(clean)] and len(rows3) == 400


def test_ttl_longstring_scan_blockwise_edges(tmp_path):
    """The routing pre-scan runs block-wise (8 MB memchr + line-exact
    check only on candidate blocks — the per-line loop measured ~10x
    slower on multi-GB dumps). Exactness across the block machinery:
    benign candidates stay False, and a real opener is found even when
    its line straddles the 8 MB block boundary or ends the file without
    a newline."""
    from main import _ttl_has_long_strings

    line = b'<http://e/s%d> <http://e/p> "some literal value" .\n'

    p = tmp_path / "a.ttl"
    p.write_bytes(b"".join(line % i for i in range(50)))
    assert _ttl_has_long_strings(str(p)) is False

    # triple quotes inside one-line literals / comments: benign
    p.write_bytes(
        b'<http://e/x> <http://e/p> "has \'\'\' inside" . # and """ here\n'
        + line % 1)
    assert _ttl_has_long_strings(str(p)) is False

    # opener line straddling the 8 MB block boundary
    with open(p, "wb") as f:
        f.write(line % 0)
        f.write(b"# " + b"x" * ((8 << 20) - f.tell() - 30) + b"\n")
        f.write(b'<http://e/z> <http://e/p> """straddle\nit""" .\n')
    assert _ttl_has_long_strings(str(p)) is True

    # opener on a final line with no trailing newline
    p.write_bytes(b'<http://e/w> <http://e/p> """no-eol')
    assert _ttl_has_long_strings(str(p)) is True


def test_doubly_deprecated_term_yields_one_shape():
    """A property both owl:deprecated=true AND typed owl:DeprecatedProperty
    appears twice in the mined profile list (byte-exact reference parity)
    but must instantiate ONE VocabTerm — duplicates produced duplicate
    C17/C22 report rows and a double-counted meta rollup (review
    finding)."""
    from shacl_dqa_prototype_spark.plans.vocab import (
        mine_vocab,
        profile_to_vocab_terms,
    )

    OWL = "http://www.w3.org/2002/07/owl#"
    RDF_T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    P, C = "http://v.org/ns#P", "http://v.org/ns#C"
    rows = [
        (P, RDF_T, f"{OWL}ObjectProperty", "iri", None, None),
        (P, RDF_T, f"{OWL}DeprecatedProperty", "iri", None, None),
        (P, f"{OWL}deprecated", "true", "literal", None, None),
        (C, RDF_T, f"{OWL}Class", "iri", None, None),
        (C, RDF_T, f"{OWL}DeprecatedClass", "iri", None, None),
        (C, f"{OWL}deprecated", "true", "literal", None, None),
    ]
    prof = mine_vocab(rows)
    # the PROFILE keeps the reference's duplicate appends byte-for-byte
    assert prof.deprecated_properties.count(P) == 2
    assert prof.deprecated_classes.count(C) == 2
    terms, _ = profile_to_vocab_terms(prof)
    dep_p = [t for t in terms if t.term == P and t.deprecated]
    dep_c = [t for t in terms if t.term == C and t.deprecated]
    assert len(dep_p) == 1 and len(dep_c) == 1


def test_infer_namespace_hash_first(spark):
    """The reference splits namespaces '#'-first; a greedy [#/] regex
    captured through a '/' occurring after the '#' (review finding)."""
    from shacl_dqa_prototype_spark.plans.profile import infer_namespace

    T = spark.createDataFrame(
        [(f"http://ex.org/vocab#section/item{i}", "urn:p", "o",
          "iri", None, None) for i in range(3)]
        + [("http://other.org/a/b", "urn:p", "o", "iri", None, None)],
        "s string, p string, o string, o_kind string, "
        "o_dtype string, o_lang string")
    assert infer_namespace(T) == "http://ex.org/vocab#"


def test_literal_datatypes_effective_dtype(spark):
    """RDF 1.1 effective-datatype routing: explicit dtype wins, lang tag
    means rdf:langString, bare literal means xsd:string; IRIs excluded."""
    from shacl_dqa_prototype_spark.functions.terms import RDF_LANGSTRING, XSD
    from shacl_dqa_prototype_spark.plans.profile import literal_datatypes

    xsd_date = f"{XSD}date"
    T = spark.createDataFrame(
        [("s1", "p1", "2020-01-01", "literal", xsd_date, None),
         ("s2", "p2", "2020-01-02", "literal", xsd_date, None),
         ("s3", "p1", "hello", "literal", None, "en"),
         ("s4", "p3", "plain", "literal", None, None),
         ("s5", "p4", "urn:x", "iri", None, None)],
        "s string, p string, o string, o_kind string, "
        "o_dtype string, o_lang string")
    got = {r["datatype"]: (r["num_literals"], r["num_properties"])
           for r in literal_datatypes(T).collect()}
    assert got == {xsd_date: (2, 2),
                   RDF_LANGSTRING: (1, 1),
                   f"{XSD}string": (1, 1)}


def test_degree_distribution_exact_buckets(spark):
    """Bit-length bucketing: degree d lands in bucket floor(log2(d)),
    exact at powers of two (no float log); literal objects add no
    in-degree."""
    from shacl_dqa_prototype_spark.plans.profile import degree_distribution

    # hub: subject of 4 triples -> degree 4 (bucket 2)
    # s2: subject of 2 triples + object of 1 -> degree 3 (bucket 1)
    # o0: object of hub AND s2 -> degree 2 (bucket 1); o1, o2: degree 1
    rows = [("hub", "p", f"o{i}", "iri", None, None) for i in range(3)]
    rows += [("hub", "p", "s2", "iri", None, None)]
    rows += [("s2", "p", "lit", "literal", None, None),
             ("s2", "p2", "o0", "iri", None, None)]
    T = spark.createDataFrame(
        rows, "s string, p string, o string, o_kind string, "
              "o_dtype string, o_lang string")
    got = {r["bucket"]: (r["n_nodes"], r["min_degree"], r["max_degree"])
           for r in degree_distribution(T).collect()}
    # degrees: hub=4; s2=2+1=3; o0=2; o1,o2=1
    assert got == {2: (1, 4, 4), 1: (2, 2, 3), 0: (2, 1, 1)}


def test_read_rdf_nt_vocab_rows(spark, tmp_path):
    """An .nt vocabulary must yield the driver row list — need_rows was
    ignored on the nt branch, so mine_vocab ran on [] and the whole vocab
    report was silently garbled (review finding)."""
    import main as mainmod

    p = tmp_path / "v.nt"
    p.write_text(
        "<http://v.org/ns#C> "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://www.w3.org/2002/07/owl#Class> .\n")
    _, rows = mainmod._read_rdf(spark, str(p), need_rows=True)
    assert rows and rows[0][0] == "http://v.org/ns#C"


def test_vocab_dqa_configured_labeling_property(spark):
    """C37/C38 label presence keys on the CONFIGURED labeling property
    (reference shacl_shape_builder.py:546-547) — it was hard-coded to
    rdfs:label, mis-scoring skos:prefLabel-labeled vocabs (review
    finding)."""
    from shacl_dqa_prototype_spark.plans.dqa import run_vocab_dqa

    OWL = "http://www.w3.org/2002/07/owl#"
    RDF_T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SKOS_PL = "http://www.w3.org/2004/02/skos/core#prefLabel"
    rows = [
        ("http://v.org/ns#C", RDF_T, f"{OWL}Class", "iri", None, None),
        ("http://v.org/ns#C", SKOS_PL, "a class", "literal", None, "en"),
    ]
    rep = run_vocab_dqa(spark, "v", rows, set(), set(),
                        labeling_property=SKOS_PL)
    lbl = {r["metric"]: r["measure"] for r in rep.collect()
           if r["metric"] == "LabelForClasses"}
    assert lbl["LabelForClasses"] == 1.0  # labeled via the configured prop
    rep2 = run_vocab_dqa(spark, "v", rows, set(), set())  # default rdfs:label
    lbl2 = {r["metric"]: r["measure"] for r in rep2.collect()
            if r["metric"] == "LabelForClasses"}
    assert lbl2["LabelForClasses"] == 0.0


def test_vocab_empty_namespace_no_undefined_flood(spark):
    """An all-bnode (or empty) vocab has namespace '' — startswith('')
    matches EVERYTHING, so every used class/property in the dataset was
    flagged Undefined (review finding); an empty namespace now scopes
    nothing."""
    from shacl_dqa_prototype_spark.plans.vocab_shapes import (
        compile_vocab_constraints,
    )

    plan = compile_vocab_constraints(
        spark, "v", "", [], {},
        used_classes={"urn:c:A", "urn:c:B"}, used_props={"urn:p:x"})
    undef = plan.violations.filter(
        plan.violations.metric.contains("Undefined")).count()
    assert undef == 0


def test_metadata_zero_focus_nodes_conforms():
    """SHACL with zero target nodes CONFORMS: the reference defaults every
    binary metadata metric to 1 and only flips on a ValidationResult
    (dq_assessment.py:294-330) — an untyped dataset node scored all 0s
    here (review finding)."""
    from pyspark.sql import SparkSession

    from shacl_dqa_prototype_spark.plans.metadata import evaluate_metadata

    spark = SparkSession.getActiveSession()
    md = spark.createDataFrame(
        [("urn:d", "http://purl.org/dc/terms/title", "t", "literal",
          None, None)],  # dataset node NOT typed void:Dataset
        "s string, p string, o string, o_kind string, "
        "o_dtype string, o_lang string")
    res = evaluate_metadata(md, "http://rdfs.org/ns/void#Dataset")
    assert len(res) == 9 and all(r.measure == 1 for r in res)


def test_check_oracle_rejects_bad_selections():
    """The local gate tool must ERROR on selections that match nothing —
    flag-style args ('--only', 'a,b') previously matched zero queries
    and printed a vacuous ALL OK (a real green gate has one OK line per
    entry). Fail-fast: both rejections happen before any Spark startup,
    so this test runs in seconds."""
    import os
    import subprocess
    import sys as _sys

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": REPO}
    bad_name = subprocess.run(
        [_sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         "/root/testdata/sf0.001", "--only", "no_such_query,also_missing"],
        capture_output=True, text=True, env=env, timeout=120)
    assert bad_name.returncode == 2
    assert "unknown query name" in bad_name.stdout
    assert "ALL OK" not in bad_name.stdout
    bad_dir = subprocess.run(
        [_sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         "--sf"],
        capture_output=True, text=True, env=env, timeout=120)
    assert bad_dir.returncode == 2
    assert "not a directory" in bad_dir.stdout


def test_uncovered_contract_lists_missing_entries(tmp_path):
    """tools/uncovered_contract.py prints, in queries() order, exactly the
    contract entries a correctness snapshot lacks — ready to pass on to
    check_oracle.py — and ignores snapshot names no longer in queries()."""
    import json
    import subprocess
    import sys as _sys

    import __spark_entry__ as entrymod

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = list(entrymod.queries())
    snap = tmp_path / "CORRECTNESS_rXX.json"
    snap.write_text(json.dumps(
        {names[0]: {"rows_match": True}, names[5]: {"rows_match": False},
         "retired_entry": {"rows_match": True}}))
    out = subprocess.run(
        [_sys.executable, os.path.join(REPO, "tools", "uncovered_contract.py"),
         str(snap)], capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == [n for i, n in enumerate(names)
                                  if i not in (0, 5)]
    usage = subprocess.run(
        [_sys.executable, os.path.join(REPO, "tools", "uncovered_contract.py")],
        capture_output=True, text=True, timeout=120)
    assert usage.returncode == 2
