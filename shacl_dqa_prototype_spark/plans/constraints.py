"""C1–C32 — the data-shape constraint compiler.

Replaces the reference's Jinja2-template → pySHACL-interpretation stack
(/root/reference/shacl_shape_builder.py + dq_assessment/shapes/
data_shapes.template.ttl) with a driver-side planner that compiles every
shape family to DataFrame jobs (filters, semi/anti joins, hash aggregates
over the triple table T), emitting a uniform violations DataFrame
V(metric, item, focus, value). The branches cover every vocabulary term;
the instantiated shape list — one ShapeSpec per report row — is
data_shapes, plain Python over the same inputs plus the usage sets of the
graph profile the plan is scored with (scoring.score_plan), so a term
unused in the data matches no row and gets no shape.

Every family is written once, in one of two tiers:
  * row tier (row_violations): the families whose violations are decided
    per triple against broadcast vocab dims — C1, C14, C17-C22, C31 and the
    datatype/nodeKind CorrectRange + MalformedLiteral. They are
    append-monotone: the violations of a set of triples are the union of
    the violations of its parts, and no later triple retracts one.
  * state tier (state_violations): every other family, evaluated over up
    to six mergeable aggregates of the triples (state_aggregates: per-subject
    flags, (p, s) counts, typing pairs, and the IFP / class-domain /
    class-range + asymmetric slices). A later triple can create or retract
    these violations, so they are decided on the aggregates of ALL triples.

Batch DQA is one delta folded into empty, in-memory state:
compile_data_constraints = row_violations(T) ∪
state_violations(state_aggregates(T)). The incremental engine
(plans/incremental.py) merges state_aggregates(delta) into persisted
snapshots, appends row_violations(delta) to a log, and evaluates
state_violations over the snapshot reads — the same code on both paths.

Key semantics preserved from the reference (citations per family below):
  * the sh:or exemption wrapper — focus nodes typed rdfs:Class /
    rdf:Property / owl:NamedIndividual are exempt from entity-scoped shapes
    (data_shapes.template.ttl:16-33) → the is_exempt subject flag;
  * shape pruning by usage — per-property shapes only for vocab properties
    actually used in the profiled graph (shacl_shape_builder.py:318,345,
    370,…), decided at scoring from the profile's per-property and
    per-class keys;
  * sh:datatype = datatype-IRI match AND well-formed lexical form;
  * one physical job fanned out to two metrics where the reference
    instantiates both (CorrectRange+MalformedLiteral, SelfDescriptiveFormat
    +BlankNodesUsage).

Scale notes: T is the only big input; every vocab dim is broadcast; the
per-triple and per-subject families are one fused scan each, so the whole
plan is O(#families) jobs, not O(#shapes) — the reference's 344 pizza
shapes compile to ~20 jobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.functions.terms import (
    EXEMPT_TYPES,
    OWL_NAMED_INDIVIDUAL,
    OWL_SAME_AS,
    PROLIX_CLASSES,
    RDF_LANGSTRING,
    RDF_TYPE,
    RDFS_LABEL,
    DCT,
    RDFS,
    XSD,
)
from shacl_dqa_prototype_spark.functions.xsd import ill_formed_literal


@dataclass
class DQAConfig:
    """Engine equivalent of the reference INI config
    (/root/reference/config/config_template.ini → dq_assessment.py:53-86)."""

    type_property: str = RDF_TYPE
    labeling_property: str = RDFS_LABEL
    description_property: str = f"{DCT}description"
    interlinking_property: str = OWL_SAME_AS
    uris_max_length: int = 80
    base_uri: str | None = None
    uri_regex_pattern: str | None = None   # from VoID metadata (C4)
    uri_space: str | None = None           # from VoID metadata (C5)
    check_languages: bool = True


@dataclass(frozen=True)
class ShapeSpec:
    """One instantiated shape = one (metric, item) scoring row.

    denom ∈ {binary, entities, subjects_per_property, entities_per_class}
    selects the score rule + denominator family (const.py:33-104)."""

    metric: str
    item: str | None
    denom: str
    denom_key: str | None = None


@dataclass
class VocabTerm:
    term: str
    term_kind: str          # class | object_property | datatype_property | rdf_property
    domain: str | None = None
    range: str | None = None
    range_kind: str | None = None
    deprecated: bool = False
    functional: bool = False
    inverse_functional: bool = False
    irreflexive: bool = False
    asymmetric: bool = False


@dataclass
class ConstraintPlan:
    violations: DataFrame
    # the inputs data_shapes instantiates the shape list from, once
    # score_plan has collected the usage sets of the scoring profile
    vocab_terms: list[VocabTerm]
    disjoint_pairs: list[tuple[str, str]]
    cfg: DQAConfig
    # the union's branches, for per-family plan auditing/attribution
    # (tools/plan_audit-style timing) — evaluation always goes through
    # `violations`, never through these
    parts: list[DataFrame] = field(default_factory=list)
    # metrics each branch can emit (parallel to `parts`)
    part_metrics: list[frozenset] = field(default_factory=list)


# one union branch of a tier and the metrics it can emit
Branch = tuple[DataFrame, frozenset]


def _v(df: DataFrame, metric: str, item: Column, focus: Column,
       value: Column | None = None) -> DataFrame:
    return df.select(
        F.lit(metric).alias("metric"),
        item.cast("string").alias("item"),
        focus.cast("string").alias("focus"),
        (value if value is not None else F.lit(None)).cast("string").alias("value"),
    )


# the flag columns of subject_flags, in the order the incremental state
# stores them (SUBJ_FLAGS_SCHEMA)
SUBJECT_FLAGS = ("is_entity", "is_exempt", "has_label", "has_ilp", "has_desc",
                 "is_prolix", "lbl_nolang", "dsc_nolang")


def subject_flags(T: DataFrame, cfg: DQAConfig) -> DataFrame:
    """The per-subject flags aggregate (s, *SUBJECT_FLAGS) that every
    entity-scoped family (C2/C3/C6/C8-C13/C15) and the entity counts of the
    incremental profile read. Booleans combine map-side, so this costs a
    single #distinct-subjects-wide shuffle instead of the separate
    distinct + anti/semi-join shuffles each family would otherwise run —
    at 100 TB that is 1 shuffle of the subject set vs ~8. Every flag is a
    bool-max, which is how the incremental state merges a delta's
    aggregate into its own."""
    p, o = F.col("p"), F.col("o")
    typed = p == cfg.type_property
    label = p == cfg.labeling_property
    desc = p == cfg.description_property
    untagged = F.col("o_lang").isNull()
    flags = {
        "is_entity": typed,
        "is_exempt": typed & o.isin(EXEMPT_TYPES),
        "has_label": label,
        "has_ilp": p == cfg.interlinking_property,
        "has_desc": desc,
        "is_prolix": typed & o.isin(PROLIX_CLASSES),
        "lbl_nolang": label & untagged,
        "dsc_nolang": desc & untagged,
    }
    return T.groupBy("s").agg(*[F.max(flags[f]).alias(f) for f in SUBJECT_FLAGS])


def flag_families(cfg: DQAConfig) -> list[tuple]:
    """The entity-scoped families as fused-scan entries (metric, item,
    focus, value, condition) over subject_flags rows, emitted by
    state_violations with ONE fused_scan."""
    s = F.col("s")
    null = F.lit(None).cast("string")
    bnode = s.startswith("_:")
    # entity targets minus the sh:or exemption set (rdfs:Class/rdf:Property/
    # owl:NamedIndividual focus nodes are exempt — template:16-33)
    ent = F.col("is_entity") & ~F.col("is_exempt")
    # C2 UsageHashURIsEntities (template:12-34): sh:pattern applies to the
    # string form; blank-node focus nodes always violate pattern
    # constraints (observed in the pizza golden output: the 3 bnodes are in
    # the violation list). C3 LabelForEntities (template:36-59): minCount 1.
    fams = [
        ("UsageHashURIsEntities", null, s, null,
         ent & (s.contains("#") | bnode)),
        ("LabelForEntities", null, s, null, ent & ~F.col("has_label")),
    ]
    # C4/C5 URI regex/space compliance (template:61-107, gated)
    if cfg.uri_regex_pattern:
        fams.append(("URIRegexComplianceEntities", null, s, null,
                     ent & (bnode | ~s.rlike("^" + cfg.uri_regex_pattern))))
    if cfg.uri_space:
        fams.append(("URISpaceComplianceEntities", null, s, null,
                     ent & ~s.startswith(cfg.uri_space)))
    # C6 InterlinkingCompleteness (template:109-132); C8/C9 URI length /
    # query params (template:156-202) — sh:maxLength also violates for
    # blank-node focus nodes (SHACL spec; confirmed in the pizza golden);
    # C10 ProlixFeatures (template:204-234)
    fams += [
        ("InterlinkingCompleteness", null, s, null, ent & ~F.col("has_ilp")),
        ("URIsLengthEntities", null, s, null,
         ent & ((F.length("s") > cfg.uris_max_length) | bnode)),
        ("URIsParametersEntities", null, s, null, ent & s.rlike(r"\?.+=.*")),
        ("ProlixFeatures", null, s, null, ent & F.col("is_prolix")),
    ]
    # C11/C12 DifferentLanguages* (template:236-284, gated): subjects with
    # >=1 untagged value of the property, minus the exemption set (the
    # target here is NOT restricted to entities)
    if cfg.check_languages:
        fams += [
            ("DifferentLanguagesLabelsEntities", F.lit(cfg.labeling_property),
             s, null, ~F.col("is_exempt") & F.col("lbl_nolang")),
            ("DifferentLanguagesDescriptionsEntities",
             F.lit(cfg.description_property),
             s, null, ~F.col("is_exempt") & F.col("dsc_nolang")),
        ]
    # C13/C15 SelfDescriptiveFormat + BlankNodesUsage (286-340): identical
    # filter, two metrics — same fused scan, two entries
    fams += [("SelfDescriptiveFormat", null, s, null, ent & bnode),
             ("BlankNodesUsageEntities", null, s, null, ent & bnode)]
    return fams


def fused_scan(base: DataFrame, fams: list[tuple]) -> DataFrame:
    """ONE scan + explode of ``base`` emitting the violations of every
    (metric, item, focus, value, condition) entry in ``fams`` — 1 pass
    over the input instead of one union branch per family."""
    entries = [
        F.when(cond, F.struct(
            F.lit(metric).alias("metric"),
            item.cast("string").alias("item"),
            focus.cast("string").alias("focus"),
            value.cast("string").alias("value"),
        ))
        for metric, item, focus, value, cond in fams
    ]
    return (base.select(F.explode(F.array_compact(F.array(*entries)))
                        .alias("_f"))
            .select("_f.metric", "_f.item", "_f.focus", "_f.value"))


OWL_THING = "http://www.w3.org/2002/07/owl#Thing"


def range_form(t: VocabTerm) -> str:
    """How the CorrectRange shape of property ``t`` checks its range —
    the instantiation rules differ BY TERM KIND (shacl_shape_builder.py):

      * "datatype": sh:datatype(range) + a MalformedLiteral shape. Every
        datatype_property (builder:340-362), including range rdfs:Literal,
        which no literal satisfies, so every value violates; and an
        rdf_property whose literal-kind range is not rdfs:Literal
        (builder:433-455);
      * "literal": nodeKind Literal, an rdf_property ranged rdfs:Literal;
      * "iri": nodeKind BlankNodeOrIRI, an object_property ranged owl:Thing
        (builder:330-336);
      * "resource": both nodeKinds (vacuous), an object_property ranged
        rdfs:Resource;
      * "class": sh:class(range), every other range. Reference parity
        (builder:450-455): the rdf_property branch compares info['range']
        (a dict) to the owl:Thing / rdfs:Resource strings — always false —
        so a class-kind rdf_property range is ALWAYS sh:class, owl:Thing
        and rdfs:Resource included.

    _select_terms routes the scored shapes and shapes_ttl renders them by
    this one function."""
    if t.term_kind == "datatype_property":
        return "datatype"
    if t.term_kind == "object_property":
        return {OWL_THING: "iri", f"{RDFS}Resource": "resource"}.get(
            t.range, "class")
    if t.range_kind == "literal":  # rdf_property
        return "literal" if t.range == f"{RDFS}Literal" else "datatype"
    return "class"


@dataclass(frozen=True)
class _Terms:
    """The vocabulary terms each family instantiates shapes for, after
    deprecation and usage pruning. data_shapes and the plan's branches read
    this one selection, so a shape and the branch that scores it cannot
    disagree on their terms."""

    classes: list[str]              # non-deprecated vocab classes
    depr_classes: list[str]
    props: list[str]                # every property term
    depr_props: list[str]
    used_obj: list[str]
    used_dt: list[str]
    ifp: list[str]
    fp: list[str]
    asym: list[str]
    irr: list[str]
    dom_terms: list[VocabTerm]
    dom_cls: list[VocabTerm]        # sh:class domain anti-join
    rng_terms: list[VocabTerm]
    rng_dt: list[VocabTerm]         # sh:datatype + MalformedLiteral
    rng_cls: list[VocabTerm]        # sh:class anti-join
    rng_nk_literal: list[VocabTerm]  # nodeKind Literal
    rng_nk_bi: list[VocabTerm]      # nodeKind BlankNodeOrIRI
    dpairs: list[tuple[str, str]]   # directed disjoint-class pairs


def _select_terms(
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    used_props: set[str],
    used_classes: set[str],
) -> _Terms:
    props = [t for t in vocab_terms if t.term_kind != "class"]
    live = [t for t in props if not t.deprecated]
    rng_terms = [t for t in live if t.range and t.term in used_props]

    def routed(form: str) -> list[VocabTerm]:
        return [t for t in rng_terms if range_form(t) == form]

    # owl:Thing domain → nodeKind BlankNodeOrIRI, structurally satisfied
    # for RDF subjects (C27): shape instantiated, no violation to compute
    dom_terms = [t for t in live if t.domain and t.term in used_props]
    pairs = set(disjoint_pairs) | {(b, a) for (a, b) in disjoint_pairs}
    return _Terms(
        classes=[t.term for t in vocab_terms
                 if t.term_kind == "class" and not t.deprecated],
        depr_classes=[t.term for t in vocab_terms
                      if t.term_kind == "class" and t.deprecated],
        props=[t.term for t in props],
        depr_props=sorted(t.term for t in props if t.deprecated),
        used_obj=sorted({t.term for t in live
                         if t.term_kind == "object_property"} & used_props),
        used_dt=sorted({t.term for t in live
                        if t.term_kind == "datatype_property"} & used_props),
        # deprecated terms are excluded from IFP/functional checks —
        # reference parity: utils.py:313-318 skips deprecated when
        # harvesting both sets (asymmetric/irreflexive harvesting does not)
        ifp=sorted({t.term for t in live if t.inverse_functional} & used_props),
        fp=sorted({t.term for t in live if t.functional} & used_props),
        asym=sorted({t.term for t in props if t.asymmetric} & used_props),
        irr=sorted({t.term for t in props if t.irreflexive} & used_props),
        dom_terms=dom_terms,
        dom_cls=[t for t in dom_terms if t.domain != OWL_THING],
        rng_terms=rng_terms, rng_dt=routed("datatype"),
        rng_cls=routed("class"), rng_nk_literal=routed("literal"),
        rng_nk_bi=routed("iri"),
        dpairs=sorted((a, b) for (a, b) in pairs if a in used_classes),
    )


def _state_terms(vocab_terms: list[VocabTerm],
                 disjoint_pairs: list[tuple[str, str]] | None = None) -> _Terms:
    """The term selection every violation branch reads, batch and state
    alike: every vocabulary property and every disjoint class counts as
    used — a term unused in the data matches no triple and no state row,
    and pruning by usage would need a profile job per compile or delta.
    The disjoint pairs are still pruned to those whose first class has a
    direct instance, by a semi-join in state_violations."""
    disjoint_pairs = disjoint_pairs or []
    return _select_terms(
        vocab_terms, disjoint_pairs,
        used_props={t.term for t in vocab_terms if t.term_kind != "class"},
        used_classes={c for pair in disjoint_pairs for c in pair})


def data_shapes(
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    cfg: DQAConfig,
    used_props: set[str],
    used_classes: set[str],
) -> list[ShapeSpec]:
    """The instantiated data shapes — one ShapeSpec per (metric, item)
    report row — pruned by the usage sets of the profiled graph (the keys
    of its per-property and per-class tables). Pure Python, called by
    score_plan once those keys are collected. Each shape's denom follows
    const.py:33-104 (DeprecatedProperties: const.py:76-86)."""
    t = _select_terms(vocab_terms, disjoint_pairs, used_props, used_classes)

    def ent(metric: str) -> ShapeSpec:
        return ShapeSpec(metric, None, "entities")

    def per_prop(metric: str, prop: str) -> ShapeSpec:
        return ShapeSpec(metric, prop, "subjects_per_property", prop)

    def binary(metric: str, item: str | None) -> ShapeSpec:
        return ShapeSpec(metric, item, "binary")

    shapes = []
    if cfg.base_uri:
        shapes.append(per_prop("UsageExternalURIEntities",
                               cfg.interlinking_property))
    shapes += [ent("UsageHashURIsEntities"), ent("LabelForEntities")]
    if cfg.uri_regex_pattern:
        shapes.append(ent("URIRegexComplianceEntities"))
    if cfg.uri_space:
        shapes.append(ent("URISpaceComplianceEntities"))
    shapes.append(ent("InterlinkingCompleteness"))
    shapes += [binary("SchemaCompletenessClassUsage", c) for c in t.classes]
    shapes += [ent("URIsLengthEntities"), ent("URIsParametersEntities"),
               ent("ProlixFeatures")]
    if cfg.check_languages:
        shapes += [per_prop("DifferentLanguagesLabelsEntities",
                            cfg.labeling_property),
                   per_prop("DifferentLanguagesDescriptionsEntities",
                            cfg.description_property)]
    shapes += [ent("SelfDescriptiveFormat"), ent("BlankNodesUsageEntities")]
    shapes += [binary("SelfDescriptiveFormatProperties", p)
               for p in sorted(used_props)]
    shapes += [ShapeSpec("EntitiesDisjointClasses", f"{a}|{b}",
                         "entities_per_class", a) for a, b in t.dpairs]
    shapes += [binary("MisplacedProperties", p) for p in t.props]
    shapes += [binary("MisplacedClasses", c) for c in t.classes]
    shapes += [per_prop("MisuseOwlObjectProperties", p) for p in t.used_obj]
    shapes += [per_prop("MisuseOwlDatatypeProperties", p) for p in t.used_dt]
    if t.depr_classes:
        shapes.append(binary("DeprecatedClasses", None))
    shapes += [ShapeSpec("DeprecatedProperties", p, "entities")
               for p in t.depr_props]
    shapes += [binary("InverseFunctionalPropertyUniqueness", p) for p in t.ifp]
    shapes += [per_prop("FunctionalProperty", p) for p in t.fp]
    shapes += [per_prop("AsymmetricProperty", p) for p in t.asym]
    shapes += [per_prop("IrreflexiveProperty", p) for p in t.irr]
    shapes += [per_prop("CorrectDomain", x.term) for x in t.dom_terms]
    shapes += [per_prop("CorrectRange", x.term) for x in t.rng_terms]
    shapes += [per_prop("MalformedLiteral", x.term) for x in t.rng_dt]
    return shapes


def row_violations(T: DataFrame, terms: _Terms, cfg: DQAConfig) -> list[Branch]:
    """The row tier: every append-monotone family, as one fused scan of T
    plus the C17 branch. Batch evaluates it over T, the incremental engine
    over each delta (its violation log)."""
    spark = T.sparkSession
    p, s, o = F.col("p"), F.col("s"), F.col("o")
    # fused single-scan families over the triple table: (metric, item_col,
    # focus_col, value_col, condition). Every per-row filter family joins
    # this list and is emitted by ONE scan + explode (fused_scan) instead of
    # one union branch per family — at 100 TB that is 1 pass over the
    # triple table instead of ~8.
    row_fams: list[tuple] = []
    _null = F.lit(None).cast("string")

    # ---- C1 UsageExternalURIEntities (template:1-10) ----------------------
    # Violation: interlinking value inside the dataset's own base URI.
    if cfg.base_uri:
        ilp = cfg.interlinking_property
        row_fams.append(("UsageExternalURIEntities", F.lit(ilp), s, o,
                         (p == ilp) & o.startswith(cfg.base_uri)))

    # ---- C14 SelfDescriptiveFormatProperties (310-316): per used property --
    # targetObjectsOf <prop>: object must be IRI.
    row_fams.append(("SelfDescriptiveFormatProperties", p, o, _null,
                     F.col("o_kind") != "iri"))

    # ---- C18 MisplacedClasses (363-386): class IRI used as predicate ------
    if terms.classes:
        row_fams.append(("MisplacedClasses", p, s, _null,
                         p.isin(terms.classes)))

    # ---- C19/C20 Misuse of object/datatype properties (388-408) -----------
    if terms.used_obj:
        row_fams.append(("MisuseOwlObjectProperties", p, s, o,
                         p.isin(terms.used_obj) & (F.col("o_kind") == "literal")))
    if terms.used_dt:
        row_fams.append(("MisuseOwlDatatypeProperties", p, s, o,
                         p.isin(terms.used_dt) & (F.col("o_kind") != "literal")))

    # ---- C21 DeprecatedClasses (410-435): single binary shape -------------
    if terms.depr_classes:
        row_fams.append(("DeprecatedClasses", _null, s, o,
                         (p == cfg.type_property) & o.isin(terms.depr_classes)))

    # ---- C22 DeprecatedProperties (437-460): per deprecated prop ----------
    if terms.depr_props:
        row_fams.append(("DeprecatedProperties", p, s, _null,
                         p.isin(terms.depr_props)))

    # ---- C31 IrreflexiveProperty (573-579): s==o loops ---------------------
    if terms.irr:
        row_fams.append(("IrreflexiveProperty", p, s, _null,
                         p.isin(terms.irr) & (s == o)))

    # ---- C28/C30/C32 CorrectRange + MalformedLiteral (511-590) ------------
    # routed by term kind in _select_terms; the sh:class ranges (C29) are
    # retractable and live in the state tier
    if terms.rng_dt:
        # per-row range lookup as a chained CASE instead of a broadcast
        # join — the dt-prop list is TBox-small, and CASE keeps the branch
        # inside the fused single scan of T
        rng_expr = F.lit(None).cast("string")
        for t in terms.rng_dt:
            rng_expr = F.when(p == t.term, F.lit(t.range)).otherwise(rng_expr)
        # plain literals carry xsd:string (RDF 1.1); lang-tagged carry
        # rdf:langString. All in-repo parsers set o_dtype for lang-tagged
        # literals, but user-supplied triple DataFrames may leave it NULL —
        # coalesce through o_lang so such literals never masquerade as
        # xsd:string (they'd escape CorrectRange/MalformedLiteral).
        eff_dtype = F.coalesce(
            F.col("o_dtype"),
            F.when(F.col("o_lang").isNotNull(), F.lit(RDF_LANGSTRING)),
            F.lit(f"{XSD}string"),
        )
        is_langstring = F.when(
            rng_expr == RDF_LANGSTRING,
            (F.col("o_kind") != "literal") | F.col("o_lang").isNull(),
        )
        bad_dt_cond = p.isin([t.term for t in terms.rng_dt]) & F.coalesce(
            is_langstring,
            (F.col("o_kind") != "literal")
            | (eff_dtype != rng_expr)
            | ill_formed_literal(o, eff_dtype),
        )
        row_fams.append(("CorrectRange", p, s, o, bad_dt_cond))
        # Same physical violations, second metric (builder:361-362,440)
        row_fams.append(("MalformedLiteral", p, s, o, bad_dt_cond))
    if terms.rng_nk_literal:
        nk_terms = sorted(t.term for t in terms.rng_nk_literal)
        row_fams.append(("CorrectRange", p, s, o,
                         p.isin(nk_terms) & (F.col("o_kind") != "literal")))
    if terms.rng_nk_bi:
        bi_terms = sorted(t.term for t in terms.rng_nk_bi)
        row_fams.append(("CorrectRange", p, s, o,
                         p.isin(bi_terms) & (F.col("o_kind") == "literal")))

    out = [(fused_scan(T, row_fams), frozenset(f[0] for f in row_fams))]

    # ---- C17 MisplacedProperties (352-361): prop IRI used as a class ------
    # one row per distinct misplaced term of T
    if terms.props:
        prop_df = spark.createDataFrame([(t,) for t in terms.props], ["term"])
        misplaced_p = (
            T.filter(p == cfg.type_property).select(o.alias("term")).distinct()
            .join(F.broadcast(prop_df), "term", "semi")
        )
        out.append((_v(misplaced_p, "MisplacedProperties", F.col("term"),
                       F.col("term")), frozenset({"MisplacedProperties"})))
    return out


def profile_aggregates(T: DataFrame, cfg: DQAConfig) -> dict[str, DataFrame]:
    """The three state_aggregates the graph profile (B1-B8,
    profile.GraphProfile) is derived from — subj_flags, ps_counts and
    cls_pairs — needing only the four profile properties of ``cfg``."""
    return {
        "subj_flags": subject_flags(T, cfg),
        "ps_counts": T.groupBy("p", "s").agg(F.count("*").alias("n")),
        "cls_pairs": T.filter(F.col("p") == cfg.type_property)
                      .select(F.col("o").alias("cls"), "s"),
    }


def state_aggregates(T: DataFrame, cfg: DQAConfig,
                     terms: _Terms) -> dict[str, DataFrame]:
    """The aggregates of T the state tier reads, keyed by the incremental
    state table each one is merged into:

      subj_flags  (s, *SUBJECT_FLAGS)
      ps_counts   (p, s, n)
      cls_pairs   (cls, s)     typing
      po_pairs    (p, o, s)    IFP props
      dom_pairs   (p, s)       class-domain props
      spo_pairs   (p, s, o)    class-range + asymmetric props

    The last three filter T by a term list; a table whose list is empty is
    empty by construction and left out, so a fold commits no empty level
    for it (state_violations reads each under the same term-list guard).
    Batch passes them straight to state_violations; apply_delta merges a
    delta's into the snapshots."""
    p = F.col("p")
    aggs = profile_aggregates(T, cfg)
    if terms.ifp:
        aggs["po_pairs"] = T.filter(p.isin(terms.ifp)).select("p", "o", "s")
    if terms.dom_cls:
        aggs["dom_pairs"] = (T.filter(p.isin([t.term for t in terms.dom_cls]))
                             .select("p", "s").distinct())
    spo = sorted({t.term for t in terms.rng_cls} | set(terms.asym))
    if spo:
        aggs["spo_pairs"] = (T.filter(p.isin(spo))
                             .select("p", "s", "o").distinct())
    return aggs


def state_violations(
    dims: dict[str, DataFrame],
    terms: _Terms,
    cfg: DQAConfig,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> list[Branch]:
    """The state tier: every family a later triple can create or retract,
    evaluated over the state_aggregates DataFrames in ``dims`` — never
    over triples. ``subclass_pairs`` is the transitive (descendant,
    ancestor) rdfs:subClassOf closure (see compile_data_constraints)."""
    spark = dims["cls_pairs"].sparkSession
    p, s, o = F.col("p"), F.col("s"), F.col("o")
    # entity-scoped families C2-C6/C8-C13/C15: one fused scan of the
    # per-subject flags
    flag_fams = flag_families(cfg)
    out = [(fused_scan(dims["subj_flags"], flag_fams),
            frozenset(f[0] for f in flag_fams))]

    def branch(df: DataFrame, metric: str, item: Column, focus: Column,
               value: Column | None = None) -> None:
        out.append((_v(df, metric, item, focus, value), frozenset({metric})))

    # ---- C24 FunctionalProperty (473-482): maxCount 1 per subject ---------
    # the p IN filter is pushed below the (p, s) count
    if terms.fp:
        branch(dims["ps_counts"].filter(p.isin(terms.fp) & (F.col("n") > 1)),
               "FunctionalProperty", p, s)

    # ---- C23 InverseFunctionalPropertyUniqueness (462-471) ----------------
    if terms.ifp:
        shared = (
            dims["po_pairs"].filter(p.isin(terms.ifp))
            .groupBy("p", "o").agg(F.countDistinct("s").alias("n"))
            .filter(F.col("n") > 1)
        )
        branch(shared, "InverseFunctionalPropertyUniqueness", p, o)

    # sh:class semantics: SHACL instance = typed as the class OR any
    # rdfs:subClassOf descendant — extend typing through the closure dim
    # (broadcast join; the closure is TBox-small)
    cls = dims["cls_pairs"]
    typed = cls.select("s", F.col("cls").alias("o"))
    if subclass_pairs:
        closure = spark.createDataFrame(subclass_pairs, ["o", "anc"])
        typed = typed.unionByName(
            typed.join(F.broadcast(closure), "o").select("s", F.col("anc").alias("o"))
        ).distinct()

    # ---- C26 CorrectDomain (495-509): (p, s) pairs without a matching
    # (s, domain) typing row; owl:Thing domains (C27) never violate
    if terms.dom_cls:
        dom_df = spark.createDataFrame(
            [(t.term, t.domain) for t in terms.dom_cls], ["p", "domain"])
        subj_prop = dims["dom_pairs"].join(F.broadcast(dom_df), "p")
        typed_as = typed.withColumnsRenamed({"o": "domain"})
        branch(subj_prop.join(typed_as, ["s", "domain"], "left_anti"),
               "CorrectDomain", p, s)

    # ---- C29 CorrectRange (class, 511-590): (p, s, o) whose object lacks
    # the range typing
    if terms.rng_cls:
        rng_df = spark.createDataFrame(
            [(t.term, t.range) for t in terms.rng_cls], ["p", "range"])
        vals_c = dims["spo_pairs"].join(F.broadcast(rng_df), "p")
        typed_obj = typed.select(F.col("s").alias("o"), F.col("o").alias("range"))
        branch(vals_c.join(typed_obj, ["o", "range"], "left_anti"),
               "CorrectRange", p, s, o)

    # ---- C25 AsymmetricProperty (484-493): pair-swap semi self-join -------
    if terms.asym:
        R = dims["spo_pairs"].filter(p.isin(terms.asym))
        Rswap = R.select(F.col("p").alias("p2"), F.col("o").alias("s2"),
                         F.col("s").alias("o2"))
        mutual = R.join(
            Rswap,
            (R.p == Rswap.p2) & (R.s == Rswap.s2) & (R.o == Rswap.o2),
            "semi",
        )
        branch(mutual, "AsymmetricProperty", p, s, o)

    # ---- C16 EntitiesDisjointClasses (342-350): directed pairs whose first
    # class has a direct instance; sh:targetClass / sh:class follow the
    # closure typing
    if terms.dpairs:
        pair_df = spark.createDataFrame(terms.dpairs, ["class_a", "class_b"]).join(
            cls.select(F.col("cls").alias("class_a")), "class_a", "semi")
        ta = typed.withColumnsRenamed({"o": "class_a"})
        tb = typed.withColumnsRenamed({"o": "class_b"})
        both = ta.join(tb, "s").join(F.broadcast(pair_df), ["class_a", "class_b"], "semi")
        branch(both, "EntitiesDisjointClasses",
               F.concat_ws("|", "class_a", "class_b"), s)

    # ---- C7 SchemaCompletenessClassUsage (template:134-154) ---------------
    # Per vocab class: >=1 instance that is not the NamedIndividual IRI.
    # ONE job for all classes: classes-with-real-instances, anti-joined.
    if terms.classes:
        cls_df = spark.createDataFrame([(c,) for c in terms.classes], ["cls"])
        # qualifying instance = one NOT typed owl:NamedIndividual (the
        # NotNamedIndividualShape is a property shape on rdf:type —
        # template:136-140)
        ni_typed = cls.filter(F.col("cls") == OWL_NAMED_INDIVIDUAL).select("s").distinct()
        with_instances = cls.join(ni_typed, "s", "left_anti").select("cls").distinct()
        # hint the BUILD (right) side: a left-anti join can only broadcast
        # its right input — with_instances is #distinct-classes small
        missing = cls_df.join(F.broadcast(with_instances), "cls", "left_anti")
        branch(missing, "SchemaCompletenessClassUsage",
               F.col("cls"), F.col("cls"))
    return out


def union_branches(branches: list[Branch]) -> DataFrame:
    return reduce(DataFrame.unionByName, [df for df, _ in branches])


def compile_data_constraints(
    T: DataFrame,
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    cfg: DQAConfig,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> ConstraintPlan:
    """Compile all data shapes: T folded as one delta into empty state,
    i.e. row_violations(T) ∪ state_violations(state_aggregates(T)), over
    the unpruned term selection (_state_terms). Returns the lazy violations
    DF, which scoring reads once, and the inputs of the shape list, which
    score_plan instantiates from the scoring profile's usage sets — so a
    caller that merges a TBox into T but profiles the raw graph gets the
    reference's raw-graph pruning (shacl_shape_builder.py reads
    graph_profile while shapes validate the merged graph).
    ``subclass_pairs`` is the transitive (descendant, ancestor) closure of
    rdfs:subClassOf — sh:class in SHACL matches instances of subclasses,
    so domain/range/disjoint checks extend the typing table through it."""
    terms = _state_terms(vocab_terms, disjoint_pairs)
    branches = row_violations(T, terms, cfg) + state_violations(
        state_aggregates(T, cfg, terms), terms, cfg, subclass_pairs)
    return ConstraintPlan(
        violations=union_branches(branches),
        vocab_terms=vocab_terms, disjoint_pairs=disjoint_pairs, cfg=cfg,
        parts=[df for df, _ in branches],
        part_metrics=[ms for _, ms in branches])
