"""B10/B11 — vocabulary mining + TBox→ABox merge.

Ports the *semantics* of the reference's profile_vocab
(/root/reference/utils.py:156-647) and merge step (utils.py:684-795) onto
plain row lists (vocab graphs are KB–MB — SURVEY.md §2A A2: parse on the
driver, broadcast the result).

Bug-for-bug notes (parity targets the emitted profile/scores):
  * characteristic loops (IFP/functional/…) reuse the STALE domain/range
    variables left by the last datatype-property iteration
    (utils.py:275-537) — mirrored here via ``last_domain``/``last_range``;
  * ``other_properties``/``other_classes`` collect duplicates (lists, not
    sets) — mirrored;
  * object/datatype property entries win over rdf_properties entries.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from shacl_dqa_prototype_spark.functions.terms import OWL, RDF, RDFS, XSD
from shacl_dqa_prototype_spark.plans.constraints import VocabTerm

RDF_TYPE = f"{RDF}type"

OWL_PROPERTY_TYPES = [
    f"{OWL}ObjectProperty", f"{OWL}DatatypeProperty", f"{OWL}FunctionalProperty",
    f"{OWL}InverseFunctionalProperty", f"{OWL}IrreflexiveProperty",
    f"{OWL}ReflexiveProperty", f"{OWL}TransitiveProperty",
    f"{OWL}AsymmetricProperty", f"{OWL}SymmetricProperty",
    f"{OWL}DeprecatedProperty", f"{OWL}OntologyProperty",
]
OWL_CLASS_TYPES_DATA = [
    f"{OWL}Class", f"{OWL}DeprecatedClass", f"{OWL}Restriction",
    f"{OWL}AllDisjointClasses", f"{OWL}AllDisjointProperties",
    f"{OWL}AllDifferent",
]
NOT_ALLOWED = [f"{OWL}AnnotationProperty", f"{OWL}Ontology"]
MERGE_PREDICATES = [f"{RDFS}range", f"{RDFS}domain", RDF_TYPE,
                    f"{RDFS}subClassOf", f"{RDFS}subPropertyOf"]


def vocab_namespace(rows: list[tuple]) -> str:
    """Most common namespace of subject IRIs (utils.py:138-154)."""
    counts = Counter()
    for r in rows:
        s = r[0]
        if s.startswith("_:"):
            continue
        if "#" in s:
            counts[s.rsplit("#", 1)[0] + "#"] += 1
        elif "/" in s:
            counts[s.rsplit("/", 1)[0] + "/"] += 1
    return counts.most_common(1)[0][0] if counts else ""


@dataclass
class VocabProfile:
    namespace: str
    classes: list[str] = field(default_factory=list)
    other_classes: list[str] = field(default_factory=list)
    other_properties: list[str] = field(default_factory=list)
    object_properties: dict = field(default_factory=dict)
    datatype_properties: dict = field(default_factory=dict)
    rdf_properties: dict = field(default_factory=dict)
    deprecated_classes: list[str] = field(default_factory=list)
    deprecated_properties: list[str] = field(default_factory=list)
    characteristics: dict = field(default_factory=dict)  # name → [terms]
    disjoint_classes: list[list[str]] = field(default_factory=list)
    labeled_terms: set = field(default_factory=set)
    num_classes: int = 0
    num_properties: int = 0
    num_entities: int = 0

    @property
    def num_all_classes(self) -> int:
        return self.num_classes + len(self.deprecated_classes)

    @property
    def num_all_properties(self) -> int:
        return self.num_properties + len(self.deprecated_properties)


def mine_vocab(rows: list[tuple]) -> VocabProfile:
    """profile_vocab over triple rows (document order preserved)."""
    ns = vocab_namespace(rows)
    p = VocabProfile(namespace=ns)

    by_type: dict[str, list[str]] = {}
    seen_pairs: set[tuple[str, str]] = set()
    for (s, pred, o, *_rest) in rows:
        if pred == RDF_TYPE and (s, o) not in seen_pairs:
            seen_pairs.add((s, o))
            by_type.setdefault(o, []).append(s)
    types_of: dict[str, set] = {}
    for o, subs in by_type.items():
        for s in subs:
            types_of.setdefault(s, set()).add(o)

    dep_true = {s for (s, pred, o, *_r) in rows
                if pred == f"{OWL}deprecated" and o == "true"}
    domains = {}
    ranges = {}
    labels = set()
    for (s, pred, o, *_r) in rows:
        if pred == f"{RDFS}domain" and s not in domains:
            domains[s] = o
        elif pred == f"{RDFS}range" and s not in ranges:
            ranges[s] = o
        elif pred == f"{RDFS}label":
            labels.add(s)
    p.labeled_terms = labels

    def in_ns(term: str) -> bool:
        return bool(ns) and term.startswith(ns)

    def is_depr_prop(s: str) -> bool:
        return s in dep_true or f"{OWL}DeprecatedProperty" in types_of.get(s, ())

    # Classes (utils.py:197-207)
    for s in by_type.get(f"{OWL}Class", []):
        if in_ns(s) and s not in dep_true and f"{OWL}DeprecatedClass" not in types_of.get(s, ()):
            p.classes.append(s)
        if ns and not in_ns(s):
            p.other_classes.append(s)
    for s in by_type.get(f"{RDFS}Class", []):
        if s not in p.classes and in_ns(s) and f"{OWL}DeprecatedClass" not in types_of.get(s, ()):
            p.classes.append(s)
    p.num_classes = len(p.classes)

    # Object/datatype properties (utils.py:214-241). The stale domain/range
    # variables carried into later loops are part of observed behavior.
    last_domain, last_range = None, None
    for s in by_type.get(f"{OWL}ObjectProperty", []):
        if in_ns(s) and not is_depr_prop(s):
            last_domain, last_range = domains.get(s), ranges.get(s)
            p.object_properties[s] = {"domain": last_domain, "range": last_range}
        if ns and not in_ns(s):
            p.other_properties.append(s)
    for s in by_type.get(f"{OWL}DatatypeProperty", []):
        if in_ns(s) and not is_depr_prop(s):
            last_domain, last_range = domains.get(s), ranges.get(s)
            p.datatype_properties[s] = {"domain": last_domain, "range": last_range}
        if ns and not in_ns(s):
            p.other_properties.append(s)
    p.num_properties = len(p.object_properties) + len(p.datatype_properties)

    # Deprecated (utils.py:247-272)
    for s in dep_true:
        kinds = types_of.get(s, ())
        if f"{OWL}ObjectProperty" in kinds or f"{OWL}DatatypeProperty" in kinds:
            (p.deprecated_properties if in_ns(s) else p.other_properties).append(s)
        if f"{OWL}Class" in kinds or f"{RDFS}Class" in kinds:
            (p.deprecated_classes if in_ns(s) else p.other_classes).append(s)
    for s in by_type.get(f"{OWL}DeprecatedProperty", []):
        (p.deprecated_properties if in_ns(s) else p.other_properties).append(s)
    for s in by_type.get(f"{OWL}DeprecatedClass", []):
        (p.deprecated_classes if in_ns(s) else p.other_classes).append(s)

    # Property characteristics (utils.py:275-537) — stale domain/range quirk
    def classify_range(rng):
        if rng is not None and (rng == f"{RDFS}Literal" or rng.startswith(XSD)):
            return {"type": "literal", "value": rng}
        if rng is not None:
            return {"type": "class", "value": rng}
        return {"type": None, "value": None}

    for char, owl_type in [
        ("inverse_functional", f"{OWL}InverseFunctionalProperty"),
        ("functional", f"{OWL}FunctionalProperty"),
        # the reference's "Reflexive" loop iterates IrreflexiveProperty
        # (utils.py:388-389, copy-paste slip) — mirrored for profile parity;
        # no shape consumes 'reflexive' so scores are unaffected
        ("reflexive", f"{OWL}IrreflexiveProperty"),
        ("irreflexive", f"{OWL}IrreflexiveProperty"),
        ("transitive", f"{OWL}TransitiveProperty"),
        ("asymmetric", f"{OWL}AsymmetricProperty"),
        ("symmetric", f"{OWL}SymmetricProperty"),
    ]:
        p.characteristics.setdefault(char, [])
        for s in by_type.get(owl_type, []):
            if in_ns(s) and not is_depr_prop(s):
                p.characteristics[char].append(s)
                if (s not in p.object_properties and s not in p.datatype_properties
                        and s not in p.rdf_properties):
                    p.num_properties += 1
                    p.rdf_properties[s] = {"domain": last_domain,
                                           "range": classify_range(last_range)}
            if ns and not in_ns(s):
                p.other_properties.append(s)

    # rdf:Property / owl:OntologyProperty extras (utils.py:540-612) — these
    # DO fetch their own domain/range
    for owl_type in (f"{RDF}Property", f"{OWL}OntologyProperty"):
        for s in by_type.get(owl_type, []):
            if (s not in p.object_properties and s not in p.datatype_properties
                    and s not in p.rdf_properties):
                if in_ns(s) and not is_depr_prop(s):
                    p.num_properties += 1
                    p.rdf_properties[s] = {"domain": domains.get(s),
                                           "range": classify_range(ranges.get(s))}
                if ns and not in_ns(s):
                    p.other_properties.append(s)

    # Disjoint pairs (utils.py:614-630)
    pairs = set()
    for (s, pred, o, *_r) in rows:
        if pred == f"{OWL}disjointWith":
            if in_ns(s) and in_ns(o):
                pairs.add(frozenset([s, o]))
            if ns and not in_ns(s):
                p.other_classes.append(s)
    p.disjoint_classes = sorted(sorted(pair) for pair in pairs)

    # Entities defined by the vocab (utils.py:632-638)
    n_ent = sum(1 for (s, o) in seen_pairs if in_ns(s) and o in set(p.classes))
    n_ent += len(set(by_type.get(f"{OWL}NamedIndividual", [])))
    p.num_entities = n_ent
    return p


def vocab_profile_json(p: VocabProfile) -> dict:
    """VocabProfile → the reference's on-disk per-vocabulary profile dict
    (written as profile/vocabularies/<name>.json — utils.py:643-645,
    main.py:55-56). Key order and value shapes mirror the reference file
    (e.g. datasets/pizza → profile/vocabularies/pizza_owl.json) so the
    Streamlit layer and any downstream consumer read it unmodified."""
    ch = p.characteristics
    return {
        "classes": list(p.classes),
        "other_classes": list(p.other_classes),
        "other_properties": list(p.other_properties),
        "object_properties": p.object_properties,
        "datatype_properties": p.datatype_properties,
        "deprecated_classes": list(p.deprecated_classes),
        "deprecated_properties": list(p.deprecated_properties),
        "inverse_functional": list(ch.get("inverse_functional", [])),
        "functional": list(ch.get("functional", [])),
        "reflexive": list(ch.get("reflexive", [])),
        "irreflexive": list(ch.get("irreflexive", [])),
        "transitive": list(ch.get("transitive", [])),
        "asymmetric": list(ch.get("asymmetric", [])),
        "symmetric": list(ch.get("symmetric", [])),
        "disjoint_classes": [list(pair) for pair in p.disjoint_classes],
        "rdf_properties": p.rdf_properties,
        "num_classes": p.num_classes,
        "num_other_classes": len(p.other_classes),
        "num_properties": p.num_properties,
        "num_other_properties": len(p.other_properties),
        "num_all_classes": p.num_all_classes,
        "num_all_properties": p.num_all_properties,
        "num_entities": p.num_entities,
    }


def profile_to_vocab_terms(p: VocabProfile, vocab: str = "vocab") -> tuple[list[VocabTerm], list[tuple[str, str]]]:
    """VocabProfile → the constraint compiler's dims."""
    chars = p.characteristics
    terms: list[VocabTerm] = []

    def char_flags(term: str) -> dict:
        return {
            "functional": term in chars.get("functional", ()),
            "inverse_functional": term in chars.get("inverse_functional", ()),
            "irreflexive": term in chars.get("irreflexive", ()),
            "asymmetric": term in chars.get("asymmetric", ()),
        }

    for c in p.classes:
        terms.append(VocabTerm(c, "class"))
    # order-preserving dedup: a term both owl:deprecated=true AND typed
    # owl:DeprecatedClass/Property is appended TWICE by mine_vocab (the
    # profile mirrors the reference's lists byte-for-byte and must keep
    # the duplicate), but duplicate VocabTerms would instantiate duplicate
    # C17/C21/C22 ShapeSpecs → duplicate report rows and a double-counted
    # meta rollup, where the reference's RDF-graph set semantics emit one
    for c in dict.fromkeys(p.deprecated_classes):
        terms.append(VocabTerm(c, "class", deprecated=True))
    for t, dr in p.object_properties.items():
        rng = dr.get("range")
        rk = ("literal" if rng and (rng == f"{RDFS}Literal" or rng.startswith(XSD))
              else ("class" if rng else None))
        terms.append(VocabTerm(t, "object_property", domain=dr.get("domain"),
                               range=rng, range_kind=rk, **char_flags(t)))
    for t, dr in p.datatype_properties.items():
        rng = dr.get("range")
        rk = ("literal" if rng and (rng == f"{RDFS}Literal" or rng.startswith(XSD))
              else ("class" if rng else None))
        terms.append(VocabTerm(t, "datatype_property", domain=dr.get("domain"),
                               range=rng, range_kind=rk, **char_flags(t)))
    for t, dr in p.rdf_properties.items():
        rng = dr.get("range") or {}
        terms.append(VocabTerm(t, "rdf_property", domain=dr.get("domain"),
                               range=rng.get("value"), range_kind=rng.get("type"),
                               **char_flags(t)))
    for t in dict.fromkeys(p.deprecated_properties):  # see dedup note above
        terms.append(VocabTerm(t, "rdf_property", deprecated=True))
    return terms, [(a, b) for a, b in p.disjoint_classes]


def tbox_merge_rows(vocab_rows: list[tuple], vocab_classes: list[str]) -> list[tuple]:
    """B11 (data mode): filter vocab triples to definition predicates, drop
    AnnotationProperty/Ontology subjects, derive rdf:type typing
    (utils.py:719-769). Returns rows to union into the data triple table
    (set semantics — caller dedups, as rdflib graphs are sets)."""
    excluded = {s for (s, pred, o, *_r) in vocab_rows
                if pred == RDF_TYPE and o in NOT_ALLOWED}
    owl_props = set(OWL_PROPERTY_TYPES)
    owl_classes = set(OWL_CLASS_TYPES_DATA)
    vocab_class_set = set(vocab_classes)
    out: list[tuple] = []
    for row in vocab_rows:
        s, pred, o = row[0], row[1], row[2]
        if s in excluded:
            continue
        if pred in MERGE_PREDICATES or pred in owl_props:
            out.append(tuple(row))
            if pred == RDF_TYPE:
                if o in owl_props:
                    out.append((s, RDF_TYPE, f"{RDF}Property", "iri", None, None))
                if o in owl_classes or o == f"{RDFS}Datatype":
                    out.append((s, RDF_TYPE, f"{RDFS}Class", "iri", None, None))
                if o in vocab_class_set:
                    out.append((s, RDF_TYPE, f"{OWL}NamedIndividual", "iri", None, None))
            if pred == f"{RDFS}subClassOf":
                out.append((s, RDF_TYPE, f"{RDFS}Class", "iri", None, None))
    return out


def tbox_self_typing_rows(vocab_rows: list[tuple]) -> list[tuple]:
    """B11 (vocabulary mode, utils.py:771-785): full vocab graph + derived
    rdf:Property / rdfs:Class typing — the graph the vocabulary shapes
    (C37-C40) validate against."""
    owl_props = set(OWL_PROPERTY_TYPES)
    owl_classes = {f"{OWL}Class", f"{OWL}DeprecatedClass"}
    out = [tuple(r) for r in vocab_rows]
    for (s, pred, o, *_r) in vocab_rows:
        if pred == RDF_TYPE:
            if o in owl_props:
                out.append((s, RDF_TYPE, f"{RDF}Property", "iri", None, None))
            elif o in owl_classes:
                out.append((s, RDF_TYPE, f"{RDFS}Class", "iri", None, None))
    return out


def subclass_closure(vocab_rows: list[tuple]) -> list[tuple[str, str]]:
    """Transitive (descendant, ancestor) pairs from rdfs:subClassOf —
    drives the sh:class closure in the range/domain checks. Shared by
    main.py's dqa command and tools/pizza_parity.py."""
    direct: dict[str, set[str]] = {}
    for (s, p, o, *_r) in vocab_rows:
        if p == f"{RDFS}subClassOf":
            direct.setdefault(s, set()).add(o)
    pairs: set[tuple[str, str]] = set()
    for start in direct:
        stack, seen = list(direct[start]), set()
        while stack:
            anc = stack.pop()
            if anc in seen:
                continue
            seen.add(anc)
            pairs.add((start, anc))
            stack.extend(direct.get(anc, ()))
    return sorted(pairs)

