"""A7 — instantiated SHACL shapes graphs serialized as Turtle.

The reference materializes its shapes graphs next to the results
(dq_assessment.py:156-159 metadata, 212-218 vocabulary, 255-258 data)
as a debugging/parity artifact. This module renders the shape templates
(dq_assessment/shapes/*.template.ttl) as plain f-strings. The data shapes
graph is rendered from the ShapeSpec list constraints.data_shapes
instantiates, the list score_plan scores, so the emitted graph names
exactly the shapes the engine scores; the vocabulary graph takes its
Undefined* terms from vocab_shapes.namespace_terms, the routing the
vocabulary scorer uses.

Output is template-shaped Turtle (the reference round-trips through
rdflib, which reformats but preserves the triples); the _N suffix of a
shape name counts the shapes of its family in instantiation order, and
the reference's indices are NOT reproducible across engines —
tools/pizza_parity.py and tests/test_shapes_ttl.py compare shape
multisets with indices normalized.
"""

from __future__ import annotations

from collections import Counter

from .constraints import (
    OWL_THING,
    DQAConfig,
    VocabTerm,
    _select_terms,
    data_shapes,
    range_form,
)

PREFIXES = """\
@prefix ex: <https://www.example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix dcterms: <http://purl.org/dc/terms/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix void: <http://rdfs.org/ns/void#> .
@prefix dcat: <http://www.w3.org/ns/dcat#> .

"""

# The recurring exemption prelude: rdfs:Class / rdf:Property /
# owl:NamedIndividual focus nodes satisfy the first three sh:or branches
# (template data_shapes.template.ttl:16-28 et al.)
_EXEMPT_BRANCHES = """\
        [ sh:path rdf:type ; sh:hasValue rdfs:Class ; ]
        [ sh:path rdf:type ; sh:hasValue rdf:Property ; ]
        [ sh:path rdf:type ; sh:hasValue owl:NamedIndividual ; ]
"""


def _ttl_escape(s: str) -> str:
    """Embed a regex/string in a Turtle literal (utils.py:25-30 doubles
    backslashes; quotes escaped for safety)."""
    return s.replace("\\", "\\\\").replace('"', '\\"')


def _msg(text: str) -> str:
    return f'sh:message "{text}"'


def _bnode(*lines: str, depth: int = 1) -> str:
    """A [ … ] blank node of predicate-object lines, closed at indent
    level ``depth``."""
    pad = "    " * depth
    return f"[\n{pad}    " + f" ;\n{pad}    ".join(lines) + f"\n{pad}]"


def _shape(name: str, *lines: str) -> str:
    """Node shape ex:<name> with the given predicate-object lines."""
    return (f"ex:{name}\n    a sh:NodeShape ;\n    "
            + " ;\n    ".join(lines) + " .\n\n")


def _prop_shape(name: str, target: str, *lines: str) -> str:
    """Node shape ex:<name> over ``target`` with one sh:property block."""
    return _shape(name, target, "sh:property " + _bnode(*lines))


def _or_shape(name: str, target: str, *branch: str) -> str:
    """An entity-scoped shape over the subjects of ``target``: exempt
    focus nodes satisfy the first three sh:or branches, the rest
    ``branch``."""
    return _shape(name, f"sh:targetSubjectsOf <{target}>",
                  f"sh:or (\n{_EXEMPT_BRANCHES}        "
                  f"{_bnode(*branch, depth=2)}\n    )")


def data_shapes_ttl(
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    cfg: DQAConfig,
    used_props: set[str],
    used_classes: set[str],
) -> str:
    """The data shapes graph score_plan scores for the same
    (vocab_terms, disjoint_pairs, cfg, usage) inputs: one Turtle shape per
    ShapeSpec of constraints.data_shapes, plus the NotNamedIndividualShape
    its SchemaCompletenessClassUsage shapes reference. Which shapes exist
    is decided there alone; this function holds the templates (reference
    shacl_shape_builder.py:48-583) and looks a shape's domain or range up
    by its item."""
    tp = cfg.type_property
    ranged = {t.term: t for t in vocab_terms if t.domain or t.range}
    depr_classes = " ".join(f"<{c}>" for c in _select_terms(
        vocab_terms, disjoint_pairs, used_props, used_classes).depr_classes)

    def entities(name: str, *branch: str):
        return lambda x, i: _or_shape(f"{name}Shape", tp, *branch)

    def disjoint(x: str, i: int) -> str:
        a, b = x.split("|", 1)
        return _shape(
            f"EntitiesDisjointClassesShape_{i}", f"sh:targetClass <{a}>",
            "sh:not " + _bnode(
                f"sh:class <{b}>",
                _msg(f"EntitiesDisjointClasses_{i} - There are instances of "
                     f"the class {a} that are instances of the disjoint "
                     f"class {b}")))

    def ranges(x: str, i: int) -> str:
        t = ranged[x]
        msg = _msg(f"CorrectRange_{i} - The property {x} is used with an "
                   "incorrect range")
        form = range_form(t)
        if form == "resource":  # either node kind: vacuous
            check = ["sh:or ( " + " ".join(
                _bnode(f"sh:nodeKind sh:{kind}", msg, depth=2)
                for kind in ("BlankNodeOrIRI", "Literal")) + " )"]
        else:
            check = [{"datatype": f"sh:datatype <{t.range}>",
                      "literal": "sh:nodeKind sh:Literal",
                      "iri": "sh:nodeKind sh:BlankNodeOrIRI",
                      "class": f"sh:class <{t.range}>"}[form], msg]
        return _prop_shape(f"CorrectRangeShape_{i}",
                           f"sh:targetSubjectsOf <{x}>", f"sh:path <{x}>",
                           *check)

    templates = {
        # ---- accessibility (builder:48-56) ------------------------------
        "UsageExternalURIEntities": lambda x, i: _prop_shape(
            "UsageExternalURIEntitiesShape", f"sh:targetSubjectsOf <{x}>",
            f"sh:path <{x}>",
            f'sh:pattern "^(?!{_ttl_escape(cfg.base_uri)})"',
            _msg("UsageExternalURIEntities - The dataset doesn't contain "
                 "links to external sources")),
        "UsageHashURIsEntities": entities(
            "UsageHashURIsEntities", 'sh:pattern "^[^#]*$"',
            _msg("UsageHashURIsEntities - It's is recommended the usage of "
                 "slash URIs")),
        # ---- contextual (builder:58-79) ---------------------------------
        "LabelForEntities": entities(
            "LabelForEntities", f"sh:path <{cfg.labeling_property}>",
            "sh:minCount 1",
            _msg("LabelForEntities - All entities should be tagged with a "
                 "label.")),
        "URIRegexComplianceEntities": lambda x, i: _or_shape(
            "URIRegexComplianceEntitiesShape", tp,
            f'sh:pattern "{_ttl_escape(cfg.uri_regex_pattern)}"',
            _msg("URIRegexComplianceEntities - URIs should match the regex "
                 "pattern provided in void:uriRegexPattern")),
        "URISpaceComplianceEntities": lambda x, i: _or_shape(
            "URISpaceComplianceEntitiesShape", tp,
            f'sh:pattern "^{_ttl_escape(cfg.uri_space)}"',
            _msg("URISpaceComplianceEntities - URIs should match the URI "
                 "space provided in void:uriSpace")),
        "InterlinkingCompleteness": entities(
            "InterlinkingCompleteness",
            f"sh:path <{cfg.interlinking_property}>", "sh:minCount 1",
            _msg("InterlinkingCompleteness - Entities should be "
                 "interlinked.")),
        # ---- representational (builder:82-114) --------------------------
        "URIsLengthEntities": entities(
            "URIsLengthEntities", f"sh:maxLength {cfg.uris_max_length}",
            _msg("URIsLengthEntities - URIs should have a length of less "
                 f"than {cfg.uris_max_length}")),
        "URIsParametersEntities": entities(
            "URIsParametersEntities", 'sh:not [ sh:pattern "\\\\?.+=.*" ]',
            _msg("URIsParametersEntities - URIs shouldn't use parameters")),
        "ProlixFeatures": entities(
            "ProlixFeatures", "sh:not " + _bnode(
                "sh:or ( " + " ".join(
                    f"[ sh:class rdf:{c} ]"
                    for c in ("Statement", "List", "Seq", "Bag", "Alt"))
                + " )",
                _msg("ProlixFeatures - Prolix features shouldn't be used "
                     "(Lists, Containers)"), depth=3)),
        "DifferentLanguagesLabelsEntities": lambda x, i: _or_shape(
            "DifferentLanguagesLabelsEntitiesShape", x, f"sh:path <{x}>",
            "sh:datatype rdf:langString",
            _msg("DifferentLanguagesLabelsEntities - Entities should "
                 "provide labels with language tags")),
        "DifferentLanguagesDescriptionsEntities": lambda x, i: _or_shape(
            "DifferentLanguagesDescriptionsEntitiesShape", x,
            f"sh:path <{x}>", "sh:datatype rdf:langString",
            _msg("DifferentLanguagesDescriptionsEntities - Entities should "
                 "provide descriptions with language tags")),
        "SelfDescriptiveFormat": entities(
            "SelfDescriptiveFormat", "sh:nodeKind sh:IRI",
            _msg("SelfDescriptiveFormat - Entities should be identified by "
                 "URIs")),
        "BlankNodesUsageEntities": entities(
            "BlankNodesUsageEntities", "sh:not [ sh:nodeKind sh:BlankNode ]",
            _msg("BlankNodesUsageEntities - The dataset should not use "
                 "blank nodes to identify entities")),
        "SelfDescriptiveFormatProperties": lambda x, i: _shape(
            f"SelfDescriptiveFormatPropertiesShape_{i}",
            f"sh:targetObjectsOf <{x}>",
            _msg(f"SelfDescriptiveFormatProperties_{i} - The property {x} "
                 "uses literals or blank nodes as values"),
            "sh:nodeKind sh:IRI"),
        # ---- intrinsic (builder:260-583) --------------------------------
        "SchemaCompletenessClassUsage": lambda x, i: _prop_shape(
            f"SchemaCompletenessClassUsageShape_{i}", f"sh:targetNode <{x}>",
            f"sh:path [ sh:inversePath <{tp}> ]", "sh:minCount 1",
            "sh:qualifiedValueShape [ sh:node ex:NotNamedIndividualShape ]",
            "sh:qualifiedMinCount 1",
            _msg(f"SchemaCompletenessClassUsage_{i} - The target class is "
                 "defined in the vocabulary but isn't used in the dataset")),
        "MisplacedClasses": lambda x, i: _or_shape(
            f"MisplacedClassesShape_{i}", tp, f"sh:path <{x}>",
            "sh:maxCount 0",
            _msg(f"MisplacedClasses_{i} - The class {x} is being used as a "
                 "property")),
        "EntitiesDisjointClasses": disjoint,
        "MisplacedProperties": lambda x, i: _prop_shape(
            f"MisplacedPropertiesShape_{i}", f"sh:targetNode <{x}>",
            f"sh:path [ sh:inversePath <{tp}> ]", "sh:maxCount 0",
            _msg(f"MisplacedProperties_{i} - The property {x} is being used "
                 "as a class")),
        "MisuseOwlObjectProperties": lambda x, i: _prop_shape(
            f"MisuseOwlObjectPropertiesShape_{i}",
            f"sh:targetSubjectsOf <{x}>", f"sh:path <{x}>",
            "sh:nodeKind sh:BlankNodeOrIRI",
            _msg(f"MisuseOwlObjectProperties_{i} - The object property {x} "
                 "is being used with Literals")),
        "MisuseOwlDatatypeProperties": lambda x, i: _prop_shape(
            f"MisuseOwlDatatypePropertiesShape_{i}",
            f"sh:targetSubjectsOf <{x}>", f"sh:path <{x}>",
            "sh:nodeKind sh:Literal",
            _msg(f"MisuseOwlDatatypeProperties_{i} - The datatype property "
                 f"{x} is being used with Resources")),
        "DeprecatedClasses": entities(
            "DeprecatedClasses", f"sh:path <{tp}>", "sh:not " + _bnode(
                f"sh:in ( {depr_classes} )",
                _msg("DeprecatedClasses - Deprecated classes are being used "
                     "in the dataset"), depth=3)),
        "DeprecatedProperties": lambda x, i: _or_shape(
            f"DeprecatedPropertiesShape_{i}", tp, f"sh:path <{x}>",
            "sh:maxCount 0",
            _msg(f"DeprecatedProperties_{i} - Deprecated properties are "
                 "being used in the dataset")),
        "InverseFunctionalPropertyUniqueness": lambda x, i: _prop_shape(
            f"InverseFunctionalPropertyUniquenessShape_{i}",
            f"sh:targetObjectsOf <{x}>", f"sh:path [ sh:inversePath <{x}> ]",
            "sh:maxCount 1",
            _msg(f"InverseFunctionalPropertyUniqueness_{i} - The uniqueness "
                 "characteristic of the inverse functional property is not "
                 "enforced")),
        "FunctionalProperty": lambda x, i: _prop_shape(
            f"FunctionalPropertyShape_{i}", f"sh:targetSubjectsOf <{x}>",
            f"sh:path <{x}>", "sh:maxCount 1",
            _msg(f"FunctionalProperty_{i} - The property {x} is used with "
                 "more than one value for the same node")),
        "AsymmetricProperty": lambda x, i: _prop_shape(
            f"AsymmetricPropertyShape_{i}", f"sh:targetSubjectsOf <{x}>",
            f"sh:path [ sh:inversePath <{x}> ]", f"sh:disjoint <{x}>",
            _msg(f"AsymmetricProperty_{i} - The property {x} is used "
                 "incorrectly (asymmetric)")),
        "IrreflexiveProperty": lambda x, i: _shape(
            f"IrreflexivePropertyShape_{i}", f"sh:targetSubjectsOf <{x}>",
            _msg(f"IrreflexiveProperty_{i} - The irreflexive constraint for "
                 f"the property {x} is not enforced "),
            f"sh:disjoint <{x}>"),
        # an owl:Thing domain is nodeKind BlankNodeOrIRI (builder:325-328)
        "CorrectDomain": lambda x, i: _shape(
            f"CorrectDomainShape_{i}", f"sh:targetSubjectsOf <{x}>",
            _msg(f"CorrectDomain_{i} - The property {x} is used with an "
                 "incorrect domain"),
            "sh:nodeKind sh:BlankNodeOrIRI" if ranged[x].domain == OWL_THING
            else f"sh:class <{ranged[x].domain}>"),
        "CorrectRange": ranges,
        "MalformedLiteral": lambda x, i: _prop_shape(
            f"MalformedLiteralShape_{i}", f"sh:targetSubjectsOf <{x}>",
            f"sh:path <{x}>", f"sh:datatype <{ranged[x].range}>",
            _msg(f"MalformedLiteral_{i} - The property {x} is used with an "
                 "incompatible datatype or an il-typed literal")),
    }

    out = [PREFIXES]
    index: Counter = Counter()
    for sp in data_shapes(vocab_terms, disjoint_pairs, cfg, used_props,
                          used_classes):
        m = sp.metric
        if m == "SchemaCompletenessClassUsage" and not index[m]:
            out.append(_shape(
                "NotNamedIndividualShape", "sh:property " + _bnode(
                    f"sh:path <{tp}>",
                    "sh:not [ sh:hasValue owl:NamedIndividual ]")))
        out.append(templates[m](sp.item, index[m]))
        index[m] += 1
    return "".join(out)


def metadata_shapes_ttl(metadata_class: str) -> str:
    """Static metadata shapes graph (metadata_shapes.template.ttl) —
    parameterized only by the metadata class."""
    mc = metadata_class
    fmts = "\n".join(
        f"            <http://www.w3.org/ns/formats/{f}>"
        for f in ("N3", "N-Triples", "RDF_XML", "RDFa", "Turtle"))

    def min1(path: str, msg: str, extra: str = "") -> str:
        return (f"    sh:property [\n        sh:path {path} ;\n"
                f"        sh:minCount 1 ;\n{extra}"
                f'        sh:message "{msg}";\n    ];\n')

    tdw = "DatasetMetadata - The dataset should specify a title, description and web page"
    body = (
        f"ex:DatasetMetadataShape\n    a sh:NodeShape ;\n"
        f"    sh:targetClass <{mc}> ;\n"
        + min1("dcterms:title", tdw, "        sh:nodeKind sh:Literal;\n")
        + min1("dcterms:description", tdw, "        sh:nodeKind sh:Literal;\n")
        + min1("foaf:homepage", tdw, "        sh:nodeKind sh:IRI;\n")
        + min1("void:exampleResource",
               "DatasetMetadata - The dataset should specify an example of "
               "an exemplary resource")
        + min1("void:vocabulary",
               "DatasetMetadata - The dataset should specify a list of the "
               "vocabularies used")
        + min1("void:uriRegexPattern",
               "DatasetMetadata - The dataset should specify a regex that "
               "matches the URIs of the entities")
        + min1("void:uriSpace",
               "DatasetMetadata - The dataset should specify a URI "
               "namespace used for the entities",
               "        sh:nodeKind sh:Literal;\n")
        + min1("dcterms:license",
               "DatasetMetadata - The dataset must provide a machine "
               "readable indication of a license",
               "        sh:class dcterms:LicenseDocument;\n")
        + "    sh:property [\n        sh:path void:feature;\n"
          "        sh:minCount 1;\n        sh:maxCount 5;\n"
          '        sh:message "DatasetMetadata - The dataset\'s metadata '
          "should specify the serialization formats in which the data is "
          'available";\n'
          f"        sh:in (\n{fmts}\n        );\n    ].\n\n"
        f"ex:AvailabilityDumpShape\n    a sh:NodeShape;\n"
        f"    sh:targetClass <{mc}>;\n    sh:or (\n"
        "        [\n            sh:path void:dataDump ;\n"
        "            sh:minCount 1 ;\n"
        '            sh:message "AvailabilityDump - The dataset must '
        'provide an accessible RDF dump that can be downloaded.";\n'
        "        ]\n        [\n"
        "            sh:path ( dcat:distribution dcat:downloadURL );\n"
        "            sh:minCount 1 ;\n"
        '            sh:message "AvailabilityDump - The dataset must '
        'provide an accessible RDF dump that can be downloaded";\n'
        "        ]\n    ).\n\n"
        f"ex:AuthenticityOfDatasetSourceShape\n    a sh:NodeShape ;\n"
        f"    sh:targetClass <{mc}> ;\n    sh:or (\n"
        + "".join(
            f"        [\n            sh:path dcterms:{p} ;\n"
            "            sh:minCount 1 ;\n"
            '            sh:message "AuthenticityOfDatasetSource - The '
            'dataset should specify the origin of the data";\n        ]\n'
            for p in ("source", "provenance"))
        + "    ).\n\n"
        f"ex:AuthenticityOfDatasetAuthorShape\n    a sh:NodeShape ;\n"
        f"    sh:targetClass <{mc}> ;\n    sh:or (\n"
        + "".join(
            f"        [\n            sh:path dcterms:{p} ;\n"
            "            sh:minCount 1 ;\n"
            '            sh:message "AuthenticityOfDatasetAuthor - The '
            'dataset should specify a contributor, creator or publisher";\n'
            "        ]\n"
            for p in ("contributor", "creator", "publisher"))
        + "    ).\n")
    return PREFIXES + body


def vocabulary_shapes_ttl(
    labeling_property: str,
    type_property: str,
    vocab_classes: list[str],
    vocab_props: list[str],
) -> str:
    """Per-vocabulary shapes (vocabulary_shapes.template.ttl;
    builder:543-583): label presence for classes/properties + one
    Undefined{Class,Property} shape per term of the vocabulary's
    namespace used in the dataset."""
    out = [PREFIXES]
    for target, name in (("rdfs:Class", "LabelForClassesShape"),
                         ("rdf:Property", "LabelForPropertiesShape")):
        kind = "Classes" if "Class" in name else "Properties"
        out.append(
            f"ex:{name}\n    a sh:NodeShape ;\n"
            f"    sh:targetClass {target} ;\n    sh:property [\n"
            f"        sh:path <{labeling_property}> ;\n"
            "        sh:minCount 1 ;\n"
            f'        sh:message "LabelFor{kind} - {kind} should contain '
            'a label";\n    ].\n\n')
    for i, cls in enumerate(vocab_classes):
        out.append(
            f"ex:UndefinedClassShape_{i}\n    a sh:NodeShape ;\n"
            f"    sh:targetNode <{cls}> ;\n    sh:property [\n"
            f"        sh:path <{type_property}> ;\n"
            "        sh:hasValue rdfs:Class;\n        sh:minCount 1 ;\n"
            f'        sh:message "UndefinedClass_{i} - The class {cls} is '
            'not defined";\n    ].\n\n')
    for i, prop in enumerate(vocab_props):
        out.append(
            f"ex:UndefinedPropertyShape_{i}\n    a sh:NodeShape ;\n"
            f"    sh:targetNode <{prop}> ;\n    sh:property [\n"
            f"        sh:path <{type_property}> ;\n"
            "        sh:hasValue rdf:Property;\n        sh:minCount 1 ;\n"
            f'        sh:message "UndefinedProperty_{i} - The property '
            f'{prop} is undefined";\n    ].\n\n')
    return "".join(out)
