"""A7 — instantiated SHACL shapes graphs serialized as Turtle.

The reference materializes its shapes graphs next to the results
(dq_assessment.py:156-159 metadata, 212-218 vocabulary, 255-258 data)
as a debugging/parity artifact. This module re-expresses the shape
templates (dq_assessment/shapes/*.template.ttl) as plain f-string
instantiation over the SAME inputs `scoring.score_plan` instantiates
the data shapes from (the plan's terms plus the profile's usage sets), so
the emitted graph always names exactly the shapes the engine scores.

Output is template-shaped Turtle (the reference round-trips through
rdflib, which reformats but preserves the triples); shape indices are a
running counter whose absolute values depend on instantiation order and
are NOT reproducible across engines — tools/pizza_parity.py compares
shape multisets with indices normalized.
"""

from __future__ import annotations

from shacl_dqa_prototype_spark.functions.terms import RDFS

from .constraints import DQAConfig, VocabTerm

OWL_THING = "http://www.w3.org/2002/07/owl#Thing"

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


def _or_shape(name: str, target: str, last_branch: str) -> str:
    return (
        f"ex:{name}\n    a sh:NodeShape ;\n"
        f"    sh:targetSubjectsOf <{target}> ;\n"
        f"    sh:or (\n{_EXEMPT_BRANCHES}        [\n{last_branch}"
        f"        ]\n    ).\n\n"
    )


def data_shapes_ttl(
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    cfg: DQAConfig,
    used_props: set[str],
    used_classes: set[str],
) -> str:
    """The data shapes graph score_plan scores for the same
    (vocab_terms, disjoint_pairs, cfg, usage) inputs. One shape per
    ShapeSpec family member, same pruning rules (constraints.data_shapes;
    reference shacl_shape_builder.py:48-583)."""
    out = [PREFIXES]
    pc = cc = 0  # property / class shape counters (builder.py:27-46)

    def prop_shape(body: str) -> None:
        # ONE shared counter across property-shape families, matching the
        # reference builder's running index (builder.py:27-46)
        nonlocal pc
        out.append(body.replace("{i}", str(pc)))
        pc += 1

    def class_shape(body: str) -> None:
        nonlocal cc
        out.append(body.replace("{i}", str(cc)))
        cc += 1

    tp, lp, dp, ilp = (cfg.type_property, cfg.labeling_property,
                       cfg.description_property, cfg.interlinking_property)

    # ---- accessibility (builder:48-56) ----------------------------------
    if cfg.base_uri:
        out.append(
            f"ex:UsageExternalURIEntitiesShape\n    a sh:NodeShape ;\n"
            f"    sh:targetSubjectsOf <{ilp}> ;\n"
            f"    sh:property [\n        sh:path <{ilp}> ;\n"
            f'        sh:pattern "^(?!{_ttl_escape(cfg.base_uri)})" ;\n'
            f'        sh:message "UsageExternalURIEntities - The dataset '
            f'doesn\'t contain links to external sources"\n    ].\n\n')
    out.append(_or_shape(
        "UsageHashURIsEntitiesShape", tp,
        '            sh:pattern "^[^#]*$" ;\n'
        '            sh:message "UsageHashURIsEntities - It\'s is '
        'recommended the usage of slash URIs";\n'))

    # ---- contextual (builder:58-79) -------------------------------------
    out.append(_or_shape(
        "LabelForEntitiesShape", tp,
        f"            sh:path <{lp}> ;\n            sh:minCount 1 ;\n"
        '            sh:message "LabelForEntities - All entities should '
        'be tagged with a label.";\n'))
    if cfg.uri_regex_pattern:
        out.append(_or_shape(
            "URIRegexComplianceEntitiesShape", tp,
            f'            sh:pattern "{_ttl_escape(cfg.uri_regex_pattern)}" ;\n'
            '            sh:message "URIRegexComplianceEntities - URIs '
            'should match the regex pattern provided in '
            'void:uriRegexPattern" ;\n'))
    if cfg.uri_space:
        out.append(_or_shape(
            "URISpaceComplianceEntitiesShape", tp,
            f'            sh:pattern "^{_ttl_escape(cfg.uri_space)}" ;\n'
            '            sh:message "URISpaceComplianceEntities - URIs '
            'should match the URI space provided in void:uriSpace" ;\n'))

    # ---- representational (builder:82-114) -------------------------------
    out.append(_or_shape(
        "URIsLengthEntitiesShape", tp,
        f"            sh:maxLength {cfg.uris_max_length} ;\n"
        '            sh:message "URIsLengthEntities - URIs should have a '
        f'length of less than {cfg.uris_max_length}";\n'))
    out.append(_or_shape(
        "URIsParametersEntitiesShape", tp,
        '            sh:not[ sh:pattern "\\\\?.+=.*" ; ] ;\n'
        '            sh:message "URIsParametersEntities - URIs shouldn\'t '
        'use parameters";\n'))
    out.append(_or_shape(
        "ProlixFeaturesShape", tp,
        "            sh:not[\n                sh:or(\n"
        "                    [ sh:class rdf:Statement; ]\n"
        "                    [ sh:class rdf:List; ]\n"
        "                    [ sh:class rdf:Seq; ]\n"
        "                    [ sh:class rdf:Bag; ]\n"
        "                    [ sh:class rdf:Alt; ]\n                );\n"
        '                sh:message "ProlixFeatures - Prolix features '
        'shouldn\'t be used (Lists, Containers)";\n            ]\n'))
    if cfg.check_languages and lp:
        out.append(_or_shape(
            "DifferentLanguagesLabelsEntitiesShape", lp,
            f"            sh:path <{lp}> ;\n"
            "            sh:datatype rdf:langString;\n"
            '            sh:message "DifferentLanguagesLabelsEntities - '
            'Entities should provide labels with language tags";\n'))
    if cfg.check_languages and dp:
        out.append(_or_shape(
            "DifferentLanguagesDescriptionsEntitiesShape", dp,
            f"            sh:path <{dp}> ;\n"
            "            sh:datatype rdf:langString ;\n"
            '            sh:message "DifferentLanguagesDescriptionsEntities'
            ' - Entities should provide descriptions with language '
            'tags";\n'))
    out.append(_or_shape(
        "SelfDescriptiveFormatShape", tp,
        "            sh:nodeKind sh:IRI ;\n"
        '            sh:message "SelfDescriptiveFormat - Entities should '
        'be identified by URIs" ;\n'))
    out.append(_or_shape(
        "BlankNodesUsageEntitiesShape", tp,
        "            sh:not [ sh:nodeKind sh:BlankNode] ;\n"
        '            sh:message "BlankNodesUsageEntities - The dataset '
        'should not use blank nodes to identify entities" ;\n'))
    # per-property (builder:100-114): local counter starting at 0
    for i, prop in enumerate(sorted(used_props)):
        out.append(
            f"ex:SelfDescriptiveFormatPropertiesShape_{i}\n"
            f"    a sh:NodeShape ;\n    sh:targetObjectsOf <{prop}> ;\n"
            f'    sh:message "SelfDescriptiveFormatProperties_{i} - The '
            f'property {prop} uses literals or blank nodes as values";\n'
            f"    sh:nodeKind sh:IRI .\n\n")

    # ---- intrinsic (builder:260-583) -------------------------------------
    out.append(_or_shape(
        "InterlinkingCompletenessShape", tp,
        f"            sh:path <{ilp}> ;\n            sh:minCount 1;\n"
        '            sh:message "InterlinkingCompleteness - Entities '
        'should be interlinked." ;\n'))

    classes = [t for t in vocab_terms if t.term_kind == "class" and not t.deprecated]
    depr_classes = [t.term for t in vocab_terms
                    if t.term_kind == "class" and t.deprecated]
    props = [t for t in vocab_terms if t.term_kind != "class"]
    if classes:
        out.append(
            "ex:NotNamedIndividualShape\n    a sh:NodeShape;\n"
            f"    sh:property [\n            sh:path <{tp}> ;\n"
            "            sh:not [ sh:hasValue owl:NamedIndividual ] ;\n"
            "    ].\n\n")
    for c in classes:
        class_shape(
            "ex:SchemaCompletenessClassUsageShape_{i}\n    a sh:NodeShape ;\n"
            f"    sh:targetNode <{c.term}> ;\n    sh:property [\n"
            f"        sh:path [ sh:inversePath <{tp}> ] ;\n"
            "        sh:minCount 1 ;\n        sh:qualifiedValueShape [\n"
            "            sh:node ex:NotNamedIndividualShape ;\n        ];\n"
            "        sh:qualifiedMinCount 1 ;\n"
            '        sh:message "SchemaCompletenessClassUsage_{i} - The '
            'target class is defined in the vocabulary but isn\'t used in '
            'the dataset";\n    ].\n\n')
        class_shape(_or_shape(
            "MisplacedClassesShape_{i}", tp,
            f"            sh:path  <{c.term}> ;\n"
            "            sh:maxCount 0;\n"
            '            sh:message "MisplacedClasses_{i} - The class '
            f'{c.term} is being used as a property" ;\n'))
    dpairs = sorted(
        (a, b) for (a, b) in
        ({(a, b) for (a, b) in disjoint_pairs}
         | {(b, a) for (a, b) in disjoint_pairs})
        if a in used_classes)
    for a, b in dpairs:
        class_shape(
            "ex:EntitiesDisjointClassesShape_{i}\n    a sh:NodeShape ;\n"
            f"    sh:targetClass <{a}> ;\n    sh:not [\n"
            f"        sh:class <{b}>;\n"
            '        sh:message "EntitiesDisjointClasses_{i} - There are '
            f"instances of the class {a} that are instances of the "
            f'disjoint class {b}";\n    ].\n\n')
    for t in props:
        prop_shape(
            "ex:MisplacedPropertiesShape_{i}\n    a sh:NodeShape ;\n"
            f"    sh:targetNode <{t.term}> ;\n    sh:property [\n"
            f"        sh:path [ sh:inversePath <{tp}> ] ;\n"
            "        sh:maxCount 0;\n"
            '        sh:message "MisplacedProperties_{i} - The property '
            f'{t.term} is being used as a class" ;\n    ].\n\n')

    def domain_shape(t: VocabTerm) -> None:
        if t.domain != OWL_THING:
            prop_shape(
                "ex:CorrectDomainShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n"
                '    sh:message "CorrectDomain_{i} - The property '
                f'{t.term} is used with an incorrect domain" ;\n'
                f"    sh:class <{t.domain}> .\n\n")
        else:  # owl:Thing → nodeKind (builder:325-328)
            prop_shape(
                "ex:CorrectDomainShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n"
                "    sh:nodeKind sh:BlankNodeOrIRI ;\n"
                '    sh:message "CorrectDomain_{i} - The property '
                f'{t.term} is used with an incorrect domain" .\n\n')

    def range_prop_shape(t: VocabTerm, body: str) -> None:
        prop_shape(
            "ex:CorrectRangeShape_{i}\n    a sh:NodeShape ;\n"
            f"    sh:targetSubjectsOf <{t.term}>;\n    sh:property [\n"
            f"        sh:path <{t.term}> ;\n{body}    ].\n\n")

    _range_msg = ('        sh:message "CorrectRange_{i} - The property '
                  '%s is used with an incorrect range"')

    def range_shapes(t: VocabTerm) -> None:
        """Range routing, mirroring constraints.py:429-497 (which itself
        mirrors builder:330-362 and the rdf_property branch 433-455
        including its always-sh:class quirk for class-kind ranges)."""
        msg = _range_msg % t.term
        if t.term_kind == "datatype_property" or (
                t.term_kind == "rdf_property" and t.range_kind == "literal"
                and t.range != f"{RDFS}Literal"):
            range_prop_shape(t, msg + f" ;\n        sh:datatype <{t.range}>\n")
            prop_shape(
                "ex:MalformedLiteralShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n    sh:property [\n"
                f"        sh:path <{t.term}> ;\n"
                f"        sh:datatype <{t.range}>;\n"
                '        sh:message "MalformedLiteral_{i} - The property '
                f'{t.term} is used with an incompatible datatype or an '
                'il-typed literal" ;\n    ].\n\n')
        elif t.term_kind == "rdf_property" and t.range_kind == "literal":
            range_prop_shape(t, "        sh:nodeKind sh:Literal ;\n" + msg + "\n")
        elif t.term_kind == "object_property" and t.range == OWL_THING:
            range_prop_shape(
                t, "        sh:nodeKind sh:BlankNodeOrIRI ;\n" + msg + "\n")
        elif t.term_kind == "object_property" and t.range == f"{RDFS}Resource":
            range_prop_shape(
                t,
                "        sh:or (\n            [\n"
                "                sh:nodeKind sh:BlankNodeOrIRI ;\n        "
                + msg + "]\n            [\n"
                "                sh:nodeKind sh:Literal ;\n        "
                + msg + "\n            ]\n        );\n")
        else:
            range_prop_shape(t, msg + f" ;\n        sh:class <{t.range}> \n")

    for t in props:
        if t.term not in used_props:
            continue
        # misuse/domain/range shapes exclude deprecated terms, and so do
        # the IFP/functional characteristic shapes (constraints.py C23/C24
        # filter `... and not t.deprecated`); irreflexive/asymmetric do
        # NOT (constraints.py:433,449) — this emission mirrors the
        # compiler family by family so the artifact names exactly the
        # shapes the engine evaluates
        if not t.deprecated and t.term_kind == "object_property":
            prop_shape(
                "ex:MisuseOwlObjectPropertiesShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n    sh:property [\n"
                f"        sh:path <{t.term}>;\n"
                "        sh:nodeKind sh:BlankNodeOrIRI;\n"
                '        sh:message "MisuseOwlObjectProperties_{i} - The '
                f'object property {t.term} is being used with Literals"\n'
                "    ].\n\n")
        elif not t.deprecated and t.term_kind == "datatype_property":
            prop_shape(
                "ex:MisuseOwlDatatypePropertiesShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n    sh:property [\n"
                f"        sh:path <{t.term}> ;\n"
                "        sh:nodeKind sh:Literal ;\n"
                '        sh:message "MisuseOwlDatatypeProperties_{i} - The '
                f'datatype property {t.term} is being used with '
                'Resources" ;\n    ].\n\n')
        if t.domain and not t.deprecated:
            domain_shape(t)
        if t.range and not t.deprecated:
            range_shapes(t)
        if t.irreflexive:
            prop_shape(
                "ex:IrreflexivePropertyShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n"
                '    sh:message "IrreflexiveProperty_{i} - The irreflexive '
                f'constraint for the property {t.term} is not enforced " ;\n'
                f"    sh:disjoint <{t.term}> .\n\n")
        if t.inverse_functional and not t.deprecated:
            prop_shape(
                "ex:InverseFunctionalPropertyUniquenessShape_{i}\n"
                "    a sh:NodeShape ;\n"
                f"    sh:targetObjectsOf <{t.term}> ;\n    sh:property [\n"
                f"        sh:path [ sh:inversePath <{t.term}> ] ;\n"
                "        sh:maxCount 1 ;\n"
                '        sh:message "InverseFunctionalPropertyUniqueness_{i}'
                ' - The uniqueness characteristic of the inverse functional '
                'property is not enforced" ;\n    ].\n\n')
        if t.functional and not t.deprecated:
            prop_shape(
                "ex:FunctionalPropertyShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n    sh:property [\n"
                f"        sh:path <{t.term}> ;\n        sh:maxCount 1 ;\n"
                '        sh:message "FunctionalProperty_{i} - The property '
                f'{t.term} is used with more than one value for the same '
                'node" ;\n    ].\n\n')
        if t.asymmetric:
            prop_shape(
                "ex:AsymmetricPropertyShape_{i}\n    a sh:NodeShape ;\n"
                f"    sh:targetSubjectsOf <{t.term}> ;\n    sh:property [\n"
                f"        sh:path [sh:inversePath <{t.term}>];\n"
                f"        sh:disjoint <{t.term}> ;\n"
                '        sh:message "AsymmetricProperty_{i} - The property '
                f'{t.term} is used incorrectly (asymmetric)" ;\n    ].\n\n')
    if depr_classes:
        classes_list = " ".join(f"<{v}>" for v in depr_classes)
        out.append(_or_shape(
            "DeprecatedClassesShape", tp,
            f"            sh:path <{tp}> ;\n            sh:not [\n"
            f"                sh:in ( {classes_list} );\n"
            '                sh:message "DeprecatedClasses - Deprecated '
            'classes are being used in the dataset";\n            ];\n'))
    for t in props:
        if t.deprecated:
            prop_shape( _or_shape(
                "DeprecatedPropertiesShape_{i}", tp,
                f"            sh:path <{t.term}> ;\n"
                "            sh:maxCount 0;\n"
                '            sh:message "DeprecatedProperties_{i} - '
                'Deprecated properties are being used in the dataset";\n'))
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
