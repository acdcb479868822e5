"""Fixed engine schemas.

The reference is schema-less (RDF is self-describing; rdflib Graph rows —
/root/reference/utils.py:66-67). The Spark rebuild pins explicit columnar
schemas so Catalyst can prune/pushdown; node kind and literal typing become
explicit columns (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- Primary input (BASELINE.json input_hint): interleaved text+media docs ---
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), False),       # text | image | audio | video
        StructField("text", StringType(), True),        # non-null iff kind == 'text'
        StructField("media_ref", StringType(), True),   # non-null iff kind != 'text'
        StructField("offset", IntegerType(), False),    # monotone position in doc
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), False),
    ]
)

# --- Canonical triple table T (SURVEY.md §1.2) ---
TRIPLES_SCHEMA = StructType(
    [
        StructField("s", StringType(), False),        # IRI or "_:"-prefixed bnode
        StructField("p", StringType(), False),        # predicate IRI
        StructField("o", StringType(), False),        # object lexical form
        StructField("o_kind", StringType(), False),   # iri | bnode | literal
        StructField("o_dtype", StringType(), True),   # XSD datatype IRI or null
        StructField("o_lang", StringType(), True),    # BCP-47 tag or null
    ]
)

# --- Mentions (construction intermediate, E1/E2) ---
MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_pos", IntegerType(), False),   # index of source span
        StructField("fact_idx", IntegerType(), False),   # fact ordinal in span
        StructField("subj_surface", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_surface", StringType(), True),   # entity mention, or None
        StructField("obj_literal", StringType(), True),   # literal lexical form
        StructField("obj_dtype", StringType(), True),
        StructField("obj_lang", StringType(), True),
    ]
)

# --- Entity dictionary (linking candidates, broadcast dim; FIXTURES.md §5) ---
ENTITY_DICTIONARY_SCHEMA = StructType(
    [
        StructField("surface", StringType(), False),
        StructField("candidate", StringType(), False),   # candidate entity IRI
        StructField("prior", DoubleType(), False),
    ]
)

# --- Vocab terms dim (TBox; FIXTURES.md §3, mined as in utils.py:156-647) ---
VOCAB_TERMS_SCHEMA = StructType(
    [
        StructField("vocab", StringType(), False),
        StructField("namespace", StringType(), False),
        StructField("term", StringType(), False),
        StructField("term_kind", StringType(), False),  # class|object_property|datatype_property|rdf_property
        StructField("domain", StringType(), True),
        StructField("range", StringType(), True),
        StructField("range_kind", StringType(), True),  # literal | class
        StructField("deprecated", BooleanType(), False),
        StructField("functional", BooleanType(), False),
        StructField("inverse_functional", BooleanType(), False),
        StructField("irreflexive", BooleanType(), False),
        StructField("asymmetric", BooleanType(), False),
        StructField("symmetric", BooleanType(), False),
        StructField("transitive", BooleanType(), False),
        StructField("reflexive", BooleanType(), False),
        StructField("has_label", BooleanType(), False),
    ]
)

DISJOINT_PAIRS_SCHEMA = StructType(
    [
        StructField("vocab", StringType(), False),
        StructField("class_a", StringType(), False),
        StructField("class_b", StringType(), False),
    ]
)

# --- Violations: uniform output of every compiled constraint (SURVEY.md §1.1) ---
VIOLATIONS_SCHEMA = StructType(
    [
        StructField("metric", StringType(), False),      # metric family name
        StructField("item", StringType(), True),         # per-prop/per-class shape key
        StructField("focus", StringType(), False),       # violating focus node
        StructField("value", StringType(), True),        # offending value (optional)
    ]
)

# --- Report (dq_assessment.py:1284-1287 column contract) ---
REPORT_SCHEMA = StructType(
    [
        StructField("target", StringType(), False),       # data|metadata|vocab name
        StructField("dimension", StringType(), True),
        StructField("metric", StringType(), False),
        StructField("item", StringType(), True),
        StructField("score_kind", StringType(), False),   # binary | ratio | meta
        StructField("measure", DoubleType(), False),
        StructField("num_violations", LongType(), False),
        StructField("violations", StringType(), True),    # '; '-joined focus nodes
    ]
)

# --- Events feed (driver testdata events.parquet; streaming ops) ---
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)
