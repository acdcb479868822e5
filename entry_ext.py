"""Extension of the driver contract: queries()/oracle_sql() entries for the
SURVEY.md §2 operator families not covered by the core set in
__spark_entry__.py — the remaining C* constraint families (C1, C7-C22,
C26, C28), metadata shapes C33-C36, vocabulary shapes C37-C40, profiling
B8/B9, TBox merge B11, and the construction operators E1-E8 (span explode,
Arrow-batched extraction, broadcast linking, connected components,
invariant) plus multimodal plumbing.

Everything oracled runs the REAL engine operators on the Spark side; the
DuckDB oracle re-derives the expected result from the raw parquet tables
(or a shared VALUES table) independently.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.datagen import EX, P_LOCATED_IN
from shacl_dqa_prototype_spark.functions.terms import (
    OWL,
    RDF,
    RDFS,
    RDFS_LABEL as RDFS_LABEL_IRI,
)
from shacl_dqa_prototype_spark.operators.connected_components import (
    connected_components,
)
from shacl_dqa_prototype_spark.operators.extract import (
    explode_spans,
    extract_fact_mentions,
)
from shacl_dqa_prototype_spark.operators.invariant import invariant_violations
from shacl_dqa_prototype_spark.operators.link import link_mentions, mentions_to_triples
from shacl_dqa_prototype_spark.operators.multimodal import (
    decode_features,
    frame_sample_plan,
    materialize_media,
)
from shacl_dqa_prototype_spark.operators.similarity import embedding_near_duplicates
from shacl_dqa_prototype_spark.plans.constraints import (
    DQAConfig,
    VocabTerm,
    compile_data_constraints,
)
from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa, run_metadata_dqa
from shacl_dqa_prototype_spark.plans.profile import (
    degree_distribution,
    infer_namespace,
    literal_datatypes,
    profile_graph,
)
from shacl_dqa_prototype_spark.plans.vocab import tbox_merge_rows
from shacl_dqa_prototype_spark.plans.vocab_shapes import (
    compile_vocab_constraints,
    score_vocab_plan,
)

MINT_NS = f"{EX}mint/"

XSD_DECIMAL = "http://www.w3.org/2001/XMLSchema#decimal"
RDFS_CLASS = f"{RDFS}Class"
RDF_STATEMENT = f"{RDF}Statement"

# ---------------------------------------------------------------------------
# T2: second seeded triple view exercising the constraint families the core
# view doesn't. Shared Spark-SQL/DuckDB text; all seeding is arithmetic.
# ---------------------------------------------------------------------------

# Part subject CASE — spliced into both the view and every oracle that
# needs a part IRI, so the two engines cannot disagree on precedence.
PART_S = """CASE WHEN p_partkey % 17 = 0 THEN concat('urn:d2:part?id=', p_partkey)
     WHEN p_partkey % 19 = 0 THEN concat('_:bp', p_partkey)
     WHEN p_partkey % 13 = 0 THEN concat('urn:d2:part/', p_partkey, repeat('x', 80))
     ELSE concat('urn:d2:part/', p_partkey) END"""

TRIPLES2_SQL = f"""
SELECT * FROM (
  -- branches are pairwise-disjoint; no outer DISTINCT needed

  SELECT {PART_S} AS s, 'rdf:type' AS p, 'urn:c2:Part' AS o,
         'iri' AS o_kind, CAST(NULL AS STRING) AS o_dtype,
         CAST(NULL AS STRING) AS o_lang
  FROM part
  UNION ALL SELECT {PART_S}, '{RDFS_LABEL_IRI}', p_name, 'literal', NULL,
         CASE WHEN p_partkey % 2 = 0 THEN 'en' ELSE NULL END FROM part
  UNION ALL SELECT {PART_S}, 'urn:p2:weight',
         CASE WHEN p_partkey % 31 = 0 THEN concat('w', p_partkey)
              ELSE concat(p_partkey, '.5') END,
         'literal', '{XSD_DECIMAL}', NULL
  FROM part WHERE p_partkey % 37 <> 0
  UNION ALL SELECT {PART_S}, 'urn:p2:weight',
         concat('urn:d2:w/', p_partkey), 'iri', NULL, NULL
  FROM part WHERE p_partkey % 37 = 0
  UNION ALL SELECT {PART_S}, 'urn:p2:oldCode', concat('c', p_partkey),
         'literal', NULL, NULL FROM part WHERE p_partkey % 23 = 0
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'rdf:type',
         'urn:c2:Supplier', 'iri', NULL, NULL FROM supplier
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'rdf:type',
         '{RDF_STATEMENT}', 'iri', NULL, NULL
  FROM supplier WHERE s_suppkey % 7 = 0
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'rdf:type',
         'urn:c2:Obsolete', 'iri', NULL, NULL
  FROM supplier WHERE s_suppkey % 11 = 0
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'rdf:type',
         'urn:c2:Ghost', 'iri', NULL, NULL
  FROM supplier WHERE s_suppkey % 13 = 0
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'urn:p2:sameAs',
         CASE WHEN s_suppkey % 4 = 0 THEN concat('urn:d2:supp/', s_suppkey + 1)
              ELSE concat('http://ext.example/', s_suppkey) END,
         'iri', NULL, NULL FROM supplier
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'urn:p2:weight',
         concat(s_suppkey, '.5'), 'literal', '{XSD_DECIMAL}', NULL
  FROM supplier WHERE s_suppkey % 8 = 0
  UNION ALL SELECT concat('urn:d2:supp/', s_suppkey), 'urn:p2:madeBy',
         CASE WHEN s_suppkey % 9 = 0 THEN concat('maker ', s_suppkey)
              ELSE concat('urn:d2:maker/', s_nationkey) END,
         CASE WHEN s_suppkey % 9 = 0 THEN 'literal' ELSE 'iri' END,
         NULL, NULL FROM supplier
  UNION ALL SELECT concat('urn:d2:ex#', r_regionkey), 'rdf:type',
         '{RDFS_CLASS}', 'iri', NULL, NULL FROM region
  UNION ALL SELECT concat('urn:d2:reg#', r_regionkey), 'rdf:type',
         'urn:c2:Region', 'iri', NULL, NULL FROM region
  UNION ALL SELECT concat('urn:d2:reg#', r_regionkey), 'urn:p2:ghostProp',
         concat('g', r_regionkey), 'literal', NULL, NULL FROM region
  UNION ALL SELECT concat('urn:d2:mc/', n_nationkey), 'urn:c2:Part',
         concat('x', n_nationkey), 'literal', NULL, NULL FROM nation
  UNION ALL SELECT concat('urn:d2:mp/', r_regionkey), 'rdf:type',
         'urn:p2:weight', 'iri', NULL, NULL FROM region
)
"""

ENTRY_VOCAB2 = [
    VocabTerm("urn:c2:Part", "class"),
    VocabTerm("urn:c2:Supplier", "class"),
    VocabTerm("urn:c2:Region", "class"),
    VocabTerm("urn:c2:Unused", "class"),
    VocabTerm("urn:c2:Obsolete", "class", deprecated=True),
    VocabTerm("urn:p2:madeBy", "object_property"),
    VocabTerm("urn:p2:sameAs", "object_property"),
    VocabTerm("urn:p2:weight", "datatype_property",
              domain="urn:c2:Part", range=XSD_DECIMAL, range_kind="literal"),
    VocabTerm("urn:p2:oldCode", "rdf_property", deprecated=True),
]
CFG2 = DQAConfig(
    type_property="rdf:type",
    labeling_property=RDFS_LABEL_IRI,
    interlinking_property="urn:p2:sameAs",
    base_uri="urn:d2:",
    uris_max_length=80,
)

_T2_CACHE: dict[tuple[int, str], DataFrame] = {}
_V2_CACHE: dict[tuple[int, str], DataFrame] = {}


def _register(spark: SparkSession, sf_dir: str) -> None:
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)


def _t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    if key not in _T2_CACHE:
        _register(spark, sf_dir)
        _T2_CACHE[key] = spark.sql(TRIPLES2_SQL).cache()
    return _T2_CACHE[key]


def _violations2(spark: SparkSession, sf_dir: str, metric: str,
                 with_item: bool = False) -> DataFrame:
    """Real compiled constraint plan over T2, cached per session/sf."""
    key = (id(spark), sf_dir)
    if key not in _V2_CACHE:
        plan = compile_data_constraints(_t2(spark, sf_dir), ENTRY_VOCAB2, [], CFG2)
        _V2_CACHE[key] = plan.violations.cache()
    v = _V2_CACHE[key].filter(F.col("metric") == metric)
    cols = ["item", "focus"] if with_item else ["focus"]
    return v.select(*cols).distinct()


_STREAM_DIR_CACHE: dict[tuple[str, str], str] = {}


def _stream_dir_for(sf_dir: str, name: str) -> str:
    """Spark's file-stream source requires a DIRECTORY, but the testdata
    tables are single parquet files. Symlink the file into a per-process
    temp dir (O(1), no data copy — the old approach rewrote the whole
    table per invocation) and reuse it across calls."""
    key = (sf_dir, name)
    if key not in _STREAM_DIR_CACHE:
        import tempfile

        d = tempfile.mkdtemp(prefix="streamdir_")
        os.symlink(os.path.join(sf_dir, name), os.path.join(d, name))
        _STREAM_DIR_CACHE[key] = d
    return _STREAM_DIR_CACHE[key]


# Deterministic triangle-rich graph from the orders table, as ONE shared
# SQL text both engines run: a 97-node ring of chain edges plus, for every
# third order, the closing pair that plants the (k, k+1, 2k) triangle.
TRIANGLE_EDGES_SQL = """
SELECT concat('n', o_orderkey % 97) AS src,
       concat('n', (o_orderkey + 1) % 97) AS dst FROM orders
UNION ALL
SELECT concat('n', (o_orderkey + 1) % 97), concat('n', (o_orderkey * 2) % 97)
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT concat('n', (o_orderkey * 2) % 97), concat('n', o_orderkey % 97)
FROM orders WHERE o_orderkey % 3 = 0
"""

# BM25 bag-of-terms query over the synthetic corpus: mixed document
# frequencies (common / mid / mid) so idf actually differentiates.
BM25_QUERY = ["spark", "vector", "scan"]

_FUNNEL_DIR_CACHE: dict[str, str] = {}


def _funnel_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events split into 4 TIME-RANGE parquet files with ascending mtimes
    — the file-stream source then delivers them as 4 microbatches in
    event-time order (maxFilesPerTrigger=1), the arrival contract the
    O(1)-state streaming funnel documents. Fixture prep, cached per sf."""
    if sf_dir not in _FUNNEL_DIR_CACHE:
        import tempfile
        import time as _time

        from pyspark.sql import Window as W

        import glob
        import shutil

        d = tempfile.mkdtemp(prefix="funnelstream_")
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        part = ev.withColumn(
            "_b", F.ntile(4).over(W.orderBy("ts", "event_id")) - 1)
        now = _time.time()
        for b in range(4):
            # Spark-written parquet keeps the exact timestamp physical
            # type the stream reader's schema expects (pandas round-trips
            # through a mismatched INT64 encoding)
            tmp = os.path.join(d, f"_stage{b}")
            part.filter(F.col("_b") == b).drop("_b").coalesce(1) \
                .write.mode("overwrite").parquet(tmp)
            src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            path = os.path.join(d, f"part-{b}.parquet")
            shutil.move(src, path)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(path, (now + b, now + b))
        _FUNNEL_DIR_CACHE[sf_dir] = d
    return _FUNNEL_DIR_CACHE[sf_dir]


def _docs_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# Interleaved documents synthesized deterministically from the driver's flat
# documents table (doc_id, text, lang, source, ...) — BASELINE.json
# input_hint shape: (doc_id, spans array<struct<kind,text,media_ref,offset>>).
# Every doc: span0 = text sentence; doc_id%3==0 adds an image span;
# doc_id%5==0 adds an audio span. The oracle re-derives flat rows directly.
# ---------------------------------------------------------------------------

def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_flat(spark, sf_dir)
    sentence = F.concat(F.lit("D"), F.col("doc_id"),
                        F.lit(" is located in "), F.upper("source"), F.lit("."))
    span = lambda kind, text, ref: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"), text.alias("text"), ref.alias("media_ref"),
        F.lit(0).alias("offset"))
    nulls = F.lit(None).cast("string")
    raw = F.array(
        span("text", sentence, nulls),
        F.when(F.col("doc_id") % 3 == 0,
               span("image", nulls, F.concat(F.lit("img://"), F.col("doc_id")))),
        F.when(F.col("doc_id") % 5 == 0,
               span("audio", nulls, F.concat(F.lit("aud://"), F.col("doc_id")))),
        F.when(F.col("doc_id") % 7 == 0,
               span("video", nulls, F.concat(F.lit("vid://"), F.col("doc_id")))),
    )
    spans = F.transform(
        F.filter(raw, lambda x: x.isNotNull()),
        lambda x, i: F.struct(x["kind"].alias("kind"), x["text"].alias("text"),
                              x["media_ref"].alias("media_ref"),
                              i.cast("int").alias("offset")),
    )
    return d.select(F.col("doc_id").cast("string").alias("doc_id"),
                    spans.alias("spans"))


# ---------------------------------------------------------------------------
# Metadata triple view (C33-C36) — shared VALUES table. Seeds one VoID
# dataset that passes some shapes and fails others (incl. the
# present-but-incorrect license case and the dcat sequence-path dump).
# ---------------------------------------------------------------------------

_DCT = "http://purl.org/dc/terms/"
_FOAF = "http://xmlns.com/foaf/0.1/"
_VOID = "http://rdfs.org/ns/void#"
_DCAT = "http://www.w3.org/ns/dcat#"
_RDF_TYPE = f"{RDF}type"

METADATA_SQL = f"""
SELECT * FROM (VALUES
  ('urn:ds:1', '{_RDF_TYPE}', '{_VOID}Dataset', 'iri'),
  ('urn:ds:1', '{_DCT}title', 'Test dataset', 'literal'),
  ('urn:ds:1', '{_DCT}description', 'A seeded VoID description', 'literal'),
  ('urn:ds:1', '{_FOAF}homepage', 'http://example.org/ds', 'iri'),
  ('urn:ds:1', '{_VOID}exampleResource', 'urn:d2:part/1', 'iri'),
  ('urn:ds:1', '{_VOID}uriSpace', 'urn:d2:', 'literal'),
  ('urn:ds:1', '{_DCT}license', 'urn:lic:1', 'iri'),
  ('urn:ds:1', '{_VOID}feature', 'http://www.w3.org/ns/formats/Turtle', 'iri'),
  ('urn:ds:1', '{_DCAT}distribution', 'urn:dist:1', 'iri'),
  ('urn:dist:1', '{_DCAT}downloadURL', 'http://example.org/dump.ttl', 'iri'),
  ('urn:ds:1', '{_DCT}creator', 'Alice', 'literal')
) AS t(s, p, o, o_kind)
"""


def _metadata_df(spark: SparkSession) -> DataFrame:
    return spark.sql(METADATA_SQL).select(
        "s", "p", "o", "o_kind",
        F.lit(None).cast("string").alias("o_dtype"),
        F.lit(None).cast("string").alias("o_lang"),
    )


# ---------------------------------------------------------------------------
# B11 TBox merge fixture — vocab triples as a Python row list (engine input)
# with a hand-verified golden merge output in the oracle.
# ---------------------------------------------------------------------------

VOCAB3_ROWS: list[tuple] = [
    ("urn:v3:Widget", _RDF_TYPE, f"{OWL}Class", "iri", None, None),
    ("urn:v3:Widget", f"{RDFS}label", "Widget", "literal", None, None),
    ("urn:v3:partOf", _RDF_TYPE, f"{OWL}ObjectProperty", "iri", None, None),
    ("urn:v3:partOf", f"{RDFS}domain", "urn:v3:Widget", "iri", None, None),
    ("urn:v3:partOf", f"{RDFS}range", "urn:v3:Widget", "iri", None, None),
    ("urn:v3:weight", _RDF_TYPE, f"{OWL}DatatypeProperty", "iri", None, None),
    ("urn:v3:Gadget", f"{RDFS}subClassOf", "urn:v3:Widget", "iri", None, None),
    ("urn:v3:ann", _RDF_TYPE, f"{OWL}AnnotationProperty", "iri", None, None),
    ("urn:v3:ann", f"{RDFS}domain", "urn:v3:Widget", "iri", None, None),
    ("urn:v3:", _RDF_TYPE, f"{OWL}Ontology", "iri", None, None),
    ("urn:v3:w1", _RDF_TYPE, "urn:v3:Widget", "iri", None, None),
    ("urn:v3:Color", _RDF_TYPE, f"{RDFS}Datatype", "iri", None, None),
]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def ext_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- C-family constraints over T2 (real compiled plan) -----------------
    for name, metric, with_item in [
        ("shape2_external_uris", "UsageExternalURIEntities", False),   # C1
        ("shape2_hash_uris_exempt", "UsageHashURIsEntities", False),   # C2+X
        ("shape2_schema_completeness", "SchemaCompletenessClassUsage", False),  # C7
        ("shape2_uris_length", "URIsLengthEntities", False),           # C8
        ("shape2_uris_params", "URIsParametersEntities", False),       # C9
        ("shape2_prolix", "ProlixFeatures", False),                    # C10
        ("shape2_langs_labels", "DifferentLanguagesLabelsEntities", False),  # C11
        ("shape2_bnodes", "SelfDescriptiveFormat", False),             # C13/C15
        ("shape2_selfdescr_props", "SelfDescriptiveFormatProperties", True),  # C14
        ("shape2_misplaced_props", "MisplacedProperties", False),      # C17
        ("shape2_misplaced_classes", "MisplacedClasses", False),       # C18
        ("shape2_misuse_obj", "MisuseOwlObjectProperties", True),      # C19
        ("shape2_misuse_dt", "MisuseOwlDatatypeProperties", True),     # C20
        ("shape2_deprecated_classes", "DeprecatedClasses", False),     # C21
        ("shape2_deprecated_props", "DeprecatedProperties", True),     # C22
        ("shape2_correct_domain", "CorrectDomain", False),             # C26
        ("shape2_correct_range_dt", "CorrectRange", False),            # C28
    ]:
        q[name] = (lambda m, wi: lambda s, d: _violations2(s, d, m, wi))(
            metric, with_item)

    # --- D4 meta rollups over T2 ------------------------------------------
    def dqa2_meta(spark, sf_dir):
        rep = run_data_dqa(_t2(spark, sf_dir), ENTRY_VOCAB2, [], CFG2)
        return rep.filter(
            (F.col("score_kind") == "meta")
            & F.col("metric").isin(
                "MisuseOwlObjectProperties", "MisuseOwlDatatypeProperties",
                "CorrectDomain", "CorrectRange", "DeprecatedProperties")
        ).select("metric", F.round("measure", 6).alias("measure"),
                 "num_violations")
    q["dqa2_meta_rollup"] = dqa2_meta

    # --- B8/B9 profiling ---------------------------------------------------
    def entity_features(spark, sf_dir):
        import __spark_entry__ as core
        pp = core.ENTRY_PROFILE_PROPS
        prof = profile_graph(core._triples(spark, sf_dir),
                             pp["type_property"], pp["labeling_property"],
                             pp["description_property"],
                             pp["interlinking_property"])
        return spark.createDataFrame(
            [(prof.num_entities_interlinking, prof.num_entities_label,
              prof.num_entities_description)],
            "n_interlinking long, n_label long, n_description long")
    q["profile_entity_features"] = entity_features

    def namespace(spark, sf_dir):
        ns = infer_namespace(_t2(spark, sf_dir))
        return spark.createDataFrame([(ns,)], "ns string")
    q["profile_namespace"] = namespace

    q["profile_literal_datatypes"] = (
        lambda s, d: literal_datatypes(_t2(s, d)))

    q["profile_degree_distribution"] = (
        lambda s, d: degree_distribution(_t2(s, d)))

    # --- B11 TBox merge ----------------------------------------------------
    def tbox_merge(spark, sf_dir):
        merged = tbox_merge_rows(VOCAB3_ROWS, ["urn:v3:Widget"])
        return spark.createDataFrame(
            [(s, p, o) for (s, p, o, *_r) in merged], "s string, p string, o string"
        ).distinct()
    q["tbox_merge"] = tbox_merge

    # --- C33-C36 metadata shapes ------------------------------------------
    def metadata_dqa(spark, sf_dir):
        rep = run_metadata_dqa(spark, _metadata_df(spark))
        return rep.select("metric", F.col("measure").cast("double"))
    q["metadata_dqa"] = metadata_dqa

    # --- C37-C40 vocabulary shapes ----------------------------------------
    def vocab_dqa(spark, sf_dir):
        used_props, used_classes = profile_graph(
            _t2(spark, sf_dir), CFG2.type_property, CFG2.labeling_property,
            CFG2.description_property,
            CFG2.interlinking_property).usage_sets()
        c2_terms = [t for t in ENTRY_VOCAB2 if t.term.startswith("urn:c2:")]
        p2_terms = [t for t in ENTRY_VOCAB2 if t.term.startswith("urn:p2:")]
        plan_c2 = compile_vocab_constraints(
            spark, "c2", "urn:c2:", c2_terms,
            {"urn:c2:Part": True, "urn:c2:Supplier": True},
            used_classes, used_props)
        plan_p2 = compile_vocab_constraints(
            spark, "p2", "urn:p2:", p2_terms,
            {"urn:p2:madeBy": True, "urn:p2:weight": True},
            used_classes, used_props)
        rep_c2 = score_vocab_plan(spark, "c2", plan_c2, n_classes=5, n_properties=0)
        rep_p2 = score_vocab_plan(spark, "p2", plan_p2, n_classes=0, n_properties=4)
        return rep_c2.unionByName(rep_p2).select(
            "target", "metric", "item",
            F.round("measure", 6).alias("measure"), "num_violations")
    q["vocab_shapes_dqa"] = vocab_dqa

    # --- E1/E8 span explode + invariant -----------------------------------
    def span_explode(spark, sf_dir):
        return explode_spans(_interleaved(spark, sf_dir)).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "span_pos", "kind", "text", "media_ref")
    q["kg_span_explode"] = span_explode

    def span_invariant(spark, sf_dir):
        docs = _interleaved(spark, sf_dir)
        bad = invariant_violations(docs, explode_spans(docs))
        return spark.createDataFrame(
            [(docs.count(), bad.count())], "n_docs long, n_bad long")
    q["kg_span_invariant"] = span_invariant

    # --- E2 extraction (mapInArrow path) ----------------------------------
    def extract(spark, sf_dir):
        m = extract_fact_mentions(_interleaved(spark, sf_dir))
        return m.select(F.col("doc_id").cast("long").alias("doc_id"),
                        "subj_surface", "pred", "obj_surface")
    q["kg_extract_mentions"] = extract

    # --- E3/E4 linking (broadcast dict + disambiguation + reassembly) ------
    def link(spark, sf_dir):
        d = _docs_flat(spark, sf_dir)
        dictionary = d.select(
            F.upper("source").alias("surface"),
            F.concat(F.lit("urn:src:"), F.col("source")).alias("candidate"),
            F.lit(1.0).alias("prior"),
        ).distinct()
        mentions = extract_fact_mentions(_interleaved(spark, sf_dir))
        triples = mentions_to_triples(link_mentions(mentions, dictionary))
        return triples.select("s", "p", "o", "o_kind")
    q["kg_link_entities"] = link

    # --- E5 connected components (large-star/small-star) -------------------
    def cc(spark, sf_dir):
        d = _docs_flat(spark, sf_dir)
        max_id = d.agg(F.max("doc_id")).first()[0]
        node = lambda c: F.concat(F.lit("n"), F.lpad(c.cast("string"), 6, "0"))  # noqa: E731
        edges = (
            d.filter((F.col("doc_id") % 8 != 7) & (F.col("doc_id") != max_id))
            .select(node(F.col("doc_id")).alias("src"),
                    node(F.col("doc_id") + 1).alias("dst"))
        )
        # driver_threshold=0 forces the DISTRIBUTED large-star/small-star
        # fixpoint so the oracle validates the scale path, not the
        # small-graph union-find shortcut.
        return connected_components(edges, driver_threshold=0)
    q["kg_connected_components"] = cc

    # --- multimodal plumbing (decode is a deterministic stub) --------------
    q["kg_media_features"] = lambda s, d: decode_features(
        materialize_media(explode_spans(_interleaved(s, d)))
    ).select(F.col("doc_id").cast("long").alias("doc_id"),
             "span_pos", "kind", "media_ref",
             "width", "height", "n_frames")
    q["kg_frame_sample"] = lambda s, d: frame_sample_plan(
        decode_features(materialize_media(explode_spans(_interleaved(s, d)))),
        every_n=60,
    ).select(F.col("doc_id").cast("long").alias("doc_id"),
             "media_ref", "frame_idx")

    def kg_media_dedup(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.multimodal import (
            media_duplicates,
        )

        med = explode_spans(_interleaved(spark, sf_dir)).filter(
            F.col("kind") != "text")
        # the fixture's refs are unique per doc — remap them into mod-97
        # families so exact-duplicate PAYLOADS exist (the deterministic
        # pseudo-payload derives from the ref), the way a crawl stores
        # one logo under many URLs... except here the ref collision IS
        # the byte collision, which is exactly what the digest detects
        med = med.withColumn(
            "media_ref",
            F.concat(F.substring("kind", 1, 3), F.lit("://"),
                     (F.col("doc_id").cast("long") % 97).cast("string")))
        return media_duplicates(materialize_media(med)).select(
            "digest", "n_copies", "n_docs",
            F.col("canonical_doc").cast("long").alias("canonical_doc"),
            "canonical_pos")
    q["kg_media_dedup"] = kg_media_dedup

    # --- dedup clustering: pair edges → connected components → canonical
    # doc per cluster. Input seeds exact duplicates (shifted-id copies of
    # every 10th doc) so the oracle can re-derive the clusters.
    def dedup_cluster(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.dedup import (
            dedup_clusters,
            normalize_text,
        )

        d = _docs_flat(spark, sf_dir).select("doc_id", "text")
        dup = d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        docs = d.unionByName(dup).select(
            F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("doc_id"),
            "text")
        withh = docs.select("doc_id", F.md5(normalize_text("text")).alias("h"))
        grp = withh.groupBy("h").agg(F.min("doc_id").alias("canon"),
                                     F.count("*").alias("n"))
        pairs = (withh.join(grp.filter(F.col("n") > 1), "h")
                 .filter(F.col("doc_id") != F.col("canon"))
                 .select(F.col("canon").alias("doc_a"),
                         F.col("doc_id").alias("doc_b")))
        return dedup_clusters(pairs)
    q["dedup_cluster_exact"] = dedup_cluster

    # --- Structured Streaming ingest: drain-the-backlog extraction over the
    # same interleaved docs into a snapshot table; availableNow makes it
    # deterministic, so it shares the kg_extract_mentions oracle.
    def streaming_extract(spark, sf_dir):
        import tempfile

        from shacl_dqa_prototype_spark.schemas import MENTIONS_SCHEMA
        from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable
        from shacl_dqa_prototype_spark.streaming.ingest import (
            start_incremental_extraction_snapshots,
        )

        # the interleaved input is derived, so it must be materialized once —
        # but only once per process, not per invocation
        in_key = ("stream_in", sf_dir)
        if in_key not in _STREAM_DIR_CACHE:
            d = tempfile.mkdtemp(prefix="streamin_")
            _interleaved(spark, sf_dir).write.mode("overwrite").parquet(d)
            _STREAM_DIR_CACHE[in_key] = d
        base = tempfile.mkdtemp(prefix="stream_")
        table = SnapshotTable(spark, base + "/tbl", MENTIONS_SCHEMA)
        start_incremental_extraction_snapshots(
            spark, _STREAM_DIR_CACHE[in_key], table, base + "/ckpt",
        ).awaitTermination()
        return table.read().select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "subj_surface", "pred", "obj_surface")
    q["kg_streaming_extract"] = streaming_extract

    # --- A1: distributed N-Triples scan, oracled via round-trip ------------
    def rdf_roundtrip(spark, sf_dir):
        """Serialize the core triple view to N-Triples text, re-parse it
        with the distributed NT reader (mapInPandas regex shredder), and
        return the triples — the oracle is the original view itself."""
        import tempfile

        from shacl_dqa_prototype_spark.sources.rdf import read_ntriples

        import __spark_entry__ as core

        T = core._triples(spark, sf_dir)
        line = F.concat(
            F.lit("<"), F.col("s"), F.lit("> <"), F.col("p"), F.lit("> "),
            F.when(F.col("o_kind") == "iri",
                   F.concat(F.lit("<"), F.col("o"), F.lit(">")))
            .when(F.col("o_dtype").isNotNull(),
                  F.concat(F.lit('"'), F.col("o"), F.lit('"^^<'),
                           F.col("o_dtype"), F.lit(">")))
            .otherwise(F.concat(F.lit('"'), F.col("o"), F.lit('"'))),
            F.lit(" ."),
        )
        out = tempfile.mkdtemp(prefix="ntrt_")
        T.select(line.alias("value")).write.mode("overwrite").text(out)
        return read_ntriples(spark, out).select("s", "p", "o", "o_kind", "o_dtype")
    q["rdf_ntriples_roundtrip"] = rdf_roundtrip

    # --- A1b: distributed Turtle scan, oracled via round-trip --------------
    def turtle_roundtrip(spark, sf_dir):
        """Serialize the core triple view to Turtle (each statement spans
        TWO lines — subject line + indented predicate-object line — so the
        byte-range chunker must align multi-line statements, not just
        NT-style one-liners), re-parse with read_turtle_distributed at a
        chunk size small enough to split every part file, and return the
        triples; the oracle is the original view (r4 verdict item 3: the
        one reference ingest surface we bounced, /root/reference/utils.py:66)."""
        import tempfile

        from shacl_dqa_prototype_spark.sources.rdf import (
            read_turtle_distributed,
        )

        import __spark_entry__ as core

        T = core._triples(spark, sf_dir)
        stmt = F.concat(
            F.lit("<"), F.col("s"), F.lit(">\n    <"), F.col("p"),
            F.lit("> "),
            F.when(F.col("o_kind") == "iri",
                   F.concat(F.lit("<"), F.col("o"), F.lit(">")))
            .when(F.col("o_dtype").isNotNull(),
                  F.concat(F.lit('"'), F.col("o"), F.lit('"^^<'),
                           F.col("o_dtype"), F.lit(">")))
            .otherwise(F.concat(F.lit('"'), F.col("o"), F.lit('"'))),
            F.lit(" ."),
        )
        out = tempfile.mkdtemp(prefix="ttlrt_")
        T.select(stmt.alias("value")).write.mode("overwrite").text(out)
        return read_turtle_distributed(
            spark, out, target_chunk_bytes=64 << 10
        ).select("s", "p", "o", "o_kind", "o_dtype")
    q["rdf_turtle_roundtrip"] = turtle_roundtrip

    # --- IVF ANN (KMeans coarse quantizer + cell probing) ------------------
    # Contract config: n_probe = n_cells (full probe) ⇒ provably equal to
    # the exact brute-force top-k, so the whole IVF plumbing (quantizer
    # fit, cell assignment, probe union, in-cell exact scan) is oracled
    # against the brute-force SQL. Pruned probing (n_probe < n_cells) is
    # recall-tested in tests/test_ops.py.
    def ivf(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.similarity import ivf_topk

        emb = _emb(spark, sf_dir)
        qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return ivf_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10,
                        n_cells=16, n_probe=16).select(
            "vec_id", F.round("cosine", 3).alias("cosine"))
    q["sim_ann_ivf"] = ivf

    # --- embedding-cosine near-dup (banded LSH candidates + exact verify) --
    # The corpus is augmented with planted direction-duplicates (each
    # vec_id % 25 == 0 vector re-scaled by 2, id + 10000): scaling leaves
    # every hyperplane sign — hence every band — identical, so banded LSH
    # recall on the planted pairs is exactly 1 and the result provably
    # equals the O(n²) exact oracle (natural pairs top out at cosine
    # ≈ 0.51, far under the 0.95 threshold).
    def emb_neardup(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        dim = len(emb.first()["embedding"])
        planted = emb.filter(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
        aug = emb.select("vec_id", "embedding").unionByName(planted)
        return embedding_near_duplicates(aug, threshold=0.95, dim=dim,
                                         n_planes=12, n_bands=4).select(
            "id_a", "id_b", F.round("cosine", 3).alias("cosine"))
    q["dedup_embedding_neardup"] = emb_neardup

    # --- session_window sessionization (batch form of the streaming op) ----
    def session_window_batch(spark, sf_dir):
        from shacl_dqa_prototype_spark.streaming.stateful import (
            sessionize_session_window,
        )

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return sessionize_session_window(ev).select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events", "total_value")
    q["events_session_window"] = session_window_batch

    # --- STREAMING session_window: drain the same events through
    # readStream → session_window agg → memory sink (availableNow makes it
    # deterministic) — shares the batch oracle.
    def session_window_streaming(spark, sf_dir):
        import uuid as _uuid

        from shacl_dqa_prototype_spark.streaming.stateful import (
            run_streaming_sessionize,
        )

        res = run_streaming_sessionize(
            spark, _stream_dir_for(sf_dir, "events.parquet"),
            query_name=f"sess_{_uuid.uuid4().hex[:8]}")
        return res.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events", "total_value")
    q["kg_streaming_sessionize"] = session_window_streaming

    # --- snapshot-log table (Iceberg-analog): two atomic appends, then a
    # TIME-TRAVEL read of the first snapshot — the oracle re-derives the
    # first commit's contents from the raw table, so isolation of the
    # second commit from snapshot 1 is what's actually checked.
    def snapshot_time_travel(spark, sf_dir):
        import tempfile

        from shacl_dqa_prototype_spark.schemas import EVENTS_SCHEMA
        from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
            *[f.name for f in EVENTS_SCHEMA.fields])
        t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_"), EVENTS_SCHEMA)
        s1 = t.commit_append(ev.filter(F.col("user_id") % 3 == 0))
        t.commit_append(ev.filter(F.col("user_id") % 3 != 0))
        return t.read(s1).select("event_id", "user_id", "event_type", "value")
    q["snapshot_time_travel"] = snapshot_time_travel

    # --- training-pipeline composition ops (operators/pipeline.py) -------
    def pipe_pack(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import pack_sequences
        from shacl_dqa_prototype_spark.operators.textstats import token_count

        toks = token_count(_docs_flat(spark, sf_dir)).select(
            "doc_id", F.col("n_tokens_ws").alias("n_tokens"))
        # portable shard fn (doc_id % 8) so DuckDB reproduces placement;
        # the default is xxhash64 sharding
        return pack_sequences(toks, seq_len=512, shard_col=F.col("doc_id") % 8)
    q["pipe_pack_sequences"] = pipe_pack

    def pipe_sample(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import stratified_sample

        d = _docs_flat(spark, sf_dir).select("doc_id", "lang")
        return stratified_sample(
            d, "lang", {"en": 0.5, "es": 0.25, "de": 0.1, "zh": 0.1})
    q["pipe_stratified_sample"] = pipe_sample

    def pipe_redact(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import redact_pii

        d = _docs_flat(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 (555) 123-4567 at 192.168.0."),
                (F.col("doc_id") % 255).cast("string")).alias("text"))
        return redact_pii(d)
    q["pipe_redact_pii"] = pipe_redact

    def pipe_shuffle(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import global_shuffle

        d = _docs_flat(spark, sf_dir).select("doc_id", "lang")
        return global_shuffle(d, n_shards=8, seed=42)
    q["pipe_global_shuffle"] = pipe_shuffle

    def text_rep(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import (
            repetition_stats,
        )

        return repetition_stats(_docs_flat(spark, sf_dir))
    q["text_repetition"] = text_rep

    def text_vocab(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import (
            vocab_top_tokens,
        )

        return vocab_top_tokens(_docs_flat(spark, sf_dir),
                                top_k=50, min_count=2)
    q["text_vocab_top_tokens"] = text_vocab

    def text_divergence(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import (
            source_token_divergence,
        )

        return source_token_divergence(_docs_flat(spark, sf_dir))
    q["text_source_divergence"] = text_divergence

    def text_gate(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import quality_gate

        # word-soup corpus: raise the dup tolerance so the verdict mix is
        # non-degenerate (some keep, several distinct reason strings)
        return quality_gate(_docs_flat(spark, sf_dir),
                            max_dup_word_frac=0.82)
    q["text_quality_gate"] = text_gate

    def pipe_src_filter(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import (
            source_quality_filter,
        )

        return source_quality_filter(_docs_flat(spark, sf_dir),
                                     min_docs=10, min_mean_quality=0.79)
    q["pipe_source_filter"] = pipe_src_filter

    def dedup_dupfrac(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.dedup import (
            dup_ngram_fraction,
        )

        return dup_ngram_fraction(_docs_flat(spark, sf_dir), n=8)
    q["dedup_dup_ngram_fraction"] = dedup_dupfrac

    def dedup_novelty(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.dedup import ngram_novelty

        return ngram_novelty(_docs_flat(spark, sf_dir), n=8)
    q["dedup_ngram_novelty"] = dedup_novelty

    def text_lm(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import (
            unigram_logprob,
        )

        return unigram_logprob(_docs_flat(spark, sf_dir))
    q["text_unigram_logprob"] = text_lm

    def text_tfidf(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import (
            tfidf_top_terms,
        )

        return tfidf_top_terms(_docs_flat(spark, sf_dir), top_k=5)
    q["text_tfidf_top_terms"] = text_tfidf

    def text_cooc(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import (
            token_cooccurrence,
        )

        return token_cooccurrence(_docs_flat(spark, sf_dir),
                                  window=3, top_k=50)
    q["text_cooccurrence_pmi"] = text_cooc

    def sim_centroid(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.similarity import (
            centroid_cosine,
        )

        return centroid_cosine(_emb(spark, sf_dir), group_col="label")
    q["sim_centroid_cosine"] = sim_centroid

    def events_asof(spark, sf_dir):
        from pyspark.sql import Window as W

        from shacl_dqa_prototype_spark.operators.asof import asof_join

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        clicks = ev.filter("event_type = 'click'").select(
            "event_id", "user_id", "ts", "value")
        # right side must be unique per (user, ts) for deterministic ties:
        # keep the max event_id per instant (same rule as the oracle)
        views = ev.filter("event_type = 'view'").select(
            "event_id", "user_id", "ts", "value")
        w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
        vd = (views.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1").drop("rn"))
        out = asof_join(clicks, vd, on="ts", by=("user_id",),
                        right_cols=("event_id", "value"))
        # stringify timestamps for the cross-engine compare (pandas dtype
        # ns vs us — same convention as events_session_window)
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "value",
            F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_r"),
            "event_id_r", "value_r")
    q["events_asof_join"] = events_asof

    def events_asof_near(spark, sf_dir):
        from pyspark.sql import Window as W

        from shacl_dqa_prototype_spark.operators.asof import asof_join

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        clicks = ev.filter("event_type = 'click'").select(
            "event_id", "user_id", "ts", "value")
        views = ev.filter("event_type = 'view'").select(
            "event_id", "user_id", "ts", "value")
        w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
        vd = (views.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1").drop("rn"))
        out = asof_join(clicks, vd, on="ts", by=("user_id",),
                        right_cols=("event_id", "value"),
                        direction="nearest")
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "value",
            F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_r"),
            "event_id_r", "value_r")
    q["events_asof_nearest"] = events_asof_near

    def kg_khop(spark, sf_dir):
        import __spark_entry__ as core

        from shacl_dqa_prototype_spark.operators.traversal import (
            k_hop_reachability,
        )

        T = core._triples(spark, sf_dir)
        edges = T.filter(
            (F.col("o_kind") == "iri") & (F.col("p") != "rdf:type")
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
        seeds = spark.createDataFrame([("urn:nation:0",)], ["node"])
        return k_hop_reachability(edges, seeds, k=3, directed=False)
    q["kg_k_hop"] = kg_khop

    def kg_pr(spark, sf_dir):
        import __spark_entry__ as core

        from shacl_dqa_prototype_spark.operators.traversal import pagerank

        T = core._triples(spark, sf_dir)
        edges = T.filter(
            (F.col("o_kind") == "iri") & (F.col("p") != "rdf:type")
        ).select(F.col("s").alias("src"), F.col("o").alias("dst")).distinct()
        return pagerank(edges, damping=0.85, iterations=5)
    q["kg_pagerank"] = kg_pr

    def kg_triangles(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.traversal import (
            triangle_count,
        )

        _register(spark, sf_dir)
        return triangle_count(spark.sql(TRIANGLE_EDGES_SQL))
    q["kg_triangle_count"] = kg_triangles

    def pipe_chunk(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import (
            chunk_documents,
        )

        return chunk_documents(_docs_flat(spark, sf_dir),
                               chunk_tokens=32, overlap=8)
    q["pipe_chunk_documents"] = pipe_chunk

    def text_bm25(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.textstats import bm25_scores

        return bm25_scores(_docs_flat(spark, sf_dir), BM25_QUERY)
    q["text_bm25"] = text_bm25

    def kg_path(spark, sf_dir):
        import __spark_entry__ as core

        from shacl_dqa_prototype_spark.operators.traversal import (
            follow_property_path,
        )

        # supplier ^hasSupplier order hasCustomer customer inNation nation
        return follow_property_path(
            core._triples(spark, sf_dir),
            ["^urn:p:hasSupplier", "urn:p:hasCustomer", "urn:p:inNation"])
    q["kg_property_path"] = kg_path

    # --- C4/C5 contextual URI shapes + C30 nodeKind ranges: previously
    # pytest-only; these entries run the REAL compiled plan with the
    # gated configs/vocab kinds and oracle the violation sets exactly.
    def _ctx_violations(spark, sf_dir, metric):
        import dataclasses

        key = (id(spark), sf_dir)
        if key not in _CTX_V_CACHE:
            cfg = dataclasses.replace(
                CFG2,
                uri_regex_pattern=r"urn:d2:[a-z]+[/#][0-9]+$",
                uri_space="urn:d2:")
            plan = compile_data_constraints(
                _t2(spark, sf_dir), ENTRY_VOCAB2, [], cfg)
            _CTX_V_CACHE[key] = plan.violations.cache()
        return (_CTX_V_CACHE[key].filter(F.col("metric") == metric)
                .select("focus").distinct())

    q["shape2_uri_regex"] = (
        lambda s, d: _ctx_violations(s, d, "URIRegexComplianceEntities"))
    q["shape2_uri_space"] = (
        lambda s, d: _ctx_violations(s, d, "URISpaceComplianceEntities"))

    def shape_nodekind(spark, sf_dir):
        # madeBy: object_property ranged owl:Thing → nodeKind
        # BlankNodeOrIRI (literal objects violate); sameAs: rdf_property
        # ranged rdfs:Literal → nodeKind Literal (IRI objects violate)
        key = (id(spark), sf_dir)
        if key not in _NK_V_CACHE:
            vocab3 = [
                VocabTerm("urn:p2:madeBy", "object_property",
                          range="http://www.w3.org/2002/07/owl#Thing"),
                VocabTerm("urn:p2:sameAs", "rdf_property",
                          range=f"{RDFS}Literal", range_kind="literal"),
            ]
            plan = compile_data_constraints(
                _t2(spark, sf_dir), vocab3, [], CFG2)
            _NK_V_CACHE[key] = plan.violations.cache()
        return (_NK_V_CACHE[key].filter(F.col("metric") == "CorrectRange")
                .select("item", "focus").distinct())
    q["shape2_range_nodekind"] = shape_nodekind

    def snap_upsert(spark, sf_dir):
        import tempfile

        from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable

        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
        t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_upsert_"),
                          base.schema)
        t.commit_overwrite(base, bucket_col="o_orderkey", n_buckets=8)
        # merge 1: price bump on every 7th key (pure update)
        t.merge_upsert(orders.filter("o_orderkey % 7 = 0").select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice")),
            "o_orderkey")
        # merge 2: inserts (shifted keys) + updates overriding merge 1
        u2 = orders.filter("o_orderkey % 13 = 0").select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ).unionByName(orders.filter("o_orderkey % 21 = 0").select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 5000).alias("o_totalprice")))
        t.merge_upsert(u2, "o_orderkey")
        return t.read()
    q["snapshot_merge_upsert"] = snap_upsert

    def snap_delete(spark, sf_dir):
        # keyed row-level DELETE after an upsert: the erased keys must be
        # gone, the upsert must survive on the rest — state re-derived
        # declaratively by the oracle
        import tempfile

        from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable

        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
        t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_delete_"),
                          base.schema)
        t.commit_overwrite(base, bucket_col="o_orderkey", n_buckets=8)
        t.merge_upsert(orders.filter("o_orderkey % 7 = 0").select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice")),
            "o_orderkey")
        t.merge_delete(
            orders.filter("o_orderkey % 9 = 0").select("o_orderkey"),
            "o_orderkey")
        return t.read()
    q["snapshot_merge_delete"] = snap_delete

    def dedup_best(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.dedup import (
            exact_duplicate_clusters,
            keep_best_per_cluster,
        )

        # plant dup copies (same scheme as dedup_cluster_exact: every
        # 10th doc re-appears under a shifted id) — the raw corpus has no
        # exact dups at sf0.01, which would make this a 0-row no-test
        d = _docs_flat(spark, sf_dir).select("doc_id", "text")
        d = d.unionByName(d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
        # synthetic quality varying WITHIN exact-dup clusters (identical
        # text ⇒ identical heuristic quality, which would degenerate the
        # policy to min-id); both engines reproduce it trivially
        qual = d.select("doc_id",
                        (F.col("doc_id") * 37 % 101).alias("quality"))
        return keep_best_per_cluster(exact_duplicate_clusters(d), qual)
    q["dedup_keep_best"] = dedup_best

    def pipe_mixture(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.pipeline import mixture_plan

        return mixture_plan(_docs_flat(spark, sf_dir),
                            {"en": 0.5, "es": 0.2, "de": 0.2, "zh": 0.1})
    q["pipe_mixture_plan"] = pipe_mixture

    def events_rolling(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.features import (
            rolling_window_features,
        )

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
            "event_id", "user_id", "ts", "value")
        out = rolling_window_features(ev, window_s=3600)
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "value", "cnt_3600s", "sum_value_3600s")
    q["events_rolling_1h"] = events_rolling

    def events_funnel(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.features import (
            funnel_conversion,
        )

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # 7-step alternating funnel: mixed outcomes at sf0.01 (148/2)
        return funnel_conversion(ev, FUNNEL_STEPS)
    q["events_funnel"] = events_funnel

    # --- STREAMING funnel: the same events arrive as a TIME-PARTITIONED
    # file stream (4 range files, one per microbatch) and fold through the
    # O(1)-state funnel; the final per-key state must equal the batch
    # funnel_conversion — shares the events_funnel oracle. Time
    # partitioning is the arrival-order contract the depth-only state
    # documents (streaming/stateful.py).
    def events_funnel_streaming(spark, sf_dir):
        import uuid as _uuid

        from shacl_dqa_prototype_spark.streaming.stateful import (
            run_streaming_funnel,
        )

        return run_streaming_funnel(
            spark, _funnel_stream_dir(spark, sf_dir), FUNNEL_STEPS,
            query_name=f"funnel_{_uuid.uuid4().hex[:8]}")
    q["kg_streaming_funnel"] = events_funnel_streaming

    def events_interval(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.asof import interval_join

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        errors = ev.filter(F.col("event_type") == "error").select(
            "user_id", F.col("event_id").alias("err_id"),
            F.col("ts").alias("err_ts"))
        others = ev.select("user_id", "event_id", "ts", "event_type")
        return interval_join(
            errors, others, lower_s=60, upper_s=1860,
            by=("user_id",), left_ts="err_ts", right_ts="ts",
        ).select("user_id", "err_id", "event_id", "event_type")
    q["events_interval_join"] = events_interval

    def events_cube(spark, sf_dir):
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return (
            ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .cube("event_type", "day")
            .agg(F.grouping_id().cast("int").alias("gid"),
                 F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("event_type", "day", "gid", "n", "sum_value")
        )
    q["events_cube"] = events_cube

    def events_pivot(spark, sf_dir):
        # pivot with an EXPLICIT value list: Spark then skips the extra
        # distinct-values job and the output schema is deterministic
        # (the 100 TB discipline — an implicit pivot scans the data twice
        # and can explode the column count)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        types = ["click", "error", "purchase", "signup", "view"]
        return (
            ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .groupBy("day")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .select("day", *[F.coalesce(F.col(t), F.lit(0)).alias(t)
                             for t in types])
        )
    q["events_pivot"] = events_pivot

    def events_hist(spark, sf_dir):
        from shacl_dqa_prototype_spark.operators.features import (
            value_histogram,
        )

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return value_histogram(ev, lo=0.0, hi=200.0, n_bins=8)
    q["events_value_histogram"] = events_hist

    # STREAMING CDC: the same base/u1/u2 change feed as
    # snapshot_merge_upsert arrives as one file per microbatch (mtime-
    # ordered); the folded table must equal the declarative SQL merge —
    # the entry shares that oracle verbatim.
    def kg_streaming_upsert(spark, sf_dir):
        key = (id(spark), sf_dir)
        if key not in _SUP_CACHE:
            import tempfile

            from shacl_dqa_prototype_spark.sources.snapshots import (
                SnapshotTable,
            )
            from shacl_dqa_prototype_spark.streaming.ingest import (
                start_streaming_upsert,
                write_ordered_epochs,
            )

            orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
            u1 = orders.filter("o_orderkey % 7 = 0").select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") + 1000).alias("o_totalprice"))
            u2 = orders.filter("o_orderkey % 13 = 0").select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
            ).unionByName(orders.filter("o_orderkey % 21 = 0").select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") + 5000).alias("o_totalprice")))
            root = tempfile.mkdtemp(prefix="sup_")
            in_dir = os.path.join(root, "in")
            write_ordered_epochs((base, u1, u2), in_dir)
            tbl = SnapshotTable(spark, os.path.join(root, "tbl"), base.schema)
            start_streaming_upsert(
                spark, in_dir + "/*", tbl, "o_orderkey", base.schema,
                os.path.join(root, "ckpt"), max_files_per_trigger=1,
            ).awaitTermination()
            _SUP_CACHE[key] = tbl.read().cache()
        return _SUP_CACHE[key]
    q["kg_streaming_upsert"] = kg_streaming_upsert

    # STREAMING NEAR-DUP: the corpus arrives in batches; each batch is
    # matched against the accumulated LSH index then folded in. The union
    # of per-epoch pairs must equal batch minhash_lsh_candidates over the
    # whole corpus — shares the dedup_minhash_lsh oracle verbatim.
    def kg_streaming_neardup(spark, sf_dir):
        key = (id(spark), sf_dir)
        if key not in _SND_CACHE:
            import tempfile

            from pyspark.sql.types import (
                IntegerType,
                LongType,
                StructField,
                StructType,
            )
            from shacl_dqa_prototype_spark.sources.snapshots import (
                SnapshotTable,
            )
            from shacl_dqa_prototype_spark.streaming.ingest import (
                start_streaming_neardup,
                write_ordered_epochs,
            )

            d = _docs_flat(spark, sf_dir)
            root = tempfile.mkdtemp(prefix="snd_")
            in_dir = os.path.join(root, "in")
            # two mtime-ordered halves => the index path actually runs
            # (second epoch matches against the first's stored buckets)
            write_ordered_epochs((d.filter("doc_id % 2 = 0"),
                                  d.filter("doc_id % 2 = 1")), in_dir)
            idx_schema = StructType([
                StructField("doc_id", LongType(), True),
                StructField("band", IntegerType(), True),
                StructField("bucket", LongType(), True)])
            index = SnapshotTable(spark, os.path.join(root, "idx"),
                                  idx_schema)
            pairs_schema = StructType([
                StructField("doc_a", LongType(), True),
                StructField("doc_b", LongType(), True)])
            pairs = SnapshotTable(spark, os.path.join(root, "pairs"),
                                  pairs_schema)
            start_streaming_neardup(
                spark, in_dir + "/*", index, pairs,
                os.path.join(root, "ckpt"), n=5, portable=True,
                schema=d.schema, max_files_per_trigger=1,
            ).awaitTermination()
            _SND_CACHE[key] = pairs.read().distinct().cache()
        return _SND_CACHE[key]
    q["kg_streaming_neardup"] = kg_streaming_neardup

    def kg_streaming_novelty(spark, sf_dir):
        # online novelty-at-ingest == batch ngram_novelty when epochs
        # arrive in id order (the operator's documented parity contract):
        # two id-ordered, mtime-ordered halves force the second epoch to
        # score against the first's STORED index, not a warm cache
        key = (id(spark), sf_dir)
        if key not in _SNV_CACHE:
            import tempfile

            from pyspark.sql.types import (
                DoubleType,
                LongType,
                StructField,
                StructType,
            )
            from shacl_dqa_prototype_spark.sources.snapshots import (
                SnapshotTable,
            )
            from shacl_dqa_prototype_spark.streaming.ingest import (
                start_streaming_novelty,
                write_ordered_epochs,
            )

            d = _docs_flat(spark, sf_dir)
            half = (d.agg(F.max("doc_id")).first()[0] + 1) // 2
            root = tempfile.mkdtemp(prefix="snv_")
            in_dir = os.path.join(root, "in")
            write_ordered_epochs((d.filter(F.col("doc_id") < half),
                                  d.filter(F.col("doc_id") >= half)), in_dir)
            idx_schema = StructType([
                StructField("ng", LongType(), True),
                StructField("first_doc", LongType(), True)])
            index = SnapshotTable(spark, os.path.join(root, "idx"),
                                  idx_schema)
            res_schema = StructType([
                StructField("doc_id", LongType(), True),
                StructField("n_distinct", LongType(), False),
                StructField("novel", LongType(), False),
                StructField("novel_frac", DoubleType(), False)])
            results = SnapshotTable(spark, os.path.join(root, "res"),
                                    res_schema)
            start_streaming_novelty(
                spark, in_dir + "/*", index, results,
                os.path.join(root, "ckpt"), n=8,
                schema=d.schema, max_files_per_trigger=1,
            ).awaitTermination()
            _SNV_CACHE[key] = results.read().distinct().cache()
        return _SNV_CACHE[key]
    q["kg_streaming_novelty"] = kg_streaming_novelty

    # --- incremental DQA: fold the triple view in as TWO snapshot appends,
    # derive families from the merged state + monotone log — every entry
    # must equal the batch plan AND the corresponding batch oracle. State
    # is built once per (session, sf_dir, corpus) and shared.
    def _incremental(which, metric, with_item=False, item=None):
        def run(spark, sf_dir):
            v = _inc_violations(spark, sf_dir, which)
            v = v.filter(F.col("metric") == metric)
            if item:
                v = v.filter(F.col("item") == item)
            cols = ["item", "focus"] if with_item else ["focus"]
            return v.select(*cols).distinct()
        return run

    q["incremental_dqa_label"] = _incremental("core", "LabelForEntities")
    # append-monotone tier (shares shape2_correct_range_dt / shape2_misuse_dt)
    q["incremental_dqa_range"] = _incremental("t2", "CorrectRange")
    q["incremental_dqa_misuse"] = _incremental(
        "t2", "MisuseOwlDatatypeProperties", with_item=True)
    # retractable anti-join tier: state ⋈ state derivations (share the
    # batch families' oracles)
    q["incremental_dqa_domain"] = _incremental("t2", "CorrectDomain")
    q["incremental_dqa_range_cls"] = _incremental(
        "core", "CorrectRange", item="urn:p:hasCustomer")
    q["incremental_dqa_disjoint"] = _incremental(
        "core", "EntitiesDisjointClasses")
    q["incremental_dqa_asymmetric"] = _incremental(
        "core", "AsymmetricProperty")

    # the full SCORED report re-derived from state alone (violations,
    # denominators, shape specs — no triple scan); same filter/columns as
    # the batch dqa_scores entry, whose oracle it shares
    def inc_scores(spark, sf_dir):
        from shacl_dqa_prototype_spark.plans.incremental import (
            score_from_state,
        )

        state, cfg, vocab, disjoint = _inc_state(spark, sf_dir, "core")
        rep = score_from_state(state, vocab, cfg, disjoint_pairs=disjoint)
        return rep.filter(
            F.col("metric").isin("FunctionalProperty", "LabelForEntities",
                                 "UsageHashURIsEntities")
            & (F.col("score_kind") != "meta")
        ).select("metric", "item", F.round("measure", 6).alias("measure"),
                 "num_violations")
    q["incremental_dqa_scores"] = inc_scores

    # state MAINTENANCE is contents-preserving: after vacuum() (compact +
    # expire across all 7 tables, applied delta_ids carried forward in the
    # compaction record) the state-derived triples-per-property must still
    # equal the batch profile oracle — r5, the bounded-growth half is
    # measured in bench.py --streaming
    def inc_vacuum(spark, sf_dir):
        from shacl_dqa_prototype_spark.plans.incremental import (
            profile_from_state,
        )

        state, _, _, _ = _inc_state(spark, sf_dir, "core")
        state.vacuum(orphan_grace_s=0.0)
        assert all(len(t.snapshots()) <= 1
                   for t in state.tables().values())
        return profile_from_state(state).triples_per_property.select(
            "p", F.col("num_triples").cast("long"))
    q["incremental_dqa_vacuum"] = inc_vacuum

    # --- STREAMING DQA: the same corpus arrives as a triple STREAM and is
    # folded into the incremental state per microbatch (foreachBatch →
    # apply_delta, (run, epoch)-idempotent). Shares the batch family oracle.
    def streaming_dqa(spark, sf_dir):
        v = _streaming_dqa_violations(spark, sf_dir)
        return (v.filter(F.col("metric") == "LabelForEntities")
                .select("focus").distinct())
    q["streaming_dqa_label"] = streaming_dqa

    return q


_SDQA_CACHE: dict[tuple[int, str], DataFrame] = {}
_SUP_CACHE: dict[tuple[int, str], DataFrame] = {}
_CTX_V_CACHE: dict[tuple[int, str], DataFrame] = {}
_SND_CACHE: dict[tuple[int, str], DataFrame] = {}
_SNV_CACHE: dict[tuple[int, str], DataFrame] = {}
# depth-k prefix regexes re-derive the funnel fold: a subsequence prefix of
# length k matched <=> depth >= k
FUNNEL_STEPS = ["purchase", "error", "purchase", "error", "purchase",
                "error", "purchase"]
_NK_V_CACHE: dict[tuple[int, str], DataFrame] = {}


def _streaming_dqa_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violations derived from a state built ENTIRELY by the streaming DQA
    path: the core triple view is landed as parquet appends, drained with
    availableNow, and every constraint family is read back off the state."""
    key = (id(spark), sf_dir)
    if key not in _SDQA_CACHE:
        import tempfile

        import __spark_entry__ as core
        from shacl_dqa_prototype_spark.plans.incremental import (
            IncrementalDQAState,
            violations_from_state,
        )
        from shacl_dqa_prototype_spark.streaming.ingest import (
            start_streaming_dqa,
        )

        T = core._triples(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="sdqa_")
        in_dir = os.path.join(base, "in")
        split = F.abs(F.xxhash64("s")) % 2 == 0
        T.filter(split).write.mode("append").parquet(in_dir)
        T.filter(~split).write.mode("append").parquet(in_dir)
        state = IncrementalDQAState.open(spark, os.path.join(base, "state"))
        start_streaming_dqa(
            spark, in_dir, state, core.ENTRY_CFG, core.ENTRY_VOCAB,
            checkpoint_dir=os.path.join(base, "ckpt"),
        ).awaitTermination()
        _SDQA_CACHE[key] = violations_from_state(
            state, core.ENTRY_VOCAB, core.ENTRY_CFG,
            disjoint_pairs=core.ENTRY_DISJOINT).cache()
    return _SDQA_CACHE[key]


_INC_STATE_CACHE: dict[tuple[int, str, str], tuple] = {}
_INC_V_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _inc_state(spark: SparkSession, sf_dir: str, which: str) -> tuple:
    """(state, cfg, vocab, disjoint) over the core or T2 corpus, built by
    TWO apply_delta appends into a fresh state dir — cached per
    (session, sf_dir, corpus) so the incremental contract entries fold the
    corpus once, not once each."""
    key = (id(spark), sf_dir, which)
    if key not in _INC_STATE_CACHE:
        import tempfile

        import __spark_entry__ as core
        from shacl_dqa_prototype_spark.plans.incremental import (
            IncrementalDQAState,
            apply_delta,
        )

        if which == "core":
            T, cfg, vocab, disjoint = (core._triples(spark, sf_dir),
                                       core.ENTRY_CFG, core.ENTRY_VOCAB,
                                       core.ENTRY_DISJOINT)
        else:
            T, cfg, vocab, disjoint = _t2(spark, sf_dir), CFG2, ENTRY_VOCAB2, []
        state = IncrementalDQAState.open(
            spark, tempfile.mkdtemp(prefix=f"incdqa_{which}_"))
        split = F.abs(F.xxhash64("s")) % 2 == 0
        apply_delta(state, T.filter(split), cfg, vocab, delta_id="d1")
        apply_delta(state, T.filter(~split), cfg, vocab, delta_id="d2")
        _INC_STATE_CACHE[key] = (state, cfg, vocab, disjoint)
    return _INC_STATE_CACHE[key]


def _inc_violations(spark: SparkSession, sf_dir: str, which: str) -> DataFrame:
    """State-derived violations, cached per (session, sf_dir, corpus)."""
    key = (id(spark), sf_dir, which)
    if key not in _INC_V_CACHE:
        from shacl_dqa_prototype_spark.plans.incremental import (
            violations_from_state,
        )

        state, cfg, vocab, disjoint = _inc_state(spark, sf_dir, which)
        _INC_V_CACHE[key] = violations_from_state(
            state, vocab, cfg, disjoint_pairs=disjoint).cache()
    return _INC_V_CACHE[key]


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def ext_oracles() -> dict[str, str]:
    o: dict[str, str] = {}

    o["shape2_external_uris"] = """
    SELECT DISTINCT concat('urn:d2:supp/', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 4 = 0"""

    # C2 violations = '#' URIs plus blank-node entities (sh:pattern fails
    # for bnodes — pizza-golden parity semantics); rdfs:Class-typed seeds
    # stay exempt.
    o["shape2_hash_uris_exempt"] = f"""
    SELECT concat('urn:d2:reg#', r_regionkey) AS focus FROM region
    UNION
    SELECT DISTINCT {PART_S} FROM part
    WHERE p_partkey % 19 = 0 AND p_partkey % 17 <> 0"""

    o["shape2_schema_completeness"] = """
    SELECT 'urn:c2:Unused' AS focus"""

    # C4: entities failing ^urn:d2:[a-z]+[/#][0-9]+$ — query-string parts,
    # bnode parts (pattern constraints always fail bnodes), long-URI parts
    o["shape2_uri_regex"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part
    WHERE p_partkey % 17 = 0
       OR (p_partkey % 19 = 0 AND p_partkey % 17 <> 0)
       OR (p_partkey % 13 = 0 AND p_partkey % 17 <> 0
           AND p_partkey % 19 <> 0)"""

    # C5: entities outside the urn:d2: URI space — only the bnode parts
    o["shape2_uri_space"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part
    WHERE p_partkey % 19 = 0 AND p_partkey % 17 <> 0"""

    # C30: madeBy (nodeKind BlankNodeOrIRI) violated by the literal-object
    # rows; sameAs (nodeKind Literal) violated by EVERY row — both CASE
    # branches of the sameAs seed emit IRIs
    o["shape2_range_nodekind"] = """
    SELECT DISTINCT 'urn:p2:madeBy' AS item,
           concat('urn:d2:supp/', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 9 = 0
    UNION
    SELECT 'urn:p2:sameAs', concat('urn:d2:supp/', s_suppkey)
    FROM supplier"""

    # long URIs plus bnode entities (sh:maxLength fails for bnodes)
    o["shape2_uris_length"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part
    WHERE p_partkey % 13 = 0 AND p_partkey % 17 <> 0 AND p_partkey % 19 <> 0
    UNION
    SELECT DISTINCT {PART_S} FROM part
    WHERE p_partkey % 19 = 0 AND p_partkey % 17 <> 0"""

    o["shape2_uris_params"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part WHERE p_partkey % 17 = 0"""

    o["shape2_prolix"] = """
    SELECT DISTINCT concat('urn:d2:supp/', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 7 = 0"""

    o["shape2_langs_labels"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part WHERE p_partkey % 2 <> 0"""

    o["shape2_bnodes"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part
    WHERE p_partkey % 19 = 0 AND p_partkey % 17 <> 0"""

    o["shape2_selfdescr_props"] = f"""
    SELECT DISTINCT * FROM (
      SELECT '{RDFS_LABEL_IRI}' AS item, p_name AS focus FROM part
      UNION ALL SELECT 'urn:p2:weight',
        CASE WHEN p_partkey % 31 = 0 THEN concat('w', p_partkey)
             ELSE concat(p_partkey, '.5') END
      FROM part WHERE p_partkey % 37 <> 0
      UNION ALL SELECT 'urn:p2:oldCode', concat('c', p_partkey)
      FROM part WHERE p_partkey % 23 = 0
      UNION ALL SELECT 'urn:p2:weight', concat(s_suppkey, '.5')
      FROM supplier WHERE s_suppkey % 8 = 0
      UNION ALL SELECT 'urn:p2:madeBy', concat('maker ', s_suppkey)
      FROM supplier WHERE s_suppkey % 9 = 0
      UNION ALL SELECT 'urn:p2:ghostProp', concat('g', r_regionkey) FROM region
      UNION ALL SELECT 'urn:c2:Part', concat('x', n_nationkey) FROM nation
    )"""

    o["shape2_misplaced_props"] = """
    SELECT 'urn:p2:weight' AS focus"""

    o["shape2_misplaced_classes"] = """
    SELECT DISTINCT concat('urn:d2:mc/', n_nationkey) AS focus FROM nation"""

    o["shape2_misuse_obj"] = """
    SELECT DISTINCT 'urn:p2:madeBy' AS item,
           concat('urn:d2:supp/', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 9 = 0"""

    o["shape2_misuse_dt"] = f"""
    SELECT DISTINCT 'urn:p2:weight' AS item, {PART_S} AS focus
    FROM part WHERE p_partkey % 37 = 0"""

    o["shape2_deprecated_classes"] = """
    SELECT DISTINCT concat('urn:d2:supp/', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 11 = 0"""

    o["shape2_deprecated_props"] = f"""
    SELECT DISTINCT 'urn:p2:oldCode' AS item, {PART_S} AS focus
    FROM part WHERE p_partkey % 23 = 0"""

    o["shape2_correct_domain"] = """
    SELECT DISTINCT concat('urn:d2:supp/', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 8 = 0"""

    o["shape2_correct_range_dt"] = f"""
    SELECT DISTINCT {PART_S} AS focus FROM part
    WHERE p_partkey % 31 = 0 AND p_partkey % 37 <> 0
    UNION
    SELECT DISTINCT {PART_S} FROM part WHERE p_partkey % 37 = 0"""

    # D4 meta rollups: per-family share of items with measure 1 + summed
    # violation counts, derived from the same arithmetic seeds.
    o["dqa2_meta_rollup"] = """
    WITH
    mo AS (SELECT count(DISTINCT s_suppkey) AS nv FROM supplier WHERE s_suppkey % 9 = 0),
    md AS (SELECT count(DISTINCT p_partkey) AS nv FROM part WHERE p_partkey % 37 = 0),
    cd AS (SELECT count(DISTINCT s_suppkey) AS nv FROM supplier WHERE s_suppkey % 8 = 0),
    cr AS (SELECT count(DISTINCT p_partkey) AS nv FROM part
           WHERE (p_partkey % 31 = 0 AND p_partkey % 37 <> 0) OR p_partkey % 37 = 0),
    dp AS (SELECT count(DISTINCT p_partkey) AS nv FROM part WHERE p_partkey % 23 = 0)
    SELECT 'MisuseOwlObjectProperties' AS metric, CAST(0.5 AS DOUBLE) AS measure,
           (SELECT nv FROM mo) AS num_violations
    UNION ALL SELECT 'MisuseOwlDatatypeProperties', 0.0, (SELECT nv FROM md)
    UNION ALL SELECT 'CorrectDomain', 0.0, (SELECT nv FROM cd)
    UNION ALL SELECT 'CorrectRange', 0.0, (SELECT nv FROM cr)
    UNION ALL SELECT 'DeprecatedProperties', 0.0, (SELECT nv FROM dp)"""

    o["profile_entity_features"] = """
    SELECT (SELECT count(DISTINCT n_nationkey) FROM nation) AS n_interlinking,
           (SELECT count(*) FROM (
              SELECT concat('urn:cust:', c_custkey) AS s FROM customer
              WHERE c_custkey % 2 = 0
              UNION SELECT concat('urn:nation:', n_nationkey) FROM nation))
           AS n_label,
           0 AS n_description"""

    o["profile_namespace"] = f"""
    WITH triples2 AS ({TRIPLES2_SQL}),
    ns AS (
      SELECT ns FROM (
        SELECT CASE WHEN contains(s, '#')
                    THEN regexp_extract(s, '^(.*#)', 1)
                    ELSE regexp_extract(s, '^(.*/)', 1) END AS ns
        FROM triples2 WHERE left(s, 2) <> '_:')
      WHERE ns <> ''
    )
    SELECT ns FROM ns GROUP BY ns ORDER BY count(*) DESC, ns LIMIT 1"""

    o["profile_literal_datatypes"] = f"""
    WITH triples2 AS ({TRIPLES2_SQL})
    SELECT coalesce(
             o_dtype,
             CASE WHEN o_lang IS NOT NULL
                  THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'
             END,
             'http://www.w3.org/2001/XMLSchema#string') AS datatype,
           count(*) AS num_literals,
           count(DISTINCT p) AS num_properties
    FROM triples2 WHERE o_kind = 'literal'
    GROUP BY datatype"""

    # bucket via integer bit length (len(bin(d))-1), NOT floor(log2(d)) —
    # exact in both engines at powers of two where float log2 can straddle
    o["profile_degree_distribution"] = f"""
    WITH triples2 AS ({TRIPLES2_SQL}),
    nodes AS (
      SELECT s AS node, 1 AS od, 0 AS id_ FROM triples2
      UNION ALL
      SELECT o, 0, 1 FROM triples2 WHERE o_kind = 'iri'),
    deg AS (
      SELECT node, CAST(sum(od) + sum(id_) AS BIGINT) AS degree
      FROM nodes GROUP BY node)
    SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
           count(*) AS n_nodes,
           min(degree) AS min_degree,
           max(degree) AS max_degree
    FROM deg GROUP BY bucket"""

    # B11 golden merge output (hand-verified against utils.py:684-795
    # semantics: whitelist predicates, excluded subjects, derived typing).
    o["tbox_merge"] = f"""
    SELECT * FROM (VALUES
      ('urn:v3:Widget', '{_RDF_TYPE}', '{OWL}Class'),
      ('urn:v3:partOf', '{_RDF_TYPE}', '{OWL}ObjectProperty'),
      ('urn:v3:partOf', '{RDFS}domain', 'urn:v3:Widget'),
      ('urn:v3:partOf', '{RDFS}range', 'urn:v3:Widget'),
      ('urn:v3:weight', '{_RDF_TYPE}', '{OWL}DatatypeProperty'),
      ('urn:v3:Gadget', '{RDFS}subClassOf', 'urn:v3:Widget'),
      ('urn:v3:w1', '{_RDF_TYPE}', 'urn:v3:Widget'),
      ('urn:v3:Color', '{_RDF_TYPE}', '{RDFS}Datatype'),
      ('urn:v3:Widget', '{_RDF_TYPE}', '{RDFS}Class'),
      ('urn:v3:partOf', '{_RDF_TYPE}', '{RDF}Property'),
      ('urn:v3:weight', '{_RDF_TYPE}', '{RDF}Property'),
      ('urn:v3:Gadget', '{_RDF_TYPE}', '{RDFS}Class'),
      ('urn:v3:w1', '{_RDF_TYPE}', '{OWL}NamedIndividual'),
      ('urn:v3:Color', '{_RDF_TYPE}', '{RDFS}Class')
    ) AS t(s, p, o)"""

    # C33-C36: each measure re-derived from the shared VALUES table with
    # the shape semantics (minCount/kind/class/sh:in/sequence path).
    o["metadata_dqa"] = f"""
    WITH md AS ({METADATA_SQL}),
    ds AS (SELECT s FROM md WHERE p = '{_RDF_TYPE}' AND o = '{_VOID}Dataset')
    SELECT 'PresenceMetadata' AS metric, CAST(CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}title' AND s IN (SELECT s FROM ds))
        AND EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}description' AND s IN (SELECT s FROM ds))
        AND EXISTS(SELECT 1 FROM md WHERE p = '{_FOAF}homepage' AND s IN (SELECT s FROM ds))
        AND NOT EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}title' AND o_kind <> 'literal' AND s IN (SELECT s FROM ds))
        AND NOT EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}description' AND o_kind <> 'literal' AND s IN (SELECT s FROM ds))
        AND NOT EXISTS(SELECT 1 FROM md WHERE p = '{_FOAF}homepage' AND o_kind <> 'iri' AND s IN (SELECT s FROM ds))
        THEN 1.0 ELSE 0.0 END AS DOUBLE) AS measure
    UNION ALL SELECT 'ExemplaryResources', CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}exampleResource') THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'VocabularyExistence', CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}vocabulary') THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'URIRegexPressence', CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}uriRegexPattern') THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'URISpacePressence', CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}uriSpace')
        AND NOT EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}uriSpace' AND o_kind <> 'literal')
        THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'MachineReadableLicense', CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}license')
        AND NOT EXISTS(SELECT 1 FROM md lic WHERE lic.p = '{_DCT}license'
             AND NOT EXISTS(SELECT 1 FROM md t WHERE t.s = lic.o
                  AND t.p = '{_RDF_TYPE}' AND t.o = '{_DCT}LicenseDocument'))
        THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'SerializationFormats', CASE WHEN
        (SELECT count(*) FROM md WHERE p = '{_VOID}feature') BETWEEN 1 AND 5
        AND NOT EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}feature'
             AND o NOT IN ('http://www.w3.org/ns/formats/N3',
                           'http://www.w3.org/ns/formats/N-Triples',
                           'http://www.w3.org/ns/formats/RDF_XML',
                           'http://www.w3.org/ns/formats/RDFa',
                           'http://www.w3.org/ns/formats/Turtle'))
        THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'AvailabilityDump', CASE WHEN
        EXISTS(SELECT 1 FROM md WHERE p = '{_VOID}dataDump')
        OR EXISTS(SELECT 1 FROM md d JOIN md u ON u.s = d.o
                  WHERE d.p = '{_DCAT}distribution' AND u.p = '{_DCAT}downloadURL')
        THEN 1.0 ELSE 0.0 END
    UNION ALL SELECT 'AuthenticityOfDataset', CASE WHEN
        (EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}source')
         OR EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}provenance'))
        AND (EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}contributor')
         OR EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}creator')
         OR EXISTS(SELECT 1 FROM md WHERE p = '{_DCT}publisher'))
        THEN 1.0 ELSE 0.0 END"""

    # C37-C40 golden (seeds are constants: Ghost class + ghostProp +
    # misplaced-class predicate are the only undefined terms).
    o["vocab_shapes_dqa"] = """
    SELECT target, metric, item, CAST(m AS DOUBLE) AS measure,
           CAST(nv AS BIGINT) AS num_violations
    FROM (VALUES
      ('vocab:c2', 'LabelForClasses', CAST(NULL AS VARCHAR), 0.4, CAST(3 AS BIGINT)),
      ('vocab:c2', 'LabelForProperties', NULL, 1.0, 0),
      ('vocab:c2', 'UndefinedClass', 'urn:c2:Ghost', 0.0, 1),
      ('vocab:c2', 'UndefinedClass', 'urn:c2:Obsolete', 1.0, 0),
      ('vocab:c2', 'UndefinedClass', 'urn:c2:Part', 1.0, 0),
      ('vocab:c2', 'UndefinedClass', 'urn:c2:Region', 1.0, 0),
      ('vocab:c2', 'UndefinedClass', 'urn:c2:Supplier', 1.0, 0),
      ('vocab:c2', 'UndefinedProperty', 'urn:c2:Part', 0.0, 1),
      ('vocab:c2', 'UndefinedClass', NULL, 0.8, 1),
      ('vocab:c2', 'UndefinedProperty', NULL, 0.0, 1),
      ('vocab:p2', 'LabelForClasses', NULL, 1.0, 0),
      ('vocab:p2', 'LabelForProperties', NULL, 0.5, 2),
      ('vocab:p2', 'UndefinedClass', 'urn:p2:weight', 0.0, 1),
      ('vocab:p2', 'UndefinedClass', NULL, 0.0, 1),
      ('vocab:p2', 'UndefinedProperty', 'urn:p2:ghostProp', 0.0, 1),
      ('vocab:p2', 'UndefinedProperty', 'urn:p2:madeBy', 1.0, 0),
      ('vocab:p2', 'UndefinedProperty', 'urn:p2:oldCode', 1.0, 0),
      ('vocab:p2', 'UndefinedProperty', 'urn:p2:sameAs', 1.0, 0),
      ('vocab:p2', 'UndefinedProperty', 'urn:p2:weight', 1.0, 0),
      ('vocab:p2', 'UndefinedProperty', NULL, 0.8, 1)
    ) AS t(target, metric, item, m, nv)"""

    # A1: the round-trip must reproduce the original triple view exactly
    from __spark_entry__ import TRIPLES_SQL as _CORE_TRIPLES_SQL

    o["rdf_ntriples_roundtrip"] = f"""
    WITH triples AS ({_CORE_TRIPLES_SQL})
    SELECT s, p, o, o_kind, o_dtype FROM triples"""

    # A1b: the distributed-Turtle round-trip must also reproduce it exactly
    o["rdf_turtle_roundtrip"] = f"""
    WITH triples AS ({_CORE_TRIPLES_SQL})
    SELECT s, p, o, o_kind, o_dtype FROM triples"""

    # E1: flat rows re-derived directly from the raw documents table.
    o["kg_span_explode"] = """
    SELECT doc_id, 0 AS span_pos, 'text' AS kind,
           concat('D', doc_id, ' is located in ', upper(source), '.') AS text,
           CAST(NULL AS VARCHAR) AS media_ref
    FROM documents
    UNION ALL
    SELECT doc_id, 1, 'image', NULL, concat('img://', doc_id)
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END, 'audio',
           NULL, concat('aud://', doc_id)
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id,
           1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
             + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END,
           'video', NULL, concat('vid://', doc_id)
    FROM documents WHERE doc_id % 7 = 0"""

    o["kg_span_invariant"] = """
    SELECT count(*) AS n_docs, CAST(0 AS BIGINT) AS n_bad FROM documents"""

    # fake decode (operators/multimodal.py): payload = ascii-hex
    # sha256(ref)*4, d = sha256(payload) — byte-reproducible in DuckDB as
    # sha256(repeat(sha256(ref), 4)); byte k parsed from the hex digest
    def hexbyte(k: int) -> str:
        return (f"(strpos('0123456789abcdef', substr(dh,{2*k+1},1))-1)*16"
                f" + strpos('0123456789abcdef', substr(dh,{2*k+2},1))-1")

    _media_decoded = f"""
    WITH spans AS (
      SELECT doc_id, 1 AS span_pos, 'image' AS kind,
             concat('img://', doc_id) AS media_ref
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END, 'audio',
             concat('aud://', doc_id)
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id,
             1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
               + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END,
             'video', concat('vid://', doc_id)
      FROM documents WHERE doc_id % 7 = 0
    ), dec AS (
      SELECT *, sha256(repeat(sha256(media_ref), 4)) AS dh FROM spans
    ), feat AS (
      SELECT doc_id, span_pos, kind, media_ref,
             64 + ({hexbyte(0)}) % 192 AS width,
             64 + ({hexbyte(1)}) % 192 AS height,
             CASE WHEN kind = 'image' THEN 1
                  ELSE 1 + ({hexbyte(2)}) % 300 END AS n_frames
      FROM dec
    )"""

    o["kg_media_features"] = _media_decoded + """
    SELECT doc_id, span_pos, kind, media_ref, width, height, n_frames
    FROM feat"""

    # media exact-dedup: payload re-derived as repeat(sha256(ref), 4) (the
    # materialize_media pseudo-payload contract); canonical = smallest
    # (doc_id AS VARCHAR, span_pos) because the media table's doc_id is a
    # string — the Spark min(struct) is lexicographic on it
    o["kg_media_dedup"] = """
    WITH spans AS (
      SELECT doc_id, 1 AS span_pos, 'image' AS kind FROM documents
      WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END, 'audio'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id,
             1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
               + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END,
             'video' FROM documents WHERE doc_id % 7 = 0),
    pay AS (
      SELECT doc_id, CAST(span_pos AS INT) AS span_pos,
             md5(repeat(sha256(concat(substr(kind, 1, 3), '://',
                                      doc_id % 97)), 4)) AS digest
      FROM spans),
    g AS (SELECT digest, CAST(count(*) AS BIGINT) AS n_copies,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM pay GROUP BY 1),
    canon AS (
      SELECT digest, doc_id, span_pos,
             row_number() OVER (PARTITION BY digest
                                ORDER BY CAST(doc_id AS VARCHAR),
                                         span_pos) AS rn
      FROM pay)
    SELECT g.digest, g.n_copies, g.n_docs,
           CAST(c.doc_id AS BIGINT) AS canonical_doc,
           c.span_pos AS canonical_pos
    FROM g JOIN canon c USING (digest)
    WHERE c.rn = 1 AND g.n_copies >= 2"""

    o["pipe_pack_sequences"] = r"""
    WITH toks AS (
      SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS cum_before
      FROM toks)
    SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS pack_offset,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE floor((cum_before + n_tokens - 1) / 512.0)
                     - floor(cum_before / 512.0) + 1 END AS BIGINT) AS n_packs
    FROM c"""

    # u = first 4 hex chars of md5(lang||'|'||doc_id) as uniform in [0,1)
    _nib = ("(strpos('0123456789abcdef', substr(h,{i},1))-1)")
    _u16 = " + ".join(f"{_nib.format(i=i+1)}*{16 ** (3 - i)}" for i in range(4))
    o["pipe_stratified_sample"] = f"""
    WITH x AS (
      SELECT doc_id, lang,
             md5(concat(lang, '|', CAST(doc_id AS VARCHAR))) AS h
      FROM documents)
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, ({_u16}) / 65536.0 AS u,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.25
                       WHEN 'de' THEN 0.1 WHEN 'zh' THEN 0.1 END AS f
      FROM x)
    WHERE u < f"""

    o["pipe_redact_pii"] = r"""
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        concat(text, ' contact user', CAST(doc_id AS VARCHAR),
               '@example.com or +1 (555) 123-4567 at 192.168.0.',
               CAST(doc_id % 255 AS VARCHAR)),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+[0-9]([()\-. ]{0,2}[0-9]){6,14}|\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
        '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
    FROM documents"""

    # global shuffle: same md5-nibble construction as the stratified
    # sample but over the first 8 hex chars (32 bits) — matches the Spark
    # side's conv(substring(h,1,8),16,10); pos = rank of the full digest
    _u32 = " + ".join(_nib.format(i=i + 1) + f"*{16 ** (7 - i)}"
                      for i in range(8))
    o["pipe_global_shuffle"] = f"""
    WITH x AS (
      SELECT doc_id, lang, md5(concat('42', '|', CAST(doc_id AS VARCHAR))) AS h
      FROM documents),
    s AS (SELECT doc_id, lang, h, CAST(({_u32}) % 8 AS INT) AS shard FROM x)
    SELECT doc_id, lang, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS INT) AS pos
    FROM s"""

    # repetition profile re-derived the distributed-groupBy way (the Spark
    # side is a per-row array fold — different plan, same values)
    o["text_repetition"] = """
    WITH w AS (
      SELECT doc_id, string_split(trim(text), ' ') AS l FROM documents),
    u AS (SELECT doc_id, unnest(l) AS word FROM w),
    wc AS (SELECT doc_id, word, count(*) AS c FROM u GROUP BY 1, 2),
    wa AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
      FROM wc GROUP BY 1),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i+1])) AS b
      FROM w),
    bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
    ba AS (SELECT doc_id, max(c) AS top, sum(c) AS nb FROM bc GROUP BY 1)
    SELECT wa.doc_id, wa.n_words,
           CASE WHEN wa.n_words > 0 THEN dup * 1.0 / wa.n_words
                ELSE 0.0 END AS dup_word_frac,
           coalesce(ba.top * 1.0 / ba.nb, 0.0) AS top_bigram_frac
    FROM wa LEFT JOIN ba USING (doc_id)"""

    o["text_vocab_top_tokens"] = r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0),
    c AS (
      SELECT token, count(*) AS n FROM toks
      WHERE length(token) > 0
      GROUP BY token HAVING count(*) >= 2)
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
    FROM c ORDER BY n DESC, token LIMIT 50"""

    # per-source unigram KL vs the corpus: integer counts everywhere, one
    # double division + ln at the end — term-for-term the Spark formula
    o["text_source_divergence"] = r"""
    WITH toks AS (
      SELECT source AS src,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0),
    st AS (
      SELECT src, token, count(*) AS c FROM toks
      WHERE length(token) > 0 GROUP BY 1, 2),
    tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS c_src FROM st GROUP BY 1),
    tot2 AS (
      SELECT src, c_src,
             (SELECT CAST(SUM(c_src) AS BIGINT) FROM tot) AS c_all
      FROM tot),
    x AS (
      SELECT st.src, c, c_src, c_all,
             CAST(SUM(c) OVER (PARTITION BY token) AS BIGINT) AS c_tok
      FROM st JOIN tot2 USING (src))
    SELECT src AS source, c_src AS n_tokens,
           round(SUM((c * 1.0 / c_src)
                     * ln((c * 1.0 / c_src) / (c_tok * 1.0 / c_all))), 6)
             AS kl_divergence
    FROM x GROUP BY src, c_src"""

    # quality_gate: same rule thresholds as the entry (max_dup_word_frac
    # raised to 0.82 for the word-soup corpus); concat_ws skips NULLs in
    # both engines, so reasons assemble identically
    o["text_quality_gate"] = r"""
    WITH base AS (
      SELECT doc_id, text, trim(text) AS tt,
             concat(' ', lower(text), ' ') AS padded
      FROM documents),
    w AS (
      SELECT doc_id,
             CASE WHEN length(tt) = 0 THEN 0
                  ELSE len(regexp_split_to_array(tt, '\s+')) END AS n,
             length(regexp_replace(tt, '\s+', '', 'g')) AS n_nonws,
             (CASE WHEN position(' the ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' and ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' of ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' to ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' a ' IN padded) > 0 THEN 1 ELSE 0 END)
               AS hits
      FROM base),
    cnt AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS word
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, word),
    dups AS (
      SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS ndup
      FROM cnt GROUP BY doc_id),
    y AS (
      SELECT w.doc_id, n, hits,
             n_nonws * 1.0 / nullif(n, 0) AS mwl,
             COALESCE(ndup, 0) * 1.0 / nullif(n, 0) AS dupf
      FROM w LEFT JOIN dups ON w.doc_id = dups.doc_id),
    r AS (
      SELECT doc_id, n,
        concat_ws(',',
          CASE WHEN n < 5 THEN 'too_few_words' END,
          CASE WHEN n > 5000 THEN 'too_many_words' END,
          CASE WHEN n > 0 AND (mwl < 2.0 OR mwl > 12.0)
               THEN 'word_len_out_of_band' END,
          CASE WHEN COALESCE(dupf, 0) > 0.82 THEN 'dup_word_frac_high' END,
          CASE WHEN hits = 0 THEN 'no_stopwords' END) AS reasons
      FROM y)
    SELECT doc_id, CAST(n AS INT) AS n_words, reasons = '' AS keep, reasons
    FROM r"""

    # source filter: mean over the exact integer quality*100, so partial-
    # aggregation order cannot perturb the float mean
    o["pipe_source_filter"] = r"""
    WITH x AS (
      SELECT source, length(text) AS n_chars,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             concat(' ', lower(text), ' ') AS padded
      FROM documents),
    y AS (
      SELECT source,
             n_punct * 1.0 / nullif(n_chars, 0) AS pr,
             (CASE WHEN position(' the ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' and ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' of ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' to ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' a ' IN padded) > 0 THEN 1 ELSE 0 END)
               AS hits,
             n_chars
      FROM x),
    q AS (
      SELECT source,
             CAST(round(round(
               (CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END)
             + hits / 5.0 * 0.3, 6) * 100) AS BIGINT) AS q100
      FROM y),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(q100) AS BIGINT) AS sq
      FROM q GROUP BY source)
    SELECT source, n_docs,
           round(CAST(sq AS DOUBLE) / n_docs / 100.0, 6) AS mean_quality,
           (n_docs >= 10 AND
            round(CAST(sq AS DOUBLE) / n_docs / 100.0, 6) >= 0.79) AS keep
    FROM agg"""

    o["dedup_dup_ngram_fraction"] = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)
      WHERE len(t) >= 8
        AND length(array_to_string(t[i:i+7], ' ')) > 0),
    per_doc AS (
      SELECT doc_id, shingle, count(*) AS cnt FROM pos GROUP BY 1, 2),
    freq AS (SELECT shingle, count(*) AS df FROM per_doc GROUP BY 1),
    dup AS (
      SELECT p.doc_id, CAST(SUM(cnt) AS BIGINT) AS dup_ngrams
      FROM per_doc p JOIN freq USING (shingle)
      WHERE df > 1 GROUP BY 1),
    tot AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams
      FROM per_doc GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(n_ngrams, 0) AS n_ngrams,
           COALESCE(dup_ngrams, 0) AS dup_ngrams,
           CASE WHEN COALESCE(n_ngrams, 0) > 0
                THEN round(COALESCE(dup_ngrams, 0) * 1.0 / n_ngrams, 6)
                ELSE 0.0 END AS dup_frac
    FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN dup USING (doc_id)"""

    # n-gram novelty: first-occurrence attribution by min(doc_id); the
    # Spark side collapses within-doc repeats map-side (array_distinct),
    # the oracle via SELECT DISTINCT — two routes to the same set
    o["dedup_ngram_novelty"] = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents),
    pos AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)
      WHERE len(t) >= 8),
    fs AS (SELECT shingle, min(doc_id) AS first_doc FROM pos GROUP BY 1),
    per AS (
      SELECT p.doc_id,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CASE WHEN p.doc_id = f.first_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS novel
      FROM pos p JOIN fs f USING (shingle) GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(n_distinct, 0) AS n_distinct,
           COALESCE(novel, 0) AS novel,
           CASE WHEN COALESCE(n_distinct, 0) > 0
                THEN round(COALESCE(novel, 0) * 1.0 / n_distinct, 6)
                ELSE 0.0 END AS novel_frac
    FROM documents d LEFT JOIN per USING (doc_id)"""

    # corpus unigram LM score: counts stay exact integers in both engines
    # until the final log2/divide, rounded to 6 decimals
    o["text_unigram_logprob"] = r"""
    WITH toks AS (
      SELECT doc_id, token FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                 AS token
        FROM documents WHERE length(trim(text)) > 0)
      WHERE length(token) > 0),
    dt AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    gc AS (SELECT token, SUM(tf) AS c_tok FROM dt GROUP BY 1),
    tot AS (SELECT SUM(tf) AS c_all FROM dt),
    per AS (
      SELECT dt.doc_id,
             CAST(SUM(tf) AS BIGINT) AS n_tokens,
             round(SUM(tf * log2(c_tok * 1.0 / c_all)) / SUM(tf), 6)
               AS avg_logprob
      FROM dt JOIN gc USING (token) CROSS JOIN tot GROUP BY 1)
    SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens, avg_logprob
    FROM documents d LEFT JOIN per USING (doc_id)"""

    # per-doc TF-IDF keywords: smooth idf = ln((1+N)/(1+df)) + 1 (sklearn
    # flavor); rank by raw double score BEFORE rounding, ties -> token —
    # exact ties imply equal (tf, df), so both engines break identically
    o["text_tfidf_top_terms"] = r"""
    WITH toks AS (
      SELECT doc_id, token FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                 AS token
        FROM documents WHERE length(trim(text)) > 0)
      WHERE length(token) > 0),
    dt AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY 1, 2),
    dfx AS (SELECT doc_id, token, tf,
                   count(*) OVER (PARTITION BY token) AS df FROM dt),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token,
             tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS s
      FROM dfx CROSS JOIN nd),
    ranked AS (
      SELECT doc_id, token, s,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, token) AS INT)
               AS rank
      FROM scored)
    SELECT doc_id, token, round(s, 6) AS tfidf, rank
    FROM ranked WHERE rank <= 5"""

    # windowed co-occurrence PMI: the oracle generates pairs by lateral
    # position join (clear in SQL); the Spark side is a map-side
    # index-aware array transform — two routes to the same multiset. The
    # PMI expression shape matches the Spark column op-for-op so both
    # engines run the identical IEEE division/multiply sequence.
    o["text_cooccurrence_pmi"] = r"""
    WITH toks AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    pos AS (SELECT t, i, t[i] AS tok
            FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
    pairs AS (
      SELECT least(p1.tok, p1.t[j]) AS tok_a,
             greatest(p1.tok, p1.t[j]) AS tok_b
      FROM pos p1,
           UNNEST(range(p1.i + 1, least(p1.i + 3, len(p1.t)) + 1)) AS v(j)),
    pc AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_pairs
           FROM pairs GROUP BY 1, 2),
    top AS (SELECT * FROM pc ORDER BY n_pairs DESC, tok_a, tok_b LIMIT 50),
    uni AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS n_tok
            FROM pos GROUP BY 1),
    tp AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total_pairs FROM pc),
    tt AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total_toks FROM uni)
    SELECT t.tok_a, t.tok_b, t.n_pairs,
           round(ln((t.n_pairs / total_pairs)
                    / ((ua.n_tok / total_toks) * (ub.n_tok / total_toks))),
                 6) AS pmi,
           CAST(row_number() OVER (ORDER BY t.n_pairs DESC, t.tok_a,
                                   t.tok_b) AS INT) AS rank
    FROM top t
    JOIN uni ua ON ua.token = t.tok_a
    JOIN uni ub ON ub.token = t.tok_b
    CROSS JOIN tp CROSS JOIN tt"""

    # per-group centroid affinity: the oracle re-derives the per-dimension
    # mean via unnest + generate_subscripts and DuckDB's native
    # list_cosine_similarity; cosine rounded to 3 (float32 inputs — the
    # same parity discipline as sim_topk_cosine)
    o["sim_centroid_cosine"] = """
    WITH pe AS (
      SELECT label, unnest(embedding)::DOUBLE AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings),
    dimavg AS (SELECT label, pos, avg(x) AS c FROM pe GROUP BY 1, 2),
    cent AS (SELECT label, list(c ORDER BY pos) AS centroid
             FROM dimavg GROUP BY 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid),
                 3) AS cos_centroid
    FROM embeddings e JOIN cent c USING (label)"""

    # as-of join: the Spark side is UNION + last(ignorenulls) window; the
    # oracle is DuckDB's NATIVE ASOF JOIN — two independent formulations
    # of the same semantics (right side deduped per (user, ts) by max
    # event_id so ties cannot differ between them)
    o["events_asof_join"] = """
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click'),
    r0 AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'view'),
    r AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1)
    SELECT l.event_id, l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_r,
           r.event_id AS event_id_r, r.value AS value_r
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts"""

    # nearest as-of: the oracle composes DuckDB's native backward and
    # forward ASOF joins and picks the closer match, ties -> backward
    # (pandas merge_asof semantics, property-tested on the Spark side)
    o["events_asof_nearest"] = """
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click'),
    r0 AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'view'),
    r AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1),
    b AS (
      SELECT l.event_id, r.ts AS bts, r.event_id AS bid, r.value AS bv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts >= r.ts),
    f AS (
      SELECT l.event_id, r.ts AS fts, r.event_id AS fid, r.value AS fv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts <= r.ts),
    pick AS (
      SELECT l.event_id, l.user_id, l.ts, l.value,
             CASE WHEN fts IS NULL THEN TRUE
                  WHEN bts IS NULL THEN FALSE
                  ELSE (l.ts - bts) <= (fts - l.ts) END AS back
      FROM l JOIN b USING (event_id) JOIN f USING (event_id))
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, p.value,
           strftime(CASE WHEN back THEN bts ELSE fts END,
                    '%Y-%m-%d %H:%M:%S.%f') AS ts_r,
           CASE WHEN back THEN bid ELSE fid END AS event_id_r,
           CASE WHEN back THEN bv ELSE fv END AS value_r
    FROM pick p JOIN b USING (event_id) JOIN f USING (event_id)"""

    # k-hop reachability: the Spark side is layer-synchronous BFS with
    # anti-joins; the oracle unrolls the k=3 expansion and lets min()
    # recover the BFS distance (layer j ⊇ frontier j but may re-reach
    # earlier nodes; the min over layers is exactly the BFS distance)
    o["kg_k_hop"] = f"""
    WITH triples AS ({{__T__}}),
    base AS (
      SELECT s AS a, o AS b FROM triples
      WHERE o_kind = 'iri' AND p <> 'rdf:type'),
    e AS (SELECT a, b FROM base UNION SELECT b, a FROM base),
    h0 AS (SELECT 'urn:nation:0' AS node),
    h1 AS (SELECT DISTINCT e.b AS node FROM e JOIN h0 ON e.a = h0.node),
    h2 AS (SELECT DISTINCT e.b AS node FROM e JOIN h1 ON e.a = h1.node),
    h3 AS (SELECT DISTINCT e.b AS node FROM e JOIN h2 ON e.a = h2.node),
    allh AS (
      SELECT node, 0 AS h FROM h0
      UNION ALL SELECT node, 1 FROM h1
      UNION ALL SELECT node, 2 FROM h2
      UNION ALL SELECT node, 3 FROM h3)
    SELECT node, CAST(min(h) AS INT) AS min_hops
    FROM allh GROUP BY node""".replace("{__T__}", _CORE_TRIPLES_SQL)

    # PageRank: the power iteration UNROLLED — per iteration one dangling
    # scalar, one contribution aggregate, one rank update, mirroring the
    # Spark loop term-for-term so the doubles agree to far below round(6)
    # r{i} is referenced twice by iteration i+1 (dangling sum + contrib
    # join): without MATERIALIZED, DuckDB's CTE inlining re-expands the
    # whole chain per reference — 2^5 copies of the triples scan (~50 s
    # oracle runtime for a 3 s query). Materializing each step keeps the
    # oracle linear in iterations, matching how any engine would run it.
    _pr_iters = []
    for i in range(1, 6):
        _pr_iters.append(f"""
    d{i} AS (SELECT COALESCE(SUM(rank), 0) AS dm FROM r{i - 1} WHERE deg = 0),
    c{i} AS (
      SELECT e.b AS node, SUM(r.rank / r.deg) AS s
      FROM r{i - 1} r JOIN e ON r.node = e.a WHERE r.deg > 0 GROUP BY e.b),
    r{i} AS MATERIALIZED (
      SELECT n.node, n.deg,
             0.15 / (SELECT n FROM nn)
             + 0.85 * (COALESCE(c.s, 0)
                       + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
      FROM r0 n LEFT JOIN c{i} c USING (node))""")
    o["kg_pagerank"] = (f"""
    WITH triples AS ({_CORE_TRIPLES_SQL}),
    e AS MATERIALIZED (
      SELECT DISTINCT s AS a, o AS b FROM triples
      WHERE o_kind = 'iri' AND p <> 'rdf:type'),
    nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    dg AS (SELECT a, count(*) AS deg FROM e GROUP BY a),
    r0 AS MATERIALIZED (
      SELECT node, COALESCE(deg, 0) AS deg, 1.0 / (SELECT n FROM nn) AS rank
      FROM nodes LEFT JOIN dg ON node = a),"""
      + ",".join(_pr_iters)
      + "\n    SELECT node, round(rank, 6) AS rank FROM r5")

    # triangles re-derived the canonical way (x<y<z three-way join) —
    # independent of the engine's degree-ordered orientation
    o["kg_triangle_count"] = f"""
    WITH raw AS ({TRIANGLE_EDGES_SQL}),
    e AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
    SELECT node, count(*) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node"""

    # sliding-window chunking: stride 24 = 32 - 8; starts 0, 24, 48, ...
    # while start < n, exactly sequence(0, n-1, 24)
    o["pipe_chunk_documents"] = r"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS w
      FROM documents),
    x AS (SELECT doc_id, w, len(w) AS n FROM w),
    s AS (
      SELECT doc_id, w, n,
             unnest(range(0, CAST(ceil(n / 24.0) AS BIGINT))) AS cid
      FROM x WHERE n > 0)
    SELECT doc_id, CAST(cid AS INT) AS chunk_id,
           CAST(cid * 24 AS INT) AS start_token,
           CAST(least(32, n - cid * 24) AS INT) AS n_chunk_tokens,
           array_to_string(w[cid * 24 + 1 : cid * 24 + 32], ' ') AS chunk
    FROM s"""

    # Lucene-flavor BM25 (k1=1.2, b=0.75) over the 3-term query
    o["text_bm25"] = r"""
    WITH lens AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
             END AS dl
      FROM documents),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             SUM(dl) * 1.0 / count(*) AS avgdl
      FROM lens),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                     AS token
            FROM documents WHERE length(trim(text)) > 0)
      WHERE token IN ('spark', 'vector', 'scan')
      GROUP BY doc_id, token),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
    SELECT tf.doc_id,
           round(SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dl / s.avgdl))),
                 6) AS score
    FROM tf
    JOIN df USING (token)
    JOIN lens ON lens.doc_id = tf.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id"""

    o["kg_property_path"] = f"""
    WITH triples AS ({_CORE_TRIPLES_SQL}),
    e0 AS (SELECT o AS src, s AS dst FROM triples
           WHERE p = 'urn:p:hasSupplier' AND o_kind IN ('iri', 'bnode')),
    e1 AS (SELECT s, o FROM triples
           WHERE p = 'urn:p:hasCustomer' AND o_kind IN ('iri', 'bnode')),
    e2 AS (SELECT s, o FROM triples
           WHERE p = 'urn:p:inNation' AND o_kind IN ('iri', 'bnode'))
    SELECT DISTINCT e0.src AS src, e2.o AS dst
    FROM e0 JOIN e1 ON e0.dst = e1.s JOIN e2 ON e1.o = e2.s"""

    # merge_upsert: the table state after overwrite + two keyed merges
    # must equal the declarative last-writer-wins relation
    o["snapshot_merge_upsert"] = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    u1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0),
    u2 AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
             o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice + 5000
      FROM orders WHERE o_orderkey % 21 = 0)
    SELECT * FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u1)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM u2)
    UNION ALL
    SELECT * FROM u1
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u2)
    UNION ALL
    SELECT * FROM u2"""

    o["dedup_keep_best"] = """
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
    h AS (
      SELECT doc_id, md5(lower(trim(text))) AS h,
             doc_id * 37 % 101 AS q
      FROM d),
    dup AS (SELECT h FROM h GROUP BY h HAVING count(*) > 1),
    m AS (SELECT doc_id, h.h, q FROM h JOIN dup USING (h))
    SELECT doc_id,
           first_value(doc_id) OVER
             (PARTITION BY h ORDER BY q DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS keeper,
           row_number() OVER (PARTITION BY h ORDER BY q DESC, doc_id) = 1
             AS keep
    FROM m"""

    o["pipe_mixture_plan"] = r"""
    WITH per AS (
      SELECT lang AS grp, count(*) AS n_docs,
             CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang),
    w AS (
      SELECT grp, n_docs, n_tokens,
             CASE grp WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.2
                      WHEN 'de' THEN 0.2 WHEN 'zh' THEN 0.1
                      ELSE 0.0 END AS tw
      FROM per),
    b AS (SELECT min(n_tokens / tw) AS T FROM w WHERE tw > 0)
    SELECT grp AS lang, n_docs, n_tokens,
           round(tw, 6) AS target_weight,
           CASE WHEN tw > 0 AND n_tokens > 0
                THEN round(tw * T / n_tokens, 6) ELSE 0.0 END AS rate
    FROM w CROSS JOIN b"""

    # rolling features: RANGE frame over integer microseconds in both
    # engines, so window membership is decided identically at the edges
    o["events_rolling_1h"] = """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, value,
           CAST(count(*) OVER w AS BIGINT) AS cnt_3600s,
           round(SUM(value) OVER w, 6) AS sum_value_3600s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""

    o["events_funnel"] = """
    WITH s AS (
      SELECT user_id, count(*) AS n_events,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS sq
      FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(CASE
           WHEN regexp_matches(sq, 'purchase.*error.*purchase.*error.*purchase.*error.*purchase') THEN 7
           WHEN regexp_matches(sq, 'purchase.*error.*purchase.*error.*purchase.*error') THEN 6
           WHEN regexp_matches(sq, 'purchase.*error.*purchase.*error.*purchase') THEN 5
           WHEN regexp_matches(sq, 'purchase.*error.*purchase.*error') THEN 4
           WHEN regexp_matches(sq, 'purchase.*error.*purchase') THEN 3
           WHEN regexp_matches(sq, 'purchase.*error') THEN 2
           WHEN regexp_matches(sq, 'purchase') THEN 1
           ELSE 0 END AS INT) AS depth,
           regexp_matches(sq,
             'purchase.*error.*purchase.*error.*purchase.*error.*purchase')
             AS reached
    FROM s"""

    # the streaming funnel drain's final per-key state == the batch funnel
    o["kg_streaming_funnel"] = o["events_funnel"]

    # interval join re-derived as the plain BETWEEN theta-join the binned
    # equi-join replaces (fine at oracle scale; quadratic at corpus scale)
    o["events_interval_join"] = """
    SELECT e1.user_id, e1.event_id AS err_id, e2.event_id, e2.event_type
    FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
     AND epoch_us(e2.ts) >= epoch_us(e1.ts) + 60000000
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 1860000000
    WHERE e1.event_type = 'error'"""

    # keyed delete after a keyed upsert, re-derived declaratively
    o["snapshot_merge_delete"] = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    u1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0),
    merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u1)
      UNION ALL SELECT * FROM u1)
    SELECT * FROM merged WHERE o_orderkey % 9 <> 0"""

    # pivot re-derived as conditional aggregation (the relational algebra
    # a pivot compiles to)
    o["events_pivot"] = """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
    FROM events GROUP BY 1"""

    o["events_cube"] = """
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(GROUPING(event_type, strftime(ts, '%Y-%m-%d')) AS INT) AS gid,
           count(*) AS n, round(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))"""

    # histogram: same clamp arithmetic; width = 25.0 exactly representable
    o["events_value_histogram"] = """
    WITH b AS (
      SELECT event_type,
             CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) / 25.0),
                                 0), 7) AS INT) AS bin
      FROM events)
    SELECT event_type, bin,
           round(0.0 + bin * 25.0, 6) AS bin_lo,
           round(0.0 + (bin + 1) * 25.0, 6) AS bin_hi,
           count(*) AS n
    FROM b GROUP BY 1, 2"""

    o["kg_frame_sample"] = _media_decoded + """
    SELECT doc_id, media_ref, unnest(range(0, n_frames, 60)) AS frame_idx
    FROM feat WHERE kind = 'video'"""

    o["kg_extract_mentions"] = f"""
    SELECT doc_id, concat('D', doc_id) AS subj_surface,
           '{P_LOCATED_IN}' AS pred, upper(source) AS obj_surface
    FROM documents"""

    # deterministic availableNow drain ⇒ identical to batch extraction
    o["kg_streaming_extract"] = o["kg_extract_mentions"]

    # cluster members map to the lexicographic-min member (zero-padded ids
    # make that the original doc); representatives have no row. Exact dups
    # can also collide when two docs share identical text — group by the
    # text digest, not the id-pairing rule.
    o["dedup_cluster_exact"] = """
    WITH all_docs AS (
      SELECT lpad(CAST(doc_id AS VARCHAR), 9, '0') AS doc_id,
             md5(lower(trim(text))) AS h FROM documents
      UNION ALL
      SELECT lpad(CAST(doc_id + 1000000 AS VARCHAR), 9, '0'),
             md5(lower(trim(text)))
      FROM documents WHERE doc_id % 10 = 0),
    grp AS (SELECT h, min(doc_id) AS canonical, count(*) AS n
            FROM all_docs GROUP BY h)
    SELECT a.doc_id, g.canonical
    FROM all_docs a JOIN grp g ON a.h = g.h
    WHERE g.n > 1 AND a.doc_id <> g.canonical"""

    # E3/E4: unlinked subject surfaces mint sha256-prefix IRIs; object
    # surfaces resolve through the dictionary.
    o["kg_link_entities"] = f"""
    SELECT DISTINCT
           concat('{MINT_NS}', substr(sha256(concat('D', doc_id)), 1, 16)) AS s,
           '{P_LOCATED_IN}' AS p,
           concat('urn:src:', source) AS o,
           'iri' AS o_kind
    FROM documents"""

    # E5: chain edges within blocks of 8 → component root = doc_id - doc_id%8;
    # the root itself has no mapping row (it is the representative).
    o["kg_connected_components"] = """
    SELECT concat('n', lpad(CAST(doc_id AS VARCHAR), 6, '0')) AS node,
           concat('n', lpad(CAST(doc_id - doc_id % 8 AS VARCHAR), 6, '0')) AS component
    FROM documents
    WHERE doc_id % 8 <> 0 AND doc_id <= (SELECT max(doc_id) FROM documents)"""

    # IVF with n_probe = n_cells ≡ exact brute-force top-k (every cell is
    # probed, so the union of probed cells is the whole corpus).
    o["sim_ann_ivf"] = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 3) AS cosine
    FROM embeddings WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC,
             vec_id ASC
    LIMIT 10"""

    # Exact O(n²) near-dup ground truth over the same augmented corpus
    # (planted direction-duplicates at cosine 1.0; natural pairs ≤ ~0.51).
    o["dedup_embedding_neardup"] = """
    WITH aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 2)
      FROM embeddings WHERE vec_id % 25 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 3) AS cosine
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.95"""

    # session_window semantics: a session breaks when the gap since the
    # previous event is >= the gap duration (the window closes at
    # prev_ts + gap, and an event AT the close starts a new window);
    # session_start = first event's ts. The gap compares RAW microsecond
    # timestamps — truncating to seconds first makes a 1799.3s gap look
    # like exactly 1800s and splits a session Spark merges.
    o["events_session_window"] = """
    WITH x AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts)
                       - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                    >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
      FROM events),
    y AS (
      SELECT user_id, ts, value,
             -- cumsum must share the lag's (ts, event_id) tiebreak: with
             -- ts alone, equal-timestamp rows make the running sum
             -- order-ambiguous and the oracle flaky on ties
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM y GROUP BY user_id, sid"""
    # deterministic availableNow drain ⇒ the streaming form shares it
    o["kg_streaming_sessionize"] = o["events_session_window"]

    o["snapshot_time_travel"] = """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE user_id % 3 = 0"""

    # the incremental tiers must equal the batch plan exactly, so the
    # incremental entries share the batch families' oracles
    o["incremental_dqa_range"] = o["shape2_correct_range_dt"]
    o["incremental_dqa_misuse"] = o["shape2_misuse_dt"]
    o["incremental_dqa_domain"] = o["shape2_correct_domain"]
    # the streamed CDC fold must land the same table as the batch merge
    o["kg_streaming_upsert"] = o["snapshot_merge_upsert"]

    return o
