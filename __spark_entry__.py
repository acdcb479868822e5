"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exercises every operator family from SURVEY.md §2 against the
driver's parquet tables; `oracle_sql()` gives the DuckDB-checkable ANSI-SQL
equivalent. KG constraint operators run over a deterministic triple view
built from the TPC-H tables by ONE shared SQL text (TRIPLES_SQL) that both
Spark and DuckDB execute — the engine evaluates the constraints with its
real compiled plan (shacl_dqa_prototype_spark.plans.constraints), the
oracle re-derives the same violation sets from the raw tables.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shacl_dqa_prototype_spark.operators import dedup, similarity, textstats  # noqa: E402
from shacl_dqa_prototype_spark.plans.constraints import (  # noqa: E402
    DQAConfig,
    VocabTerm,
    compile_data_constraints,
)
from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa  # noqa: E402
from shacl_dqa_prototype_spark.plans.profile import profile_graph  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"

# ---------------------------------------------------------------------------
# Shared triple-view SQL: runs verbatim in Spark SQL AND DuckDB.
# Violation seeding is arithmetic (key mod N) so both engines agree exactly.
# ---------------------------------------------------------------------------
TRIPLES_SQL = f"""
SELECT * FROM (
  -- branches are pairwise-disjoint (distinct predicate/key domains), so
  -- no outer DISTINCT: it would cost a full shuffle for a no-op

  SELECT concat('urn:order:', o_orderkey) AS s, 'rdf:type' AS p,
         'urn:c:Order' AS o, 'iri' AS o_kind,
         CAST(NULL AS STRING) AS o_dtype, CAST(NULL AS STRING) AS o_lang
  FROM orders
  UNION ALL SELECT concat('urn:order:', o_orderkey), 'urn:p:hasCustomer',
         concat('urn:cust:', o_custkey), 'iri', NULL, NULL FROM orders
  UNION ALL SELECT concat('urn:order:', l_orderkey), 'urn:p:hasSupplier',
         concat('urn:supp:', l_suppkey), 'iri', NULL, NULL
  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
  UNION ALL SELECT concat('urn:order:', o_orderkey), 'urn:p:orderedOn',
         CASE WHEN o_orderkey % 11 = 0 THEN '2024-13-45'
              ELSE substr(CAST(o_orderdate AS STRING), 1, 10) END,
         'literal', '{XSD_DATE}', NULL FROM orders
  UNION ALL SELECT concat('urn:cust:', c_custkey), 'rdf:type',
         'urn:c:Customer', 'iri', NULL, NULL FROM customer
  UNION ALL SELECT concat('urn:cust:', c_custkey), 'rdf:type',
         'urn:c:PreferredCustomer', 'iri', NULL, NULL
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL SELECT concat('urn:cust:', c_custkey), 'urn:p:inNation',
         concat('urn:nation:', c_nationkey), 'iri', NULL, NULL FROM customer
  UNION ALL SELECT concat('urn:cust:', c_custkey), '{RDFS_LABEL}',
         c_name, 'literal', NULL, NULL FROM customer WHERE c_custkey % 2 = 0
  UNION ALL SELECT concat('urn:supp:', s_suppkey), 'rdf:type',
         'urn:c:Supplier', 'iri', NULL, NULL FROM supplier
  UNION ALL SELECT concat('urn:supp:', s_suppkey), 'rdf:type',
         'urn:c:Customer', 'iri', NULL, NULL
  FROM supplier WHERE s_suppkey % 5 = 0
  UNION ALL SELECT concat('urn:supp:', s_suppkey), 'urn:p:inNation',
         concat('urn:nation:', s_nationkey), 'iri', NULL, NULL FROM supplier
  UNION ALL SELECT concat('urn:nation:', n_nationkey), 'rdf:type',
         'urn:c:Nation', 'iri', NULL, NULL FROM nation
  UNION ALL SELECT concat('urn:nation:', n_nationkey), 'urn:p:partOf',
         concat('urn:region:', n_regionkey), 'iri', NULL, NULL FROM nation
  UNION ALL SELECT concat('urn:nation:', n_nationkey), '{RDFS_LABEL}',
         n_name, 'literal', NULL, NULL FROM nation
  UNION ALL SELECT concat('urn:nation:', n_nationkey), 'urn:p:follows',
         concat('urn:nation:', (n_nationkey + 1) % 25), 'iri', NULL, NULL
  FROM nation
  UNION ALL SELECT concat('urn:nation:', (n_nationkey + 1) % 25),
         'urn:p:follows', concat('urn:nation:', n_nationkey), 'iri', NULL, NULL
  FROM nation WHERE n_nationkey < 12
  UNION ALL SELECT DISTINCT concat('urn:cust:', o_custkey), 'urn:p:refs',
         concat('urn:cust:', CASE WHEN o_orderkey % 7 = 0
                                  THEN o_custkey ELSE o_custkey + 1 END),
         'iri', NULL, NULL FROM orders
  UNION ALL SELECT concat('urn:part#', p_partkey), 'rdf:type',
         'urn:c:Part', 'iri', NULL, NULL FROM part
  UNION ALL SELECT concat('urn:region:', r_regionkey), 'rdf:type',
         'urn:c:Region', 'iri', NULL, NULL FROM region
)
"""

ENTRY_VOCAB = [
    VocabTerm("urn:c:Order", "class"),
    VocabTerm("urn:c:Customer", "class"),
    VocabTerm("urn:c:PreferredCustomer", "class"),
    VocabTerm("urn:c:Supplier", "class"),
    VocabTerm("urn:c:Nation", "class"),
    VocabTerm("urn:c:Region", "class"),
    VocabTerm("urn:c:Part", "class"),
    VocabTerm("urn:p:hasCustomer", "object_property",
              range="urn:c:PreferredCustomer", range_kind="class"),
    VocabTerm("urn:p:hasSupplier", "object_property", functional=True),
    VocabTerm("urn:p:inNation", "object_property", inverse_functional=True),
    VocabTerm("urn:p:follows", "object_property", asymmetric=True),
    VocabTerm("urn:p:refs", "object_property", irreflexive=True),
    VocabTerm("urn:p:orderedOn", "datatype_property",
              range=XSD_DATE, range_kind="literal"),
    VocabTerm("urn:p:partOf", "object_property"),
]
ENTRY_DISJOINT = [("urn:c:Customer", "urn:c:Supplier")]
ENTRY_CFG = DQAConfig(type_property="rdf:type", labeling_property=RDFS_LABEL)
# Profile property IRIs, single-sourced so they cannot drift from
# ENTRY_CFG: type/label are the DQA config's; description/interlinking
# deliberately point at the synthetic corpus's own properties (profile
# stats count what the data actually uses), while ENTRY_CFG keeps the
# reference defaults (dct:description / owl:sameAs) so the constraint
# semantics — and their oracles — match the reference's shapes.
ENTRY_PROFILE_PROPS = dict(
    type_property=ENTRY_CFG.type_property,
    labeling_property=ENTRY_CFG.labeling_property,
    description_property="urn:p:description",
    interlinking_property="urn:p:follows",
)


def _register(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)


_TRIPLES_CACHE: dict[tuple[int, str], DataFrame] = {}


def _triple_store_path(store_base: str, sf_dir: str) -> str:
    """Content-keyed store subdir under ``store_base``: the key covers
    the view text AND the input identity (absolute dataset path plus
    per-file size/mtime), so editing TRIPLES_SQL, regenerating the corpus
    in place, or pointing two datasets with the same basename at one
    store base can never silently reuse stale or foreign triples — the
    key changes and the view is rebuilt."""
    import hashlib

    parts = [TRIPLES_SQL, os.path.abspath(sf_dir)]
    for t in sorted(os.listdir(sf_dir)):
        fp = os.path.join(sf_dir, t)
        parts.append(f"{t}:{os.path.getsize(fp)}:{int(os.path.getmtime(fp))}")
    return os.path.join(
        store_base, hashlib.sha1("|".join(parts).encode()).hexdigest()[:16])


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple view, cached per (session, sf_dir): many queries() entries
    share it, and the 20-branch UNION+DISTINCT is the dominant setup cost.

    Two backings:
    - default: in-memory ``.cache()`` of the UNION — right for one-shot
      correctness runs at tiny SF.
    - ``SPARK_GRAFT_TRIPLE_STORE=<dir>``: the view is written ONCE as
      parquet laid out by predicate (``repartition("p")`` → one file set
      per predicate, min/max footer stats on ``p``/``s``) and read back
      WITHOUT caching — mirroring how a real deployment holds the KG (a
      materialized triple table, not a view rebuilt per session). Every
      shape branch's ``p = …`` filter then prunes to one predicate's
      files instead of scanning the whole cached relation; at sf0.1 this
      cut the compiled-violations materialization from ~15 s to ~10 s
      and single-predicate scans to ~0.15 s. At 100 TB the store is the
      subject-hash-bucketed Iceberg table the construction half emits —
      same principle, pushdown over a persisted layout beats recompute."""
    key = (id(spark), sf_dir)
    if key not in _TRIPLES_CACHE:
        _register(spark, sf_dir)
        store_base = os.environ.get("SPARK_GRAFT_TRIPLE_STORE")
        if store_base:
            store = _triple_store_path(store_base, sf_dir)
            if not os.path.exists(os.path.join(store, "_SUCCESS")):
                (spark.sql(TRIPLES_SQL)
                 .repartition("p").sortWithinPartitions("p", "s")
                 .write.mode("overwrite").parquet(store))
            _TRIPLES_CACHE[key] = spark.read.parquet(store)
        else:
            _TRIPLES_CACHE[key] = spark.sql(TRIPLES_SQL).cache()
    return _TRIPLES_CACHE[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


_V1_CACHE: dict[tuple[int, str], object] = {}


def _plan(spark: SparkSession, sf_dir: str):
    """Compile the constraint plan once per (session, sf_dir); its cached
    violations DF is shared by every shape query AND by dqa_scores (which
    would otherwise pay a full re-evaluation just to score)."""
    key = (id(spark), sf_dir)
    if key not in _V1_CACHE:
        plan = compile_data_constraints(
            _triples(spark, sf_dir), ENTRY_VOCAB, ENTRY_DISJOINT, ENTRY_CFG)
        plan.violations = plan.violations.cache()
        _V1_CACHE[key] = plan
    return _V1_CACHE[key]


_PROFILE_CACHE: dict[tuple[int, str], object] = {}


def _profile(spark: SparkSession, sf_dir: str):
    """One profile per (session, sf_dir): it keeps its scalars once read,
    so the profile entries don't re-run the scalar job per call."""
    key = (id(spark), sf_dir)
    if key not in _PROFILE_CACHE:
        _PROFILE_CACHE[key] = profile_graph(
            _triples(spark, sf_dir),
            ENTRY_PROFILE_PROPS["type_property"],
            ENTRY_PROFILE_PROPS["labeling_property"],
            ENTRY_PROFILE_PROPS["description_property"],
            ENTRY_PROFILE_PROPS["interlinking_property"])
    return _PROFILE_CACHE[key]


def _violations(spark: SparkSession, sf_dir: str, metric: str,
                with_item: bool = False, item: str | None = None) -> DataFrame:
    """Run the REAL compiled constraint plan; project one metric's distinct
    violation set (the oracle re-derives the same set from raw tables)."""
    v = _plan(spark, sf_dir).violations.filter(F.col("metric") == metric)
    if item is not None:
        v = v.filter(F.col("item") == item)
    cols = ["item", "focus"] if with_item else ["focus"]
    return v.select(*cols).distinct()


# ---------------------------------------------------------------------------
# entry — flagship: full DQA report over the constructed triple view
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    T = _triples(spark, sf_dir)
    report = run_data_dqa(T, ENTRY_VOCAB, ENTRY_DISJOINT, ENTRY_CFG)
    return report.orderBy("metric", "item")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- B: profiling operators ------------------------------------------
    def profile_scalars(spark, sf_dir):
        prof = _profile(spark, sf_dir)
        return spark.createDataFrame(
            [(prof.num_triples, prof.num_classes, prof.num_entities,
              prof.num_properties)],
            "num_triples long, num_classes long, num_entities long, num_properties long",
        )
    q["profile_scalars"] = profile_scalars

    def triples_per_property(spark, sf_dir):
        prof = _profile(spark, sf_dir)
        return prof.triples_per_property.select("p", F.col("num_triples").cast("long"))
    q["profile_triples_per_property"] = triples_per_property

    def subjects_per_property(spark, sf_dir):
        prof = _profile(spark, sf_dir)
        return prof.subjects_per_property.select("p", F.col("num_subjects").cast("long"))
    q["profile_subjects_per_property"] = subjects_per_property

    def entities_per_class(spark, sf_dir):
        prof = _profile(spark, sf_dir)
        return prof.entities_per_class.select("cls", F.col("num_instances").cast("long"))
    q["profile_entities_per_class"] = entities_per_class

    def profile_degree(spark, sf_dir):
        from shacl_dqa_prototype_spark.plans.profile import degree_topk

        return degree_topk(_triples(spark, sf_dir), k=20)
    q["profile_degree_topk"] = profile_degree

    # --- C: constraint operators (real compiled plan vs oracle) -----------
    q["shape_functional_property"] = (
        lambda s, d: _violations(s, d, "FunctionalProperty", with_item=True))
    q["shape_ifp_uniqueness"] = (
        lambda s, d: _violations(s, d, "InverseFunctionalPropertyUniqueness", with_item=True))
    q["shape_label_for_entities"] = (
        lambda s, d: _violations(s, d, "LabelForEntities"))
    q["shape_disjoint_classes"] = (
        lambda s, d: _violations(s, d, "EntitiesDisjointClasses"))
    q["shape_irreflexive"] = (
        lambda s, d: _violations(s, d, "IrreflexiveProperty"))
    q["shape_asymmetric"] = (
        lambda s, d: _violations(s, d, "AsymmetricProperty"))
    q["shape_correct_range_class"] = (
        lambda s, d: _violations(s, d, "CorrectRange", item="urn:p:hasCustomer"))
    q["shape_malformed_literal"] = (
        lambda s, d: _violations(s, d, "MalformedLiteral"))
    q["shape_hash_uris"] = (
        lambda s, d: _violations(s, d, "UsageHashURIsEntities"))
    q["shape_interlinking_completeness"] = (
        lambda s, d: _violations(s, d, "InterlinkingCompleteness"))

    # --- D: scoring ---------------------------------------------------------
    def dqa_scores(spark, sf_dir):
        # scoring needs num_entities + the per-property/class denominator
        # dims, all property-choice-independent — the shared profile works
        rep = run_data_dqa(_triples(spark, sf_dir), ENTRY_VOCAB,
                           ENTRY_DISJOINT, ENTRY_CFG,
                           profile=_profile(spark, sf_dir),
                           plan=_plan(spark, sf_dir))
        return rep.filter(
            F.col("metric").isin("FunctionalProperty", "LabelForEntities",
                                 "UsageHashURIsEntities")
            & (F.col("score_kind") != "meta")
        ).select("metric", "item", F.round("measure", 6).alias("measure"),
                 "num_violations")
    q["dqa_scores"] = dqa_scores

    # --- dedup / text / similarity ops ------------------------------------
    q["dedup_exact"] = lambda s, d: dedup.exact_duplicates(_docs(s, d))

    q["dedup_ngram_jaccard"] = lambda s, d: (
        dedup.ngram_jaccard_pairs(_docs(s, d), n=5, threshold=0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")))

    def pipe_decontaminate(spark, sf_dir):
        # eval set = deterministic held-out slice (doc_id % 17 == 0);
        # corpus = everything else. 8-gram overlap pairs.
        docs = _docs(spark, sf_dir)
        return dedup.ngram_contamination(
            docs.filter(F.col("doc_id") % 17 != 0),
            docs.filter(F.col("doc_id") % 17 == 0), n=8)
    q["pipe_decontaminate"] = pipe_decontaminate

    q["text_token_count"] = lambda s, d: textstats.token_count(_docs(s, d))

    q["text_quality"] = lambda s, d: textstats.quality_score(_docs(s, d))

    q["text_langid"] = lambda s, d: textstats.language_id(_docs(s, d))
    q["text_length_profile"] = (
        lambda s, d: textstats.length_profile(_docs(s, d)))

    def sim_topk(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return (similarity.cosine_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10)
                .select("vec_id", F.round("cosine", 3).alias("cosine")))
    q["sim_topk_cosine"] = sim_topk

    # portable-hash variants (md5-60bit instead of xxhash64) so the full
    # MinHash-LSH banding / SimHash vote pipelines are DuckDB-oracled; the
    # default xxhash64 fast path is what the bench exercises
    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_candidates(
        _docs(s, d), n=5, portable=True)
    q["dedup_simhash_neardup"] = lambda s, d: dedup.simhash_near_duplicates(
        _docs(s, d), max_hamming=3, portable=True)

    def pipe_curate(spark, sf_dir):
        # the FUSED curation pipeline (gate → source filter → LSH
        # keep-best dedup → redact) — the exact plan main.py curate runs,
        # in the portable-hash configuration so the survivor set is
        # independently re-derivable end-to-end in DuckDB
        from shacl_dqa_prototype_spark.plans.curate import curate_corpus

        res = curate_corpus(
            _docs(spark, sf_dir), ngram=5, max_dup_word_frac=0.82,
            min_source_docs=10, min_source_quality=0.79,
            portable=True, collect_stats=False)
        # pin only the (tiny) survivor set; release the stage checkpoints
        out = res.survivors.select("doc_id", "text").localCheckpoint()
        res.unpersist()
        return out
    q["pipe_curate"] = pipe_curate
    q["text_fingerprint"] = lambda s, d: textstats.fingerprint(_docs(s, d))

    def ann(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return similarity.ann_topk(emb, list(qv), k=10,
                                   probe_hamming=2).select(
            "vec_id", F.round("cosine", 3).alias("cosine"))
    q["sim_ann_lsh"] = ann

    # --- classic analytics (scan/filter/agg/join/window/sort-limit) --------
    def tpch_q1(spark, sf_dir):
        _register(spark, sf_dir)
        li = spark.table("lineitem")
        return (
            li.filter(F.col("l_shipdate") <= "2000-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("sum_disc_price"),
                F.count("*").alias("count_order"),
            )
        )
    q["tpch_q1_pricing"] = tpch_q1

    def top_customer_per_nation(spark, sf_dir):
        _register(spark, sf_dir)
        o, c = spark.table("orders"), spark.table("customer")
        spend = (
            o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
        )
        w = Window.partitionBy("c_nationkey").orderBy(
            F.desc("spend"), F.asc("c_custkey"))
        return (
            spend.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_nationkey", "c_custkey", "spend")
        )
    q["top_customer_per_nation"] = top_customer_per_nation

    def tpch_q3(spark, sf_dir):
        # Q3-style shipping priority: the classic 3-way selective join —
        # Catalyst pushes all three date/segment filters into the parquet
        # scans, the filtered customer dim broadcasts (no shuffle for the
        # small side), and only the order-level aggregate shuffles. The
        # TopK is a sort-limit (TakeOrderedAndProject), never a full sort.
        _register(spark, sf_dir)
        c = spark.table("customer").filter(
            F.col("c_mktsegment") == "BUILDING")
        o = spark.table("orders").filter(F.col("o_orderdate") < "1998-06-01")
        li = spark.table("lineitem").filter(
            F.col("l_shipdate") > "1998-06-01")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.round(F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10)
            .select(
                "l_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd")
                .alias("o_orderdate"),
                "revenue"))
    q["tpch_q3_shipping"] = tpch_q3

    def tpch_q5(spark, sf_dir):
        # Q5-style local-supplier volume: the 6-way star join — supplier,
        # nation, and region ride as broadcasts (the co-nationality
        # predicate c_nationkey = s_nationkey folds into the supplier
        # broadcast join, never a separate fact shuffle). The fact join
        # (lineitem⋈orders) and the customer join are the data-sized
        # shuffles: customer is NOT hinted because it scales with the
        # data (TPC-H 150k×SF rows) — auto-broadcast takes it at bench
        # scales, and at 100 TB it correctly becomes a shuffle join
        # (co-partition orders/customer on custkey via bucketing to
        # remove it entirely).
        _register(spark, sf_dir)
        c, o = spark.table("customer"), spark.table("orders")
        li = spark.table("lineitem")
        s, n, r = (spark.table("supplier"), spark.table("nation"),
                   spark.table("region"))
        o = o.filter((F.col("o_orderdate") >= "1996-01-01")
                     & (F.col("o_orderdate") < "1999-01-01"))
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
                  & (c.c_nationkey == s.s_nationkey))
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .filter(F.col("r_name") == "ASIA"))
        return j.groupBy("n_name").agg(
            F.round(F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"))
    q["tpch_q5_local_supplier"] = tpch_q5

    def customers_without_orders(spark, sf_dir):
        _register(spark, sf_dir)
        c, o = spark.table("customer"), spark.table("orders")
        return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")
    q["customers_without_orders"] = customers_without_orders

    def events_by_type_hour(spark, sf_dir):
        _register(spark, sf_dir)
        e = spark.table("events")
        return e.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
        ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    q["events_by_type_hour"] = events_by_type_hour

    def events_sessionize(spark, sf_dir):
        _register(spark, sf_dir)
        e = spark.table("events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        with_s = e.withColumn(
            "new_s", F.when(gap > 1800, 1).otherwise(0)
        ).withColumn("session_id", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        return with_s.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events"))
    q["events_sessionize"] = events_sessionize

    # --- extended coverage (remaining SURVEY.md §2 families) ---------------
    from entry_ext import ext_queries

    q.update(ext_queries())
    return q


def oracle_sql() -> dict[str, str]:
    t = f"WITH triples AS ({TRIPLES_SQL})"
    o: dict[str, str] = {}

    o["profile_scalars"] = f"""{t}
    SELECT count(*) AS num_triples,
           (SELECT count(DISTINCT o) FROM triples WHERE p = 'rdf:type') AS num_classes,
           (SELECT count(DISTINCT s) FROM triples WHERE p = 'rdf:type') AS num_entities,
           count(DISTINCT p) AS num_properties
    FROM triples"""

    o["profile_triples_per_property"] = f"""{t}
    SELECT p, count(*) AS num_triples FROM triples GROUP BY p"""

    o["profile_subjects_per_property"] = f"""{t}
    SELECT p, count(DISTINCT s) AS num_subjects FROM triples GROUP BY p"""

    o["profile_entities_per_class"] = f"""{t}
    SELECT o AS cls, count(DISTINCT s) AS num_instances
    FROM triples WHERE p = 'rdf:type' GROUP BY o"""

    o["profile_degree_topk"] = f"""{t}
    , deg AS (
      SELECT node, CAST(sum(od) AS BIGINT) AS out_degree,
             CAST(sum(id_) AS BIGINT) AS in_degree
      FROM (
        SELECT s AS node, 1 AS od, 0 AS id_ FROM triples
        UNION ALL
        SELECT o, 0, 1 FROM triples WHERE o_kind = 'iri') n
      GROUP BY node)
    SELECT node, out_degree, in_degree,
           out_degree + in_degree AS degree
    FROM deg ORDER BY degree DESC, node LIMIT 20"""

    o["shape_functional_property"] = """
    SELECT 'urn:p:hasSupplier' AS item, concat('urn:order:', l_orderkey) AS focus
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    GROUP BY l_orderkey HAVING count(*) > 1"""

    o["shape_ifp_uniqueness"] = """
    WITH subj AS (
      SELECT concat('urn:nation:', c_nationkey) AS val,
             concat('urn:cust:', c_custkey) AS s FROM customer
      UNION ALL
      SELECT concat('urn:nation:', s_nationkey), concat('urn:supp:', s_suppkey)
      FROM supplier)
    SELECT 'urn:p:inNation' AS item, val AS focus
    FROM subj GROUP BY val HAVING count(DISTINCT s) > 1"""

    o["shape_label_for_entities"] = """
    WITH entities AS (
      SELECT concat('urn:order:', o_orderkey) AS s FROM orders
      UNION SELECT concat('urn:cust:', c_custkey) FROM customer
      UNION SELECT concat('urn:supp:', s_suppkey) FROM supplier
      UNION SELECT concat('urn:nation:', n_nationkey) FROM nation
      UNION SELECT concat('urn:part#', p_partkey) FROM part
      UNION SELECT concat('urn:region:', r_regionkey) FROM region),
    labeled AS (
      SELECT concat('urn:cust:', c_custkey) AS s FROM customer
      WHERE c_custkey % 2 = 0
      UNION SELECT concat('urn:nation:', n_nationkey) FROM nation)
    SELECT s AS focus FROM entities WHERE s NOT IN (SELECT s FROM labeled)"""

    o["shape_disjoint_classes"] = """
    SELECT DISTINCT concat('urn:supp:', s_suppkey) AS focus
    FROM supplier WHERE s_suppkey % 5 = 0"""

    o["shape_irreflexive"] = """
    SELECT DISTINCT concat('urn:cust:', o_custkey) AS focus
    FROM orders WHERE o_orderkey % 7 = 0"""

    o["shape_asymmetric"] = """
    WITH e AS (
      SELECT concat('urn:nation:', n_nationkey) AS s,
             concat('urn:nation:', (n_nationkey + 1) % 25) AS o FROM nation
      UNION
      SELECT concat('urn:nation:', (n_nationkey + 1) % 25),
             concat('urn:nation:', n_nationkey) FROM nation
      WHERE n_nationkey < 12)
    SELECT DISTINCT a.s AS focus FROM e a JOIN e b ON a.s = b.o AND a.o = b.s"""

    o["shape_correct_range_class"] = """
    SELECT DISTINCT concat('urn:order:', o_orderkey) AS focus
    FROM orders WHERE o_custkey % 3 <> 0"""

    o["shape_malformed_literal"] = """
    SELECT DISTINCT concat('urn:order:', o_orderkey) AS focus
    FROM orders WHERE o_orderkey % 11 = 0"""

    o["shape_hash_uris"] = """
    SELECT concat('urn:part#', p_partkey) AS focus FROM part"""

    o["shape_interlinking_completeness"] = """
    SELECT concat('urn:order:', o_orderkey) AS focus FROM orders
    UNION SELECT concat('urn:cust:', c_custkey) FROM customer
    UNION SELECT concat('urn:supp:', s_suppkey) FROM supplier
    UNION SELECT concat('urn:nation:', n_nationkey) FROM nation
    UNION SELECT concat('urn:part#', p_partkey) FROM part
    UNION SELECT concat('urn:region:', r_regionkey) FROM region"""

    o["dqa_scores"] = """
    WITH ent AS (SELECT count(*) AS n FROM (
      SELECT concat('urn:order:', o_orderkey) AS s FROM orders
      UNION SELECT concat('urn:cust:', c_custkey) FROM customer
      UNION SELECT concat('urn:supp:', s_suppkey) FROM supplier
      UNION SELECT concat('urn:nation:', n_nationkey) FROM nation
      UNION SELECT concat('urn:part#', p_partkey) FROM part
      UNION SELECT concat('urn:region:', r_regionkey) FROM region)),
    fp_viol AS (SELECT count(*) AS n FROM (
      SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      GROUP BY l_orderkey HAVING count(*) > 1)),
    fp_subj AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
    lbl_viol AS (SELECT count(*) AS n FROM (
      SELECT concat('urn:order:', o_orderkey) AS s FROM orders
      UNION SELECT concat('urn:supp:', s_suppkey) FROM supplier
      UNION SELECT concat('urn:part#', p_partkey) FROM part
      UNION SELECT concat('urn:region:', r_regionkey) FROM region
      UNION SELECT concat('urn:cust:', c_custkey) FROM customer
            WHERE c_custkey % 2 <> 0)),
    hash_viol AS (SELECT count(*) AS n FROM part)
    SELECT 'FunctionalProperty' AS metric, 'urn:p:hasSupplier' AS item,
           round(1.0 - (SELECT n FROM fp_viol) * 1.0 / (SELECT n FROM fp_subj), 6) AS measure,
           (SELECT n FROM fp_viol) AS num_violations
    UNION ALL
    SELECT 'LabelForEntities', NULL,
           round(1.0 - (SELECT n FROM lbl_viol) * 1.0 / (SELECT n FROM ent), 6),
           (SELECT n FROM lbl_viol)
    UNION ALL
    SELECT 'UsageHashURIsEntities', NULL,
           round(1.0 - (SELECT n FROM hash_viol) * 1.0 / (SELECT n FROM ent), 6),
           (SELECT n FROM hash_viol)"""

    o["dedup_exact"] = """
    SELECT md5(lower(trim(text))) AS text_hash, count(*) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM documents GROUP BY 1 HAVING count(*) > 1"""

    o["dedup_ngram_jaccard"] = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS u(i)
      WHERE length(array_to_string(t[i:i+4], ' ')) > 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5"""

    o["pipe_decontaminate"] = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)
      WHERE length(array_to_string(t[i:i+7], ' ')) > 0)
    SELECT c.doc_id AS doc_id, e.doc_id AS eval_id, count(*) AS shared_ngrams
    FROM sh c JOIN sh e ON c.shingle = e.shingle
    WHERE c.doc_id % 17 <> 0 AND e.doc_id % 17 = 0
    GROUP BY 1, 2"""

    o["text_token_count"] = r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens_ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe
    FROM documents"""

    o["text_length_profile"] = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_len,
           CAST(max(n_chars) AS BIGINT) AS max_len,
           sum(n_chars) * 1.0 / count(*) AS mean_len,
           quantile_cont(n_chars, 0.5) AS p50_len,
           quantile_cont(n_chars, 0.9) AS p90_len,
           quantile_cont(n_chars, 0.99) AS p99_len
    FROM documents GROUP BY source"""

    o["text_quality"] = r"""
    WITH x AS (
      SELECT doc_id, text, length(text) AS n_chars,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tokens,
             concat(' ', lower(text), ' ') AS padded
      FROM documents),
    y AS (
      SELECT doc_id, n_chars, n_tokens,
             n_punct * 1.0 / nullif(n_chars, 0) AS pr,
             (CASE WHEN position(' the ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' and ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' of ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' to ' IN padded) > 0 THEN 1 ELSE 0 END
            + CASE WHEN position(' a ' IN padded) > 0 THEN 1 ELSE 0 END) AS hits
      FROM x)
    SELECT doc_id, n_chars, n_tokens, round(pr, 6) AS punct_ratio,
           hits AS stopword_hits,
           round((CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END)
               + hits / 5.0 * 0.3, 6) AS quality
    FROM y"""

    # language-id: marker occurrence scoring, argmax with lang-desc
    # tiebreak (mirrors language_id's strict-> override order). The CASE
    # chain is GENERATED from LANG_MARKERS so adding a language cannot
    # desync the oracle from the operator.
    lang_scores = []
    from shacl_dqa_prototype_spark.operators.textstats import LANG_MARKERS
    for lang in sorted(LANG_MARKERS):
        terms = " + ".join(
            f"(length(padded) - length(replace(padded, '{m}', ''))) / {len(m)}"
            for m in LANG_MARKERS[lang]
        )
        lang_scores.append(f"({terms}) AS score_{lang}")
    langs_desc = sorted(LANG_MARKERS, reverse=True)
    all_scores = ", ".join(f"score_{lg}" for lg in sorted(LANG_MARKERS))
    case_lines = [f"CASE WHEN greatest({all_scores}) <= 0 THEN 'und'"]
    for i, lang in enumerate(langs_desc[:-1]):
        rest = ", ".join(f"score_{lg}" for lg in langs_desc[i + 1 :])
        g = f"greatest({rest})" if "," in rest else rest
        case_lines.append(f"WHEN score_{lang} >= {g} THEN '{lang}'")
    case_lines.append(f"ELSE '{langs_desc[-1]}' END AS lang_pred")
    o["text_langid"] = f"""
    WITH x AS (SELECT doc_id, concat(' ', lower(text), ' ') AS padded FROM documents),
    sc AS (SELECT doc_id, {', '.join(lang_scores)} FROM x)
    SELECT doc_id,
      {' '.join(case_lines)}
    FROM sc"""

    o["sim_topk_cosine"] = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 3) AS cosine
    FROM embeddings WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC,
             vec_id ASC
    LIMIT 10"""

    o["tpch_q1_pricing"] = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus"""

    o["top_customer_per_nation"] = """
    WITH spend AS (
      SELECT c_nationkey, c_custkey, round(sum(o_totalprice), 2) AS spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, c_custkey),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY spend DESC, c_custkey ASC) AS rn
      FROM spend)
    SELECT c_nationkey, c_custkey, spend FROM ranked WHERE rn = 1"""

    o["tpch_q3_shipping"] = """
    SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10"""

    o["tpch_q5_local_supplier"] = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name"""

    o["customers_without_orders"] = """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"""

    o["events_by_type_hour"] = """
    SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
           count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2"""

    o["events_sessionize"] = """
    WITH x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch(date_trunc('second', ts))
                       - epoch(date_trunc('second', lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    y AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM x)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events
    FROM y GROUP BY user_id, session_id"""

    # --- text_fingerprint: min rolling-KR hash re-derived arithmetically --
    # window hash = Σ ord(c_j)·257^(15-j) mod 2^61-1 over every 16-char
    # window (driver docs are ASCII and ≥ 16 chars, so bytes == chars and
    # the short-doc branch never fires); HUGEINT keeps the partial sums
    # exact. Powers are precomputed Python-side.
    _FP_M = (1 << 61) - 1
    _fp_terms = " + ".join(
        f"ord(substr(d.text, p.i + {j}, 1))::HUGEINT * {pow(257, 15 - j, _FP_M)}"
        for j in range(16)
    )
    o["text_fingerprint"] = f"""
    WITH pos AS (
      SELECT unnest(generate_series(1,
        (SELECT max(length(text)) FROM documents))) AS i),
    wins AS (
      SELECT d.doc_id, ({_fp_terms}) % {_FP_M} AS h
      FROM documents d JOIN pos p ON p.i <= length(d.text) - 15)
    SELECT doc_id, CAST(min(h) AS BIGINT) AS fingerprint
    FROM wins GROUP BY doc_id"""

    # --- sim_ann_lsh: the full multi-probe LSH pipeline re-derived --------
    # Hyperplanes are the same deterministic sin() constants the operator
    # uses; bucket membership = sign of double-precision dot products
    # (empirical sign margin on the driver embeddings ≈ 3e-4, far above
    # any float-vs-double discrepancy); probe = Hamming ≤ 2 on the 12-bit
    # signature; exact cosine top-10 within the probed buckets.
    from shacl_dqa_prototype_spark.operators.similarity import _hyperplane

    def _hp_sql(i: int) -> str:
        return "[" + ",".join(repr(x) for x in _hyperplane(64, i, 42)) + "]::DOUBLE[]"

    _sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_hp_sql(i)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(12)
    )
    o["sim_ann_lsh"] = f"""
    WITH sigs AS (
      SELECT vec_id, e, ({_sig_terms}) AS sig
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
    q AS (SELECT e AS qe, sig AS qsig FROM sigs WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(e, (SELECT qe FROM q)), 3) AS cosine
    FROM sigs
    WHERE bit_count(xor(sig::BIGINT, (SELECT qsig FROM q)::BIGINT)) <= 2
    ORDER BY list_cosine_similarity(e, (SELECT qe FROM q)) DESC, vec_id ASC
    LIMIT 10"""

    # --- dedup_simhash_neardup: portable-hash SimHash votes, O(n²) verify -
    # 60-bit md5 token hash (= the operator's portable=True path); the
    # 4×16-bit pigeonhole banding in the operator is provably complete for
    # Hamming ≤ 3, so its output must EQUAL this exact all-pairs result.
    _sh_votes = ", ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(60)
    )
    _sh_fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(60)
    )
    o["dedup_simhash_neardup"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents),
    hs AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM toks WHERE length(tok) > 0),
    votes AS (SELECT doc_id, {_sh_votes} FROM hs GROUP BY doc_id),
    fp AS (SELECT doc_id, ({_sh_fp}) AS sh FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3"""

    # --- dedup_minhash_lsh: portable-hash MinHash + banding re-derived ----
    # Distinct word 5-gram shingles → 64 seeded md5-60bit min-hashes →
    # 16 bands of 4 rows → band-bucket equi-join. Structurally the same
    # algorithm run by an independent SQL engine end-to-end.
    _mh_mins = ", ".join(
        f"min(('0x' || substr(md5(shingle || chr(31) || '{i}'), 1, 15))::BIGINT) AS m{i}"
        for i in range(64)
    )
    _mh_buckets = ", ".join(
        "('0x' || substr(md5("
        + " || ',' || ".join(f"m{b * 4 + r}::VARCHAR" for r in range(4))
        + f"), 1, 15))::BIGINT AS bk{b}"
        for b in range(16)
    )
    _mh_bucket_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bk{b} AS bucket FROM bands"
        for b in range(16)
    )
    o["dedup_minhash_lsh"] = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents),
    pos AS (
      SELECT unnest(generate_series(0,
        (SELECT max(greatest(len(tk) - 5, 0)) FROM toks))) AS i),
    shingles AS (
      SELECT DISTINCT doc_id,
             array_to_string(tk[p.i + 1 : p.i + 5], ' ') AS shingle
      FROM toks t JOIN pos p ON p.i <= greatest(len(t.tk) - 5, 0)
      WHERE length(array_to_string(tk[p.i + 1 : p.i + 5], ' ')) > 0),
    sigs AS (SELECT doc_id, {_mh_mins} FROM shingles GROUP BY doc_id),
    bands AS (SELECT doc_id, {_mh_buckets} FROM sigs),
    buckets AS ({_mh_bucket_rows})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""

    # --- pipe_curate: the whole curation pipeline re-derived end-to-end —
    # quality gate (max_dup_word_frac=0.82) → per-source mean-quality
    # filter (>=10 docs, mean>=0.79) over the GATED set → MinHash-LSH
    # candidate pairs among survivors (same portable-md5 pipeline as
    # dedup_minhash_lsh, n=5) → connected components via recursive
    # closure → keep best quality per cluster (tie: min doc_id AS STRING,
    # matching the CC path's string node ids) → PII redaction.
    o["pipe_curate"] = rf"""
    WITH RECURSIVE gb AS (
      SELECT doc_id, text, source, trim(text) AS tt,
             concat(' ', lower(text), ' ') AS padded
      FROM documents),
    gw AS (
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
      FROM gb),
    gcnt AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(tt, '\s+')) AS word
            FROM gb WHERE length(tt) > 0)
      GROUP BY doc_id, word),
    gdups AS (
      SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS ndup
      FROM gcnt GROUP BY doc_id),
    gy AS (
      SELECT gw.doc_id, n, hits,
             n_nonws * 1.0 / nullif(n, 0) AS mwl,
             COALESCE(ndup, 0) * 1.0 / nullif(n, 0) AS dupf
      FROM gw LEFT JOIN gdups ON gw.doc_id = gdups.doc_id),
    g AS (
      SELECT doc_id FROM gy
      WHERE NOT (n < 5 OR n > 5000
                 OR (n > 0 AND (mwl < 2.0 OR mwl > 12.0))
                 OR COALESCE(dupf, 0) > 0.82 OR hits = 0)),
    k1 AS MATERIALIZED (
      SELECT b.doc_id, b.text, b.source, b.padded
      FROM gb b JOIN g USING (doc_id)),
    -- per-doc quality (quality_score formula, shared by the source
    -- filter and the keep-best policy)
    q AS MATERIALIZED (
      SELECT doc_id, source,
             round((CASE WHEN length(text) BETWEEN 50 AND 10000
                         THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN length(regexp_replace(
                        text, '[^.,;:!?]', '', 'g')) * 1.0
                        / nullif(length(text), 0) <= 0.1
                         THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN position(' the ' IN padded) > 0 THEN 1 ELSE 0 END
                  + CASE WHEN position(' and ' IN padded) > 0 THEN 1 ELSE 0 END
                  + CASE WHEN position(' of ' IN padded) > 0 THEN 1 ELSE 0 END
                  + CASE WHEN position(' to ' IN padded) > 0 THEN 1 ELSE 0 END
                  + CASE WHEN position(' a ' IN padded) > 0 THEN 1 ELSE 0 END)
                   / 5.0 * 0.3, 6) AS quality
      FROM k1),
    sagg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(round(quality * 100) AS BIGINT)) AS BIGINT) AS sq
      FROM q GROUP BY source),
    ok_src AS (
      SELECT source FROM sagg
      WHERE n_docs >= 10
        AND round(CAST(sq AS DOUBLE) / n_docs / 100.0, 6) >= 0.79),
    k2 AS MATERIALIZED (
      SELECT k1.doc_id, k1.text FROM k1 JOIN ok_src USING (source)),
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      FROM k2),
    pos AS (
      SELECT unnest(generate_series(0,
        (SELECT max(greatest(len(tk) - 5, 0)) FROM toks))) AS i),
    shingles AS (
      SELECT DISTINCT doc_id,
             array_to_string(tk[p.i + 1 : p.i + 5], ' ') AS shingle
      FROM toks t JOIN pos p ON p.i <= greatest(len(t.tk) - 5, 0)
      WHERE length(array_to_string(tk[p.i + 1 : p.i + 5], ' ')) > 0),
    sigs AS (SELECT doc_id, {_mh_mins} FROM shingles GROUP BY doc_id),
    bands AS (SELECT doc_id, {_mh_buckets} FROM sigs),
    buckets AS ({_mh_bucket_rows}),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    cedges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM cedges
      UNION
      SELECT r.src, e.b FROM reach r JOIN cedges e ON r.dst = e.a),
    comp AS (
      SELECT src AS doc_id, min(CAST(dst AS VARCHAR)) AS component
      FROM reach GROUP BY src),
    ranked AS (
      SELECT c.doc_id,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY q.quality DESC, CAST(c.doc_id AS VARCHAR)) AS rn
      FROM comp c JOIN q ON q.doc_id = c.doc_id),
    losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
        '\+[0-9]([()\-. ]{{0,2}}[0-9]){{6,14}}|\(?[0-9]{{3}}\)?[-. ]?[0-9]{{3}}[-. ][0-9]{{4}}',
        '<PHONE>', 'g'),
        '\b([0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}\b', '<IP>', 'g') AS text
    FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""

    from entry_ext import ext_oracles

    o.update(ext_oracles())
    # incremental DQA derives the same violation sets from mergeable state
    # (+ the monotone log), so those entries share the batch oracles
    # incremental LSH index union == batch LSH candidate generation
    o["kg_streaming_neardup"] = o["dedup_minhash_lsh"]
    # streaming novelty-at-ingest union == batch first-occurrence novelty
    # (id-ordered epochs — the operator's documented parity contract)
    o["kg_streaming_novelty"] = o["dedup_ngram_novelty"]
    o["incremental_dqa_label"] = o["shape_label_for_entities"]
    o["streaming_dqa_label"] = o["shape_label_for_entities"]
    o["incremental_dqa_scores"] = o["dqa_scores"]
    o["incremental_dqa_range_cls"] = o["shape_correct_range_class"]
    o["incremental_dqa_disjoint"] = o["shape_disjoint_classes"]
    o["incremental_dqa_asymmetric"] = o["shape_asymmetric"]
    # r5: post-vacuum state must still derive the exact batch profile
    o["incremental_dqa_vacuum"] = o["profile_triples_per_property"]
    return o
