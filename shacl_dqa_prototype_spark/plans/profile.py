"""B1–B9 — graph profiling: the reference's profile_graph
(reference utils.py:62-135), derived from the same three aggregates
that batch and incremental DQA keep as state.

GraphProfile is built from subj_flags (s, *SUBJECT_FLAGS), ps_counts
(p, s, n) and cls_pairs (cls, s): profile_graph takes them as lazy
expressions over T (constraints.profile_aggregates), and
incremental.profile_from_state as reads of the persisted snapshots. So the
B1-B8 semantics are written once, here, for both paths.

Its three tables stay lazy DataFrames: per property (p, num_triples,
num_subjects), per class (cls, num_instances) and the one-row entity
counts. Their keys are the usage sets that prune shape instantiation and
their values every ratio denominator (utils.py:849-871). They are
collected once, as concurrent jobs, the first time the profile is read
(GraphProfile.collected): the usage sets, the seven scalars and
score_plan's denominators all read that one collect.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import cached_property

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.plans.constraints import (
    DQAConfig,
    profile_aggregates,
)

SCALARS = ("num_triples", "num_classes", "num_entities", "num_properties",
           "num_entities_interlinking", "num_entities_label",
           "num_entities_description")


def collect_concurrently(*dfs: DataFrame) -> list[list[Row]]:
    """Collect independent DataFrames as concurrent Spark jobs, so that
    small driver-bound collects overlap the large one instead of queueing
    behind it."""
    with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
        return list(ex.map(DataFrame.collect, dfs))


class GraphProfile:
    """The graph profile (B1-B8) of the graph the three aggregates cover.
    The scalars in SCALARS read as attributes (``profile.num_entities``)."""

    def __init__(self, subj_flags: DataFrame, ps_counts: DataFrame,
                 cls_pairs: DataFrame):
        self.per_property = ps_counts.groupBy("p").agg(
            F.sum("n").cast("long").alias("num_triples"),
            F.count("*").alias("num_subjects"))
        self.entities_per_class = cls_pairs.groupBy("cls").agg(
            F.countDistinct("s").alias("num_instances"))
        # B8 counts cover ALL subjects carrying the property, not just
        # typed entities
        self.entity_counts = subj_flags.agg(*[
            F.sum(F.col(flag).cast("long")).alias(name) for name, flag in (
                ("num_entities", "is_entity"),
                ("num_entities_interlinking", "has_ilp"),
                ("num_entities_label", "has_label"),
                ("num_entities_description", "has_desc"))])

    @property
    def triples_per_property(self) -> DataFrame:
        return self.per_property.select("p", "num_triples")

    @property
    def subjects_per_property(self) -> DataFrame:
        return self.per_property.select("p", "num_subjects")

    @cached_property
    def collected(self) -> tuple[dict[str, tuple[int, int]], dict[str, int],
                                 dict[str, int]]:
        """The three tables, collected once as concurrent jobs:
        {p: (num_triples, num_subjects)}, {cls: num_instances} and the
        entity counts by name (a sum over an empty graph is NULL: 0)."""
        props, classes, (ents,) = collect_concurrently(
            self.per_property, self.entities_per_class, self.entity_counts)
        return ({r["p"]: (r["num_triples"], r["num_subjects"]) for r in props},
                dict(map(tuple, classes)),
                {k: v or 0 for k, v in ents.asDict().items()})

    def __getattr__(self, name: str) -> int:
        if name in SCALARS:
            return self.as_dict()[name]
        raise AttributeError(name)

    def as_dict(self) -> dict[str, int]:
        props, classes, ents = self.collected
        scalars = {"num_triples": sum(n for n, _ in props.values()),
                   "num_classes": len(classes),
                   "num_properties": len(props), **ents}
        return {k: scalars[k] for k in SCALARS}

    def usage_sets(self) -> tuple[set[str], set[str]]:
        """(used properties, used classes): the keys of the per-property
        and per-class tables."""
        props, classes, _ = self.collected
        return set(props), set(classes)


def profile_graph(
    T: DataFrame,
    type_property: str,
    labeling_property: str,
    description_property: str,
    interlinking_property: str,
) -> GraphProfile:
    """The profile of T, over the lazy profile aggregates of T; no job runs
    until a table is collected or a scalar is read."""
    cfg = DQAConfig(type_property=type_property,
                    labeling_property=labeling_property,
                    description_property=description_property,
                    interlinking_property=interlinking_property)
    return GraphProfile(**profile_aggregates(T, cfg))


def infer_namespace(T: DataFrame) -> str:
    """B9 — most common namespace of subject IRIs (utils.py:138-154).
    The reference splits '#'-FIRST (rsplit('#') when present, else
    rsplit('/')) — a single greedy [#/] regex would capture through a
    '/' occurring after the '#' (…vocab#section/item → …vocab#section/),
    mis-deriving base_uri/uri_space for such datasets."""
    row = (
        T.filter(~F.col("s").startswith("_:"))
        .select(
            F.when(F.col("s").contains("#"),
                   F.regexp_extract("s", r"^(.*#)", 1))
            .otherwise(F.regexp_extract("s", r"^(.*/)", 1)).alias("ns"))
        .filter(F.col("ns") != "")
        .groupBy("ns")
        .count()
        .orderBy(F.desc("count"), F.asc("ns"))
        .limit(1)
        .first()
    )
    return row["ns"] if row else ""


def literal_datatypes(T: DataFrame) -> DataFrame:
    """Per-datatype literal histogram — a profile extension over the
    reference's per-property tables (utils.py:62-135 counts per property;
    this cuts the same scan by the EFFECTIVE datatype instead): explicit
    ``o_dtype`` when present, else ``rdf:langString`` for lang-tagged
    literals, else ``xsd:string`` (RDF 1.1 simple-literal semantics).
    Reports triples and distinct carrying properties per datatype — the
    table a deployment reads before deciding which MalformedLiteral /
    CorrectRange(datatype) checks are worth enabling.

    Scale shape: one scan with the filter pushed to the store → one
    groupBy(datatype) with map-side partial aggregation; output is
    O(#datatypes) rows (bounded by the vocabulary, not the data)."""
    from shacl_dqa_prototype_spark.functions.terms import RDF_LANGSTRING, XSD

    effective = F.coalesce(
        F.col("o_dtype"),
        F.when(F.col("o_lang").isNotNull(), F.lit(RDF_LANGSTRING)),
        F.lit(f"{XSD}string"),
    )
    return (
        T.filter(F.col("o_kind") == "literal")
        .groupBy(effective.alias("datatype"))
        .agg(F.count("*").cast("long").alias("num_literals"),
             F.countDistinct("p").alias("num_properties"))
    )


def degree_distribution(T: DataFrame) -> DataFrame:
    """Log2-bucketed histogram of total node degree (out = triples as
    subject, in = triples as IRI object) — the skew diagnostic read
    BEFORE picking mitigations: a heavy tail here is what makes the
    `degree_topk` hot list worth salting on (operators/link.py E4).

    ``bucket`` is the exact bit length of the degree minus one
    (len(bin(degree)) - 1 == floor(log2(degree)) for integers, computed
    WITHOUT floating-point log so engines can't disagree at exact powers
    of two); ``min_degree``/``max_degree`` bound each bucket.

    Scale shape: one union scan → one groupBy(node) shuffle with
    map-side partials → a second, tiny groupBy(bucket) over O(#nodes)
    rows collapsing to O(log(max_degree)) rows."""
    nodes = T.select(
        F.col("s").alias("node"), F.lit(1).alias("od"), F.lit(0).alias("id_"),
    ).unionByName(
        T.filter(F.col("o_kind") == "iri").select(
            F.col("o").alias("node"), F.lit(0).alias("od"),
            F.lit(1).alias("id_"))
    )
    deg = nodes.groupBy("node").agg(
        (F.sum("od") + F.sum("id_")).cast("long").alias("degree"))
    bucket = (F.length(F.bin(F.col("degree"))) - 1).cast("long")
    return (
        deg.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_nodes"),
             F.min("degree").alias("min_degree"),
             F.max("degree").alias("max_degree"))
    )


def degree_topk(T: DataFrame, k: int = 20) -> DataFrame:
    """Top-k graph nodes by degree (out = triples as subject, in = triples
    as IRI object), ties broken by node id — the connectivity profile a KG
    operator reads before picking skew mitigations (the hot node list IS
    the salting candidate list for joins against the graph).

    Scale shape: one union scan → one groupBy(node) shuffle with map-side
    partial sums → TakeOrdered(k) (per-partition top-k then a k-sized
    driver merge, never a global sort)."""
    nodes = T.select(
        F.col("s").alias("node"), F.lit(1).alias("od"), F.lit(0).alias("id_"),
    ).unionByName(
        T.filter(F.col("o_kind") == "iri").select(
            F.col("o").alias("node"), F.lit(0).alias("od"),
            F.lit(1).alias("id_"))
    )
    return (
        nodes.groupBy("node")
        .agg(F.sum("od").cast("long").alias("out_degree"),
             F.sum("id_").cast("long").alias("in_degree"))
        .withColumn("degree", (F.col("out_degree") + F.col("in_degree")))
        .orderBy(F.desc("degree"), F.asc("node"))
        .limit(k)
    )
