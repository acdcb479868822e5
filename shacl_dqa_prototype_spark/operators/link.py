"""E3/E4 — entity linking: broadcast candidate generation + disambiguation.

north_star: "link mentions via broadcast candidate dictionary + salted
hash-join disambiguation scoring".

Plan shape (all native DataFrame ops, zero Python), tuned so the big
(mention-cardinality) data crosses the network exactly once:

  mentions → long format (role s/o; fact payload rides the s-rows)
    ⋈ F.broadcast(dictionary ⊕ per-surface candidate counts)   -- E3,
      candidate fan-out AND ambiguity degree in one broadcast lookup
      (a per-mention count(*) window would cost an extra shuffle)
    → THE shuffle, by doc_id, then with no further exchange:
      coherence window over (doc_id, candidate) — does the candidate
      appear unambiguously elsewhere in this doc? — and ONE hash
      aggregate over the mention key that does top-1 per role
      (conditional min_by over struct(-score, candidate) — no row_number
      sort) AND the s/o reassembly → (s_iri, o_iri, payload)

  popularity = docs-per-entity as a plain count_distinct, broadcast and
  joined on the reduce side of the shuffle, so its aggregate runs beside
  that shuffle's map stage rather than before it. Spark plans it as a
  two-phase aggregate whose first shuffle keys on (candidate, doc_id), so
  the hot entity's rows already spread over many reducers; an explicit
  salt on doc_id measured slower with the same result (E4 skew handling
  rests on that rewrite and AQE).

Surfaces missing from the dictionary pass through as mint-IRI fallbacks so
recall never silently drops rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.datagen import EX, P_DEPICTED_IN

MINT_NS = f"{EX}mint/"

_KEY = ["doc_id", "span_pos", "fact_idx"]
_PAYLOAD = ["pred", "obj_literal", "obj_dtype", "obj_lang"]


def _surface_long(mentions: DataFrame) -> DataFrame:
    """Both mention roles in one long DF; fact payload carried on the
    's' rows (NULL on 'o' rows) so no join-back is needed later."""
    subj = mentions.select(
        *_KEY, F.lit("s").alias("role"),
        F.col("subj_surface").alias("surface"), *_PAYLOAD,
    )
    obj = mentions.filter(F.col("obj_surface").isNotNull()).select(
        *_KEY, F.lit("o").alias("role"),
        F.col("obj_surface").alias("surface"),
        *[F.lit(None).cast("string").alias(c) for c in _PAYLOAD],
    )
    return subj.unionByName(obj)


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Resolve every mention surface to one entity IRI.

    Returns one row per mention (doc_id, span_pos, fact_idx) with columns
    (s_iri, o_iri, pred, obj_literal, obj_dtype, obj_lang)."""
    long = _surface_long(mentions)

    # Ambiguity degree is a property of the SURFACE — precompute on the
    # tiny dictionary and broadcast it with the candidates.
    dict_w_counts = dictionary.withColumn(
        "n_cands", F.count("*").over(Window.partitionBy("surface"))
    )

    # E3 — candidate generation: broadcast hash join, no shuffle.
    cands = long.join(F.broadcast(dict_w_counts), "surface", "left").select(
        *_KEY, "role", *_PAYLOAD,
        F.coalesce(
            "candidate",
            F.concat(F.lit(MINT_NS), F.sha2(F.col("surface"), 256).substr(1, 16)),
        ).alias("candidate"),
        F.coalesce("prior", F.lit(1.0)).alias("prior"),
        F.coalesce("n_cands", F.lit(1)).alias("n_cands"),
    )

    # The popularity aggregate below and the main scoring path each run
    # the mention scan + broadcast dictionary join (their downstream
    # partitionings differ — candidate vs doc_id — so no exchange reuse
    # bridges them). That second pass is DELIBERATE: the scan + broadcast
    # hash join is columnar whole-stage-codegen over a compressed parquet
    # snapshot, which is far cheaper than materializing the ~(2×mentions)-
    # row candidate fan-out into block-manager storage — an earlier
    # localCheckpoint here evicted under heap pressure at 10^7-doc scale
    # (the candidates exceed the storage pool) and the eviction taxed the
    # wide configs hardest: the 8-thread link stage ran 1.7× slower than
    # with recompute, and at 10^12 docs pinning the fan-out is a non-starter.
    # The cheap second pass assumes ``mentions`` reads a snapshot, as in
    # the construction pipeline. A caller that passes a live extraction
    # plan (e.g. the kg_link_entities contract entry in entry_ext.py) pays
    # a second run of the mapInArrow extraction; persist or snapshot the
    # mentions first where that matters.
    # E4 — popularity feature (docs per candidate), broadcast back
    popularity = cands.groupBy("candidate").agg(
        F.count_distinct("doc_id").alias("popularity"))

    # THE one full shuffle of the mention stream: co-partition by doc_id.
    # HashPartitioning(doc_id) satisfies ClusteredDistribution for BOTH the
    # coherence window (doc_id, candidate) AND the final per-mention-key
    # groupBy (key starts with doc_id), so neither adds another exchange
    # (tests/test_construction.py checks the plan). The popularity joins
    # AFTER the shuffle: the broadcast is then needed only by the reduce
    # side, so its aggregate runs beside the shuffle's map stage instead
    # of before it.
    cands = cands.repartition(F.col("doc_id")).join(
        F.broadcast(popularity), "candidate", "left")

    # context coherence over (doc_id, candidate) — no extra shuffle
    coh_w = Window.partitionBy("doc_id", "candidate")
    scored = cands.withColumn(
        "coherence", F.max((F.col("n_cands") == 1).cast("double")).over(coh_w)
    ).withColumn(
        "score",
        F.col("prior")
        + 2.0 * F.col("coherence")
        + 0.001 * F.log1p(F.coalesce("popularity", F.lit(0))),
    )

    # shuffle 2 — top-1 per mention-role AND role reassembly fused into ONE
    # hash aggregate (map-side partials; no row_number sort). min_by over
    # struct(-score, candidate) = max score, ties broken by min candidate;
    # the conditional ordering key is NULL for the other role, which min_by
    # skips. Payload rides the 's' rows.
    def top1(role: str) -> F.Column:
        cond = F.col("role") == role
        return F.min_by(
            F.when(cond, F.col("candidate")),
            F.when(cond, F.struct((-F.col("score")).alias("ns"),
                                  F.col("candidate").alias("c"))),
        )

    return scored.groupBy(*_KEY).agg(
        top1("s").alias("s_iri"),
        top1("o").alias("o_iri"),
        *[F.max(F.when(F.col("role") == "s", F.col(c))).alias(c) for c in _PAYLOAD],
    )


def mentions_to_triples(linked: DataFrame) -> DataFrame:
    """Project linked mentions into the canonical triple schema T."""
    is_media = F.col("pred") == P_DEPICTED_IN
    return linked.select(
        F.col("s_iri").alias("s"),
        F.col("pred").alias("p"),
        F.coalesce("o_iri", "obj_literal").alias("o"),
        F.when(F.col("o_iri").isNotNull() | is_media, "iri")
        .otherwise("literal")
        .alias("o_kind"),
        F.when(F.col("o_iri").isNull() & ~is_media, F.col("obj_dtype"))
        .alias("o_dtype"),
        F.when(F.col("o_iri").isNull() & ~is_media, F.col("obj_lang"))
        .alias("o_lang"),
    ).dropDuplicates(["s", "p", "o", "o_kind", "o_dtype", "o_lang"])
