"""Incremental DQA: exact maintenance of profile + EVERY constraint
family across snapshot APPENDs, without rescanning old triples.

At 100 TB a corpus grows by appends; re-running the whole DQA per append
re-reads everything. Incremental coverage comes in TWO tiers that
together cover all families — no family re-scans historical triples:

1. Mergeable state (classic incremental-view-maintenance aggregates) —
   each merge is ONE co-partitioned shuffle of (delta-aggregate ∪ touched
   state buckets), never a scan of historical triples:

     subj_flags  (s, is_entity, is_exempt, has_label, has_ilp, has_desc,
                  is_prolix, lbl_nolang, dsc_nolang)
                 [constraints.subject_flags]     merge: groupBy(s) bool-max
     ps_counts   (p, s, n)                       merge: groupBy(p,s) sum
     cls_pairs   (cls, s)                        merge: union-distinct
     po_pairs    (p, o, s)  [IFP props only]     merge: union-distinct
     dom_pairs   (p, s)    [class-domain props]  merge: union-distinct
     spo_pairs   (p, s, o) [class-range + asymmetric props]
                                                 merge: union-distinct

   Commits are BUCKET-PRUNED (SnapshotTable.commit_merge_buckets): only
   the hash buckets the delta touches are rewritten; untouched buckets
   are carried by reference. Appending 1k triples to a 10⁹-subject state
   rewrites O(1k-rows-worth of buckets), not the whole table.

2. Append-monotone filter families (delta_monotone_violations): families
   whose violations are decided per-triple against broadcast vocab dims —
   Misuse/Misplaced/Deprecated/Irreflexive/CorrectRange(datatype+nodeKind)
   /MalformedLiteral/UsageExternalURIEntities/SelfDescriptiveFormat-
   Properties. A delta's violations are FINAL (no later triple can create
   or retract them), so they are evaluated on the delta alone and
   commit_append-ed to a violations log — zero state, zero rewrite.

Derived EXACTLY from tier-1 state (parity asserted in
tests/test_incremental.py):
  * profile: num_triples / num_properties / triples_per_property (sums
    over ps_counts), subjects_per_property (row counts), num_entities /
    label/ilp coverage (subj_flags), entities_per_class (cls_pairs);
  * entity-scoped families C2-C6/C8-C13/C15 (the batch compiler's
    flag_families, one fused scan of subj_flags);
  * C24 FunctionalProperty (ps_counts n > 1 for functional props);
  * C23 IFP uniqueness (po_pairs grouped, >1 distinct subject);
  * the RETRACTABLE anti-join families — a later type-triple can retract
    their violations, so they can't be monotone, but the anti-join only
    needs (pair-state, typing-state), both maintained:
      C26 CorrectDomain(class)   dom_pairs anti-join cls_pairs on s
      C29 CorrectRange(class)    spo_pairs anti-join cls_pairs on o
      C25 AsymmetricProperty     spo_pairs self-join pair swap
      C16 EntitiesDisjointClasses cls_pairs self-join on s
      C7  SchemaCompletenessClassUsage  vocab classes anti-join cls_pairs
    (dom_pairs is bucketed by s and spo_pairs by o to co-partition with
    cls_pairs(s) for the anti-joins.)

score_from_state re-scores the report from this state: the O(state) work
(violation counts, one read per state dimension) runs as concurrent Spark
jobs, everything O(#shapes) on the driver (scoring.score_rows).

State emits violations per DISTINCT (item, focus[, value]) — duplicate
raw triples don't produce duplicate violation rows the way a batch scan
does. Scoring is unaffected (it distincts focus nodes), and the parity
tests compare distinct sets.

Input contract: apply_delta dedups WITHIN each delta (matching the batch
path's dropDuplicates at read), but a triple RE-ASSERTED in a later
delta is the caller's responsibility — the sum-merged ps_counts has no
per-triple memory, so re-assertion inflates num_triples /
triples_per_property and can surface a false FunctionalProperty
violation. Appends produced by the construction pipeline are set-new by
construction; an at-least-once upstream should anti-join its delta
against the served triple table first.

State lives in SnapshotTables, so DQA state itself is atomic, resumable,
and time-travelable. apply_delta is IDEMPOTENT per delta_id: every table
commit records the delta id, and a retried apply skips tables whose log
already carries it — a crash between the seven commits is healed by
re-running the same delta (same scheme as the streaming sink's
(run, epoch) key in streaming/ingest.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from shacl_dqa_prototype_spark.plans.constraints import (
    OWL_THING,
    SUBJECT_FLAGS,
    DQAConfig,
    VocabTerm,
    compile_data_constraints,
    data_shapes,
    flag_families,
    fused_scan,
    subject_flags,
)
from shacl_dqa_prototype_spark.plans.scoring import (
    collect_concurrently,
    score_rows,
    violation_counts,
)
from shacl_dqa_prototype_spark.schemas import REPORT_SCHEMA, VIOLATIONS_SCHEMA
from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable
from shacl_dqa_prototype_spark.functions.terms import OWL_NAMED_INDIVIDUAL, RDFS

SUBJ_FLAGS_SCHEMA = StructType(
    [StructField("s", StringType(), False)]
    + [StructField(f, BooleanType(), True) for f in SUBJECT_FLAGS]
)
PS_COUNTS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("s", StringType(), False),
    StructField("n", LongType(), False),
])
CLS_PAIRS_SCHEMA = StructType([
    StructField("cls", StringType(), False),
    StructField("s", StringType(), False),
])
PO_PAIRS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("o", StringType(), False),
    StructField("s", StringType(), False),
])
DOM_PAIRS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("s", StringType(), False),
])
SPO_PAIRS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("s", StringType(), False),
    StructField("o", StringType(), False),
])

# Families whose violations are decided per-triple against broadcast vocab
# dims only — append-monotone: a delta's violations are final and complete.
MONOTONE_METRICS = (
    "UsageExternalURIEntities",
    "SelfDescriptiveFormatProperties",
    "MisplacedProperties",
    "MisplacedClasses",
    "MisuseOwlObjectProperties",
    "MisuseOwlDatatypeProperties",
    "DeprecatedClasses",
    "DeprecatedProperties",
    "IrreflexiveProperty",
    "CorrectRange",
    "MalformedLiteral",
)


def _dom_class_props(vocab_terms: list[VocabTerm]) -> dict[str, str]:
    """prop → class domain, for the props whose CorrectDomain branch is the
    sh:class anti-join (constraints.py dom_class routing; owl:Thing domains
    are the vacuous nodeKind shape — no violations, no state)."""
    return {t.term: t.domain for t in vocab_terms
            if t.term_kind != "class" and t.domain and not t.deprecated
            and t.domain != OWL_THING}


def _rng_class_props(vocab_terms: list[VocabTerm]) -> dict[str, str]:
    """prop → class range, for the props whose CorrectRange branch is the
    sh:class anti-join — same per-term-kind routing as the batch compiler
    (object_property: Thing/Resource → nodeKind, monotone tier;
    rdf_property: class-kind range ALWAYS sh:class, reference parity)."""
    out = {}
    for t in vocab_terms:
        if t.term_kind == "class" or not t.range or t.deprecated:
            continue
        if (t.term_kind == "object_property"
                and t.range not in (OWL_THING, f"{RDFS}Resource")):
            out[t.term] = t.range
        elif t.term_kind == "rdf_property" and t.range_kind != "literal":
            out[t.term] = t.range
    return out


def _asym_props(vocab_terms: list[VocabTerm]) -> list[str]:
    # batch parity: asymmetric harvesting does NOT exclude deprecated
    return [t.term for t in vocab_terms
            if t.term_kind != "class" and t.asymmetric]


@dataclass
class IncrementalDQAState:
    subj_flags: SnapshotTable
    ps_counts: SnapshotTable
    cls_pairs: SnapshotTable
    po_pairs: SnapshotTable
    dom_pairs: SnapshotTable
    spo_pairs: SnapshotTable
    mono_violations: SnapshotTable

    @classmethod
    def open(cls, spark: SparkSession, state_dir: str) -> "IncrementalDQAState":
        return cls(
            subj_flags=SnapshotTable(
                spark, os.path.join(state_dir, "subj_flags"), SUBJ_FLAGS_SCHEMA),
            ps_counts=SnapshotTable(
                spark, os.path.join(state_dir, "ps_counts"), PS_COUNTS_SCHEMA),
            cls_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "cls_pairs"), CLS_PAIRS_SCHEMA),
            po_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "po_pairs"), PO_PAIRS_SCHEMA),
            dom_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "dom_pairs"), DOM_PAIRS_SCHEMA),
            spo_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "spo_pairs"), SPO_PAIRS_SCHEMA),
            mono_violations=SnapshotTable(
                spark, os.path.join(state_dir, "mono_violations"),
                VIOLATIONS_SCHEMA),
        )

    def tables(self) -> dict[str, SnapshotTable]:
        return {
            "subj_flags": self.subj_flags, "ps_counts": self.ps_counts,
            "cls_pairs": self.cls_pairs, "po_pairs": self.po_pairs,
            "dom_pairs": self.dom_pairs, "spo_pairs": self.spo_pairs,
            "mono_violations": self.mono_violations,
        }

    def vacuum(self, keep_last: int = 1,
               orphan_grace_s: float = 3600.0) -> dict[str, int]:
        """Periodic maintenance for long streaming runs (r4 verdict item
        7): every epoch appends one merge commit per state table, so a
        many-epoch drain grows each table's dir chain and log without
        bound. vacuum() folds each chain back (compact) and drops the
        history no longer needed for time travel (expire_snapshots) —
        Iceberg's rewrite_data_files + expire_snapshots maintenance pair.
        Returns dirs-deleted per table; the before/after state-dir file
        count and bytes are measured in ``bench.py --streaming``.

        ``keep_last`` > 1 preserves rollback depth. Replay idempotence
        survives the vacuum: apply_delta's dedup is keyed on the
        ``delta_id`` log records, so before expiring them the compaction
        commit carries every applied id forward as
        ``applied_delta_ids`` (Iceberg's snapshot-summary-properties
        analog) and _already() consults both."""
        deleted: dict[str, int] = {}
        for name, t in self.tables().items():
            seen: set[str] = set()
            for s in t.snapshots():
                if s.get("delta_id"):
                    seen.add(s["delta_id"])
                seen.update(s.get("applied_delta_ids") or [])
            # force the fold whenever history will be dropped — the tip
            # record must carry the full applied-id set before expire
            # removes the per-delta records
            if len(t.snapshots()) > keep_last:
                t.compact(
                    max_dirs=0,
                    extra={"applied_delta_ids": sorted(seen)} if seen
                    else None)
            deleted[name] = len(t.expire_snapshots(
                keep_last=keep_last, orphan_grace_s=orphan_grace_s))
        return deleted


def delta_monotone_violations(
    delta: DataFrame, vocab_terms: list[VocabTerm], cfg: DQAConfig,
) -> DataFrame:
    """Violations of the append-monotone families for ONE delta batch.

    Reuses the batch compiler on the delta so the per-triple predicates
    (incl. the CorrectRange datatype/lexical-form logic) cannot drift from
    batch semantics, with two adjustments that make the evaluation
    delta-safe:
      * class-kind range info is stripped from object/rdf-property terms —
        the sh:class range branch is an anti-join against the FULL typing
        table and is NOT monotone (a later type-triple retracts the
        violation), so those stay with the batch re-evaluation tier;
      * usage pruning is bypassed (used_props = all vocab props): a prop
        unused in this delta simply matches no triples, and pruning by
        delta-local usage would need a profile job per append.
    The surviving branches are pure per-triple filters against broadcast
    dims, so union-over-deltas == batch-over-union (asserted in
    tests/test_incremental.py)."""
    safe = []
    for t in vocab_terms:
        nonmono_range = t.range is not None and (
            (t.term_kind == "object_property"
             and t.range not in (OWL_THING, f"{RDFS}Resource"))
            or (t.term_kind == "rdf_property" and t.range_kind != "literal")
        )
        safe.append(replace(t, range=None, range_kind=None)
                    if nonmono_range else t)
    plan = compile_data_constraints(
        delta, safe, [], cfg,
        used_props={t.term for t in safe if t.term_kind != "class"},
        used_classes=set(),
    )
    # violations_for unions ONLY the branches that can emit monotone
    # metrics — the per-subject flags aggregation and the anti-join
    # branches are never executed for a delta. Unpersist the plan's
    # never-materialized caches immediately: compile registers the subj
    # aggregate with the CacheManager eagerly, and a long-running
    # streaming job would otherwise leak one entry per microbatch.
    out = plan.violations_for(MONOTONE_METRICS)
    plan.unpersist()
    return out


def _changed_buckets(df: DataFrame, key: str, n_buckets: int) -> list[int]:
    """Distinct hash buckets the delta aggregate touches (≤ n_buckets rows
    collected — same bucket expression SnapshotTable._write_data uses)."""
    return [
        r["b"] for r in df.select(
            F.pmod(F.xxhash64(key), F.lit(n_buckets)).alias("b")
        ).distinct().collect()
    ]


def apply_delta(
    state: IncrementalDQAState,
    delta: DataFrame,
    cfg: DQAConfig,
    vocab_terms: list[VocabTerm],
    n_buckets: int = 32,
    delta_id: str | None = None,
    parallelism: int = 4,
) -> None:
    """Fold one appended triple batch into the DQA state.

    Each mergeable state table gets ONE bucket-pruned merge snapshot =
    merge(touched state buckets, delta aggregate); untouched buckets are
    carried by reference — the parquet write is O(|touched buckets|), not
    O(|state|). The monotone-family violations of the delta are appended
    to the violations log (append-only, no merge at all). Historical
    triples are never re-read.

    The seven table folds are mutually INDEPENDENT (disjoint state dirs
    and logs, all reading the one persisted delta), so they are submitted
    from a thread pool (``parallelism``; Spark schedules concurrent jobs
    fine) — the per-delta floor is the SLOWEST table's
    bucket-probe + merge-write, not the SUM of seven driver-synchronized
    round trips. The delta is materialized once before forking so
    concurrent jobs never race to compute the same cached partitions.
    Pass ``parallelism=1`` to fold sequentially.

    Pass ``delta_id`` (any stable string — a snapshot id, an epoch) to
    make the apply IDEMPOTENT: every table commit records it, and a retry
    after a crash that landed only some of the seven commits skips the
    tables already carrying the id (sum-merged ps_counts would otherwise
    double-count) — unchanged under parallel folding: each table's commit
    is still atomic and individually keyed. Old snapshots stay readable
    (time travel / rollback); call expire_snapshots to vacuum."""
    extra = {"delta_id": delta_id} if delta_id is not None else None

    def _already(table: SnapshotTable) -> bool:
        # per-delta records, plus the applied-id sets a vacuum compaction
        # carries forward when it expires those records
        return delta_id is not None and any(
            s.get("delta_id") == delta_id
            or delta_id in (s.get("applied_delta_ids") or ())
            for s in table.snapshots())

    def _fold_flags() -> None:
        # subj_flags: bool-max merge, bucketed by s so successive merges
        # and downstream per-subject work share the layout
        if _already(state.subj_flags):
            return
        d_flags = subject_flags(delta, cfg)
        bs = _changed_buckets(d_flags, "s", n_buckets)
        merged_flags = (
            state.subj_flags.read_buckets(bs)
            .unionByName(d_flags)
            .groupBy("s")
            .agg(*[F.max(f).alias(f) for f in SUBJECT_FLAGS])
        )
        state.subj_flags.commit_merge_buckets(
            merged_flags, bs, bucket_col="s", n_buckets=n_buckets,
            extra=extra)

    def _fold_ps() -> None:
        if _already(state.ps_counts):
            return
        d_ps = delta.groupBy("p", "s").agg(F.count("*").alias("n"))
        bs = _changed_buckets(d_ps, "s", n_buckets)
        merged_ps = (
            state.ps_counts.read_buckets(bs)
            .unionByName(d_ps)
            .groupBy("p", "s").agg(F.sum("n").cast("long").alias("n"))
        )
        state.ps_counts.commit_merge_buckets(
            merged_ps, bs, bucket_col="s", n_buckets=n_buckets, extra=extra)

    def _fold_cls() -> None:
        if _already(state.cls_pairs):
            return
        d_cls = (delta.filter(F.col("p") == cfg.type_property)
                 .select(F.col("o").alias("cls"), "s"))
        bs = _changed_buckets(d_cls, "s", n_buckets)
        if bs:
            merged_cls = (
                state.cls_pairs.read_buckets(bs)
                .unionByName(d_cls).distinct()
            )
            state.cls_pairs.commit_merge_buckets(
                merged_cls, bs, bucket_col="s", n_buckets=n_buckets,
                extra=extra)

    def _fold_po() -> None:
        ifp = [t.term for t in vocab_terms
               if t.inverse_functional and not t.deprecated]
        if _already(state.po_pairs):
            return
        d_po = delta.filter(F.col("p").isin(ifp)).select("p", "o", "s")
        bs = _changed_buckets(d_po, "o", n_buckets)
        if bs:
            merged_po = (
                state.po_pairs.read_buckets(bs)
                .unionByName(d_po).distinct()
            )
            state.po_pairs.commit_merge_buckets(
                merged_po, bs, bucket_col="o", n_buckets=n_buckets,
                extra=extra)

    def _fold_dom() -> None:
        # (p, s) pairs of class-domain props — CorrectDomain anti-joins
        # them against cls_pairs; bucketed by s so that join co-partitions
        dom_props = sorted(_dom_class_props(vocab_terms))
        if not dom_props or _already(state.dom_pairs):
            return
        d_dom = (delta.filter(F.col("p").isin(dom_props))
                 .select("p", "s").distinct())
        bs = _changed_buckets(d_dom, "s", n_buckets)
        if bs:
            merged_dom = (
                state.dom_pairs.read_buckets(bs)
                .unionByName(d_dom).distinct()
            )
            state.dom_pairs.commit_merge_buckets(
                merged_dom, bs, bucket_col="s", n_buckets=n_buckets,
                extra=extra)

    def _fold_spo() -> None:
        # (p, s, o) pairs of class-range + asymmetric props — range
        # anti-joins on o against cls_pairs (hence bucketed by o);
        # asymmetric self-joins within the (small) per-prop slice
        spo_props = sorted(set(_rng_class_props(vocab_terms))
                           | set(_asym_props(vocab_terms)))
        if not spo_props or _already(state.spo_pairs):
            return
        d_spo = (delta.filter(F.col("p").isin(spo_props))
                 .select("p", "s", "o").distinct())
        bs = _changed_buckets(d_spo, "o", n_buckets)
        if bs:
            merged_spo = (
                state.spo_pairs.read_buckets(bs)
                .unionByName(d_spo).distinct()
            )
            state.spo_pairs.commit_merge_buckets(
                merged_spo, bs, bucket_col="o", n_buckets=n_buckets,
                extra=extra)

    def _fold_mono() -> None:
        # monotone families: violations of THIS delta are final — plain
        # append, nothing merged, nothing rewritten
        if _already(state.mono_violations):
            return
        state.mono_violations.commit_append(
            delta_monotone_violations(delta, vocab_terms, cfg),
            extra=extra)

    folds = (_fold_flags, _fold_ps, _fold_cls, _fold_po, _fold_dom,
             _fold_spo, _fold_mono)
    # RDF is SET-semantic and the batch path dropDuplicates() the triple
    # table at read (main.py) — a duplicate triple WITHIN one delta must
    # not inflate the sum-merged ps_counts (false FunctionalProperty
    # violations, drifted num_triples). One delta-sized distinct matches
    # the batch semantics. Re-assertion ACROSS deltas remains the caller's
    # contract (see module docstring): deltas carry set-new triples.
    delta = delta.dropDuplicates().persist()
    try:
        # materialize the shared input ONCE so concurrent folds read the
        # cache instead of racing to compute the same partitions
        delta.count()
        if parallelism > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=parallelism) as ex:
                futures = [ex.submit(f) for f in folds]
                # surface the FIRST failure but let every fold finish —
                # partial commits are healed by the delta_id retry path
                errs = [f.exception() for f in futures]
            for e in errs:
                if e is not None:
                    raise e
        else:
            for f in folds:
                f()
    finally:
        delta.unpersist()


# ---------------------------------------------------------------------------
# derivations from state (all O(state), no triple scans)
# ---------------------------------------------------------------------------

def _state_dims(state: IncrementalDQAState
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One read per state dimension, shared by every derivation:
    (p, num_triples, num_subjects) per property from ps_counts,
    (cls, num_instances) per class from cls_pairs, and the one-row entity
    counts from subj_flags. The property and class keys are also the
    usage-pruning sets."""
    per_p = state.ps_counts.read().groupBy("p").agg(
        F.sum("n").cast("long").alias("num_triples"),
        F.count("*").alias("num_subjects"))
    per_cls = state.cls_pairs.read().groupBy("cls").agg(
        F.countDistinct("s").alias("num_instances"))
    # B8 counts cover ALL subjects carrying the property (profile_graph
    # semantics), not just typed entities
    entities = state.subj_flags.read().agg(
        F.sum(F.col("is_entity").cast("long")).alias("num_entities"),
        F.sum(F.col("has_label").cast("long")).alias("num_entities_label"),
        F.sum(F.col("has_ilp").cast("long")).alias("num_entities_interlinking"),
        F.sum(F.col("has_desc").cast("long")).alias("num_entities_description"),
    )
    return per_p, per_cls, entities


def profile_from_state(state: IncrementalDQAState) -> dict[str, DataFrame]:
    """The profile aggregates (B1-B8) re-expressed over the state tables."""
    per_p, per_cls, entities = _state_dims(state)
    scalars = per_p.agg(
        F.sum("num_triples").cast("long").alias("num_triples"),
        F.count("*").alias("num_properties"),
    ).crossJoin(entities).crossJoin(
        per_cls.agg(F.count("*").alias("num_classes")))
    return {
        "scalars": scalars,
        "triples_per_property": per_p.select("p", "num_triples"),
        "subjects_per_property": per_p.select("p", "num_subjects"),
        "entities_per_class": per_cls,
    }


def violations_from_state(
    state: IncrementalDQAState,
    vocab_terms: list[VocabTerm],
    cfg: DQAConfig,
    disjoint_pairs: list[tuple[str, str]] | None = None,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Violations for ALL constraint families from state + the monotone
    log, same (metric, item, focus, value) shape as
    compile_data_constraints emits (rows per distinct item/focus — see
    module docstring). ``disjoint_pairs``/``subclass_pairs`` mirror the
    batch compiler's arguments.

    Builds a plan only; no job runs until the result is evaluated. The
    batch compiler's usage pruning needs no collect here: the pair states
    hold pairs of used properties only, so pruning the class-domain,
    class-range and asymmetric branches by usage changes nothing, and the
    disjoint pairs are pruned by a semi-join with the typed classes."""
    spark = state.subj_flags.spark
    # entity-scoped families C2-C6/C8-C13/C15: the batch compiler's flag
    # families, in one fused scan of subj_flags
    parts = [fused_scan(state.subj_flags.read(), flag_families(cfg))]

    def _v(df, metric, item_col, focus_col, value_col=None):
        parts.append(df.select(
            F.lit(metric).alias("metric"),
            F.col(item_col).alias("item"),
            F.col(focus_col).alias("focus"),
            (F.col(value_col) if value_col
             else F.lit(None).cast("string")).alias("value")))

    fp = sorted(t.term for t in vocab_terms if t.functional and not t.deprecated)
    if fp:
        multi = state.ps_counts.read().filter(
            F.col("p").isin(fp) & (F.col("n") > 1))
        _v(multi, "FunctionalProperty", "p", "s")

    ifp = sorted(t.term for t in vocab_terms
                 if t.inverse_functional and not t.deprecated)
    if ifp:
        shared = (
            state.po_pairs.read().filter(F.col("p").isin(ifp))
            .groupBy("p", "o").agg(F.countDistinct("s").alias("ns"))
            .filter(F.col("ns") > 1)
        )
        _v(shared, "InverseFunctionalPropertyUniqueness", "p", "o")

    # ---- retractable anti-join families: state ⋈ state, no triple scan ----
    cls = state.cls_pairs.read()
    # typing extended through the rdfs:subClassOf closure (broadcast dim)
    typed = cls.select("s", F.col("cls").alias("o"))
    if subclass_pairs:
        closure = spark.createDataFrame(subclass_pairs, ["o", "anc"])
        typed = typed.unionByName(
            typed.join(F.broadcast(closure), "o")
            .select("s", F.col("anc").alias("o"))
        ).distinct()

    # C26 CorrectDomain(class): dom_pairs without a matching (s, domain)
    # typing row — both sides bucketed by s
    dom = _dom_class_props(vocab_terms)
    if dom:
        dom_df = spark.createDataFrame(list(dom.items()), ["p", "domain"])
        subj_prop = state.dom_pairs.read().join(F.broadcast(dom_df), "p")
        typed_as = typed.withColumnsRenamed({"o": "domain"})
        _v(subj_prop.join(typed_as, ["s", "domain"], "left_anti"),
           "CorrectDomain", "p", "s")

    # C29 CorrectRange(class): spo_pairs whose object lacks the range
    # typing — spo_pairs bucketed by o to co-partition with cls_pairs(s)
    rng = _rng_class_props(vocab_terms)
    if rng:
        rng_df = spark.createDataFrame(list(rng.items()), ["p", "range"])
        vals_c = state.spo_pairs.read().join(F.broadcast(rng_df), "p")
        typed_obj = typed.select(F.col("s").alias("o"),
                                 F.col("o").alias("range"))
        _v(vals_c.join(typed_obj, ["o", "range"], "left_anti"),
           "CorrectRange", "p", "s", "o")

    # C25 AsymmetricProperty: pair-swap semi self-join within state
    asym = sorted(_asym_props(vocab_terms))
    if asym:
        R = state.spo_pairs.read().filter(F.col("p").isin(asym))
        Rswap = R.select(F.col("p").alias("p2"), F.col("o").alias("s2"),
                         F.col("s").alias("o2"))
        mutual = R.join(
            Rswap,
            (R.p == Rswap.p2) & (R.s == Rswap.s2) & (R.o == Rswap.o2),
            "semi")
        _v(mutual, "AsymmetricProperty", "p", "s", "o")

    # C16 EntitiesDisjointClasses: directed pairs over the typing state,
    # pruned (as the batch compiler) to pairs whose first class has a
    # direct instance
    if disjoint_pairs:
        directed = sorted(set(disjoint_pairs)
                          | {(b, a) for (a, b) in disjoint_pairs})
        pair_df = spark.createDataFrame(directed, ["class_a", "class_b"]).join(
            cls.select(F.col("cls").alias("class_a")), "class_a", "semi")
        ta = typed.withColumnsRenamed({"o": "class_a"})
        tb = typed.withColumnsRenamed({"o": "class_b"})
        both = (ta.join(tb, "s")
                .join(F.broadcast(pair_df), ["class_a", "class_b"], "semi")
                .withColumn("pair", F.concat_ws("|", "class_a", "class_b")))
        _v(both, "EntitiesDisjointClasses", "pair", "s")

    # C7 SchemaCompletenessClassUsage: vocab classes with no instance that
    # isn't typed owl:NamedIndividual
    vclasses = [t.term for t in vocab_terms
                if t.term_kind == "class" and not t.deprecated]
    if vclasses:
        cls_df = spark.createDataFrame([(c,) for c in vclasses], ["cls"])
        ni = cls.filter(F.col("cls") == OWL_NAMED_INDIVIDUAL) \
                .select("s").distinct()
        with_instances = (cls.join(ni, "s", "left_anti")
                          .select("cls").distinct())
        missing = cls_df.join(F.broadcast(with_instances), "cls", "left_anti")
        _v(missing, "SchemaCompletenessClassUsage", "cls", "cls")

    # monotone families come straight off the append-only log. Per-triple
    # rows are naturally disjoint across deltas; MisplacedProperties emits
    # one row per DISTINCT misplaced term per delta, so it alone needs a
    # distinct to match batch row semantics.
    mono = state.mono_violations.read()
    parts.append(mono.filter(F.col("metric") != "MisplacedProperties"))
    parts.append(mono.filter(F.col("metric") == "MisplacedProperties").distinct())

    return reduce(DataFrame.unionByName, parts)


def score_from_state(
    state: IncrementalDQAState,
    vocab_terms: list[VocabTerm],
    cfg: DQAConfig,
    disjoint_pairs: list[tuple[str, str]] | None = None,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The FULL DQA report (per-shape scores + meta rollup) re-derived from
    incremental state alone — row-equal to the batch run_data_dqa report
    over the same triples (asserted in tests and by the shared oracle).
    This closes the loop: appends fold into state (apply_delta /
    start_streaming_dqa) and the report is re-scored without a triple scan.

    Spark runs only O(state) work, as four concurrent jobs: the
    violation_counts of violations_from_state, and one read per state
    dimension (_state_dims) — ps_counts per property gives the used
    properties and subjects_per_property, cls_pairs per class the used
    classes and entities_per_class, subj_flags the entity count.
    Everything O(#shapes) runs on the driver: data_shapes instantiates the
    shape list from the usage sets, score_rows scores it, and the report
    comes back as one local relation. Nothing is cached."""
    per_p, per_cls, entities = _state_dims(state)
    violations = violations_from_state(
        state, vocab_terms, cfg,
        disjoint_pairs=disjoint_pairs, subclass_pairs=subclass_pairs)
    counts, props, classes, (ent,) = collect_concurrently(
        violation_counts(violations), per_p.select("p", "num_subjects"),
        per_cls, entities.select("num_entities"))
    spp, epc = dict(map(tuple, props)), dict(map(tuple, classes))
    shapes = data_shapes(vocab_terms, disjoint_pairs or [], cfg,
                         set(spp), set(epc))
    rows = score_rows(shapes, counts, ent["num_entities"] or 0, spp, epc,
                      target="data")
    return state.subj_flags.spark.createDataFrame(rows, REPORT_SCHEMA)
