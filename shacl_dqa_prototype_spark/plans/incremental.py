"""Incremental DQA: exact maintenance of profile + EVERY constraint
family across snapshot APPENDs, without rescanning old triples.

At 100 TB a corpus grows by appends; re-running the whole DQA per append
re-reads everything. The constraint compiler (plans/constraints.py) writes
each family once, in one of two tiers, and batch DQA is "fold T as one
delta into empty state". This module keeps that state on disk:

1. State tier — each delta's state_aggregates are appended to one
   SnapshotTable each as a new LEVEL: one small data dir per table per
   fold, with no read of old state and no rewrite (the fold into an
   empty table writes the BASE). State tables are unbucketed: base,
   levels and compactions are plain parquet dirs, since no read prunes
   them by bucket. A table whose term list is empty (dom_pairs without
   a class-domain property, say) is empty by construction and gets no
   level; never written, it reads back as an empty table. Reads merge:
   IncrementalDQAState.merged applies the table's STATE_MERGES rule
   (bool-max, sum or distinct) over base ∪ levels. Every rule is
   associative and commutative, so merging when the table is read gives
   the rows a merge at write time would have stored — the LSM /
   Iceberg-v2 merge-on-read trade: a fold writes O(delta), a read merges
   O(state + levels). Never a scan of historical triples.

   Compaction bounds the levels: once a table's current snapshot holds
   more than SnapshotTable.compact's default of 16 dirs, the fold that
   crossed it rewrites base ∪ levels, merged by the same rule, as one
   base (IncrementalDQAState.compact, also what vacuum and the streaming
   maintenance step run). The overwrite is pinned to the snapshot it
   read: a fold racing it wins, and a later fold compacts.
   violations_from_state evaluates state_violations over the six merged
   reads.

2. Row tier — row_violations of each delta are FINAL (no later triple can
   create or retract them), so they are commit_append-ed to a violations
   log (mono_violations) — zero state, no merge rule; past 16 dirs the
   log is compacted like the state tables, rewritten as it is.

Both tiers take their property lists from the same term selection as
batch, with nothing pruned by usage (_state_terms): a property or class
unused so far simply matches no rows. profile_from_state is the batch
GraphProfile over the merged reads of subj_flags, ps_counts and
cls_pairs, and score_from_state is the batch scorer (scoring.score_plan)
over violations_from_state and that profile: the O(state) work runs as
concurrent Spark jobs, everything O(#shapes) on the driver. Parity with
batch is asserted in tests/test_incremental.py and, for keys that span
levels and across compactions, tests/test_state_levels.py.

State emits violations per DISTINCT (item, focus[, value]) across deltas
where a batch scan of duplicated raw triples would repeat a row. Scoring
is unaffected (it distincts focus nodes), and the parity tests compare
distinct sets.

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
re-running the same delta (SnapshotTable.has_delta; the streams in
streaming/ingest.py key each epoch the same way).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial, reduce

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
    SUBJECT_FLAGS,
    ConstraintPlan,
    DQAConfig,
    VocabTerm,
    _state_terms,
    row_violations,
    state_aggregates,
    state_violations,
    union_branches,
)
from shacl_dqa_prototype_spark.plans.profile import GraphProfile
from shacl_dqa_prototype_spark.plans.scoring import score_plan
from shacl_dqa_prototype_spark.schemas import VIOLATIONS_SCHEMA
from shacl_dqa_prototype_spark.sources.snapshots import (
    CommitConflictError,
    SnapshotTable,
)

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

# state table → merge rule applied over base ∪ levels when the table is
# read or compacted
STATE_MERGES = {
    "subj_flags": lambda df: df.groupBy("s").agg(
        *[F.max(f).alias(f) for f in SUBJECT_FLAGS]),
    "ps_counts": lambda df: df.groupBy("p", "s").agg(
        F.sum("n").cast("long").alias("n")),
    "cls_pairs": DataFrame.distinct,
    "po_pairs": DataFrame.distinct,
    "dom_pairs": DataFrame.distinct,
    "spo_pairs": DataFrame.distinct,
}


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

    def merged(self, name: str) -> DataFrame:
        """State table ``name`` as of its current snapshot: its
        STATE_MERGES rule over base ∪ levels (see the module docstring).
        Builds a plan only."""
        return STATE_MERGES[name](getattr(self, name).read())

    def compact(self, name: str, **kw) -> str | None:
        """SnapshotTable.compact of table ``name`` (``kw`` passes through)
        with the table's STATE_MERGES rule: base ∪ levels are rewritten,
        merged, as one unbucketed base, committed as an overwrite pinned
        to the snapshot it read (CommitConflictError when another commit
        landed meanwhile). The row-tier log has no rule and is rewritten
        as it is."""
        return getattr(self, name).compact(merge=STATE_MERGES.get(name), **kw)

    def vacuum(self, keep_last: int = 1,
               orphan_grace_s: float = 3600.0) -> dict[str, int]:
        """Periodic maintenance for long streaming runs: every epoch
        appends one level per state table and one entry to the row-tier
        log, so a many-epoch drain grows each table's dir chain and log
        without bound. vacuum() compacts each table into one base
        (compact: the same merge rule the reads apply) and drops the
        history no longer needed for time travel (expire_snapshots) —
        Iceberg's rewrite_data_files + expire_snapshots maintenance pair.
        Returns dirs-deleted per table; the before/after state-dir file
        count and bytes are measured in ``bench.py --streaming``.

        ``keep_last`` > 1 preserves rollback depth. Replay idempotence
        survives the vacuum: apply_delta's dedup is keyed on the
        ``delta_id`` log records, so before expiring them the compaction
        commit carries every applied id forward as
        ``applied_delta_ids`` (Iceberg's snapshot-summary-properties
        analog) and SnapshotTable.has_delta consults both."""
        deleted: dict[str, int] = {}
        for name, t in self.tables().items():
            seen = t.delta_ids()
            # force the fold whenever history will be dropped — the tip
            # record must carry the full applied-id set before expire
            # removes the per-delta records
            if len(t.snapshots()) > keep_last:
                self.compact(
                    name, max_dirs=0,
                    extra={"applied_delta_ids": sorted(seen)} if seen
                    else None)
            deleted[name] = len(t.expire_snapshots(
                keep_last=keep_last, orphan_grace_s=orphan_grace_s))
        return deleted


def apply_delta(
    state: IncrementalDQAState,
    delta: DataFrame,
    cfg: DQAConfig,
    vocab_terms: list[VocabTerm],
    delta_id: str | None = None,
) -> None:
    """Fold one appended triple batch into the DQA state.

    Each state table gets ONE plain append of the delta's aggregate as a
    new unbucketed level — O(|delta|) written, no read of old state, no
    rewrite; the fold into an empty table writes the base. A table whose
    current snapshot then holds more than 16 dirs is compacted into one
    base (IncrementalDQAState.compact); a compaction that loses a race to
    another commit is left to a later fold. The row-tier violations of
    the delta are appended to the violations log, which is compacted the
    same way (without a merge rule). A table state_aggregates leaves out
    (its term list is empty) is not folded. Historical triples are never
    re-read.

    The seven table folds are mutually INDEPENDENT (disjoint state dirs
    and logs, all reading the one persisted delta), so they are submitted
    from a four-worker thread pool (Spark schedules concurrent jobs
    fine) — the per-delta floor is the SLOWEST table's write, not the SUM
    of seven driver-synchronized round trips. The delta is materialized
    once before forking so concurrent jobs never race to compute the same
    cached partitions.

    Pass ``delta_id`` (any stable string — a snapshot id, an epoch) to
    make the apply IDEMPOTENT: every table commit records it, and a retry
    after a crash that landed only some of the seven commits skips the
    tables already carrying the id (sum-merged ps_counts would otherwise
    double-count) — unchanged under parallel folding: each table's commit
    is still atomic and individually keyed. Old snapshots stay readable
    (time travel / rollback); call expire_snapshots to vacuum."""
    extra = {"delta_id": delta_id} if delta_id is not None else None

    def _fold(name: str, rows: DataFrame) -> None:
        getattr(state, name).commit_append(rows, extra=extra)
        try:
            state.compact(name)
        except CommitConflictError:
            pass  # a racing commit won; the next fold compacts

    # RDF is SET-semantic and the batch path dropDuplicates() the triple
    # table at read (main.py) — a duplicate triple WITHIN one delta must
    # not inflate the sum-merged ps_counts (false FunctionalProperty
    # violations, drifted num_triples). One delta-sized distinct matches
    # the batch semantics. Re-assertion ACROSS deltas remains the caller's
    # contract (see module docstring): deltas carry set-new triples.
    delta = delta.dropDuplicates().persist()
    terms = _state_terms(vocab_terms)
    # row tier: violations of THIS delta are final — a plain append to
    # mono_violations, nothing merged. A retried delta skips every table
    # whose log already holds it, and reads nothing when all do.
    folds = [partial(_fold, name, rows) for name, rows in {
        **state_aggregates(delta, cfg, terms),
        "mono_violations": union_branches(row_violations(delta, terms, cfg)),
    }.items() if delta_id is None
        or not getattr(state, name).has_delta(delta_id)]
    try:
        if not folds:
            return
        # materialize the shared input ONCE so concurrent folds read the
        # cache instead of racing to compute the same partitions
        delta.count()
        with ThreadPoolExecutor(max_workers=4) as ex:
            futures = [ex.submit(f) for f in folds]
            # surface the FIRST failure but let every fold finish —
            # partial commits are healed by the delta_id retry path
            errs = [f.exception() for f in futures]
        for e in errs:
            if e is not None:
                raise e
    finally:
        delta.unpersist()


# ---------------------------------------------------------------------------
# derivations from state (all O(state), no triple scans)
# ---------------------------------------------------------------------------

def profile_from_state(state: IncrementalDQAState) -> GraphProfile:
    """The graph profile (B1-B8) over the merged reads of the three
    profile state tables — the same GraphProfile constructor profile_graph
    uses over T."""
    return GraphProfile(state.merged("subj_flags"), state.merged("ps_counts"),
                        state.merged("cls_pairs"))


def violations_from_state(
    state: IncrementalDQAState,
    vocab_terms: list[VocabTerm],
    cfg: DQAConfig,
    disjoint_pairs: list[tuple[str, str]] | None = None,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Violations for ALL constraint families: state_violations over the
    six merged state reads ∪ the row-tier log, same (metric, item, focus, value)
    shape as compile_data_constraints emits (rows per distinct item/focus
    — see module docstring). ``disjoint_pairs``/``subclass_pairs`` mirror
    the batch compiler's arguments.

    Builds a plan only; no job runs until the result is evaluated."""
    dims = {name: state.merged(name) for name in STATE_MERGES}
    parts = [df for df, _ in state_violations(
        dims, _state_terms(vocab_terms, disjoint_pairs), cfg, subclass_pairs)]
    # row-tier rows come straight off the append-only log. Per-triple rows
    # are naturally disjoint across deltas; MisplacedProperties emits one
    # row per DISTINCT misplaced term per delta, so it alone needs a
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

    It is score_plan over violations_from_state and profile_from_state:
    Spark runs only O(state) work, as four concurrent jobs (the violation
    counts and one read per profile table), everything O(#shapes) runs on
    the driver, and nothing is cached."""
    plan = ConstraintPlan(
        violations_from_state(state, vocab_terms, cfg,
                              disjoint_pairs=disjoint_pairs,
                              subclass_pairs=subclass_pairs),
        vocab_terms=vocab_terms, disjoint_pairs=disjoint_pairs or [], cfg=cfg)
    return score_plan(state.subj_flags.spark, plan, profile_from_state(state))
