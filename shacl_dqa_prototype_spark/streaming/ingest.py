"""Structured Streaming ingest: file streams folded into snapshot tables
one microbatch at a time.

The reference is batch-only (SURVEY.md §2F), so this is a new-engine
capability. Five streams commit to SnapshotTables — extraction
(``start_incremental_extraction_snapshots``), continuous DQA
(``start_streaming_dqa``), CDC upsert (``start_streaming_upsert``) and the
near-dup and novelty indexes (``start_streaming_neardup``,
``start_streaming_novelty``) — and each is only its fold: the
exactly-once lifecycle is one epoch driver, ``_start_epochs``.

- Spark's checkpoint tracks which input files each epoch consumed.
- Each epoch commits under the delta id ``<run token>#<epoch>``, the run
  token pinned to the checkpoint dir's lifetime (``_run_token``).
- An epoch every target table already holds (``SnapshotTable.has_delta``)
  is skipped; a fold that writes several tables skips each table that
  holds it, so a crash between two commits is healed by the replay.
- Every ``MAINTAIN_EVERY`` epochs each table is compacted once past
  ``COMPACT_MAX_DIRS`` dirs and expired to its last ``KEEP_SNAPSHOTS``
  snapshots, so an unbounded stream does not accrete one commit and one
  data dir per table per epoch. A restart replays at most the last epoch,
  whose delta id survives any window of two or more snapshots.
- The query drains the backlog and stops (``trigger(availableNow=True)``).

``start_streaming_dedup`` is the one parquet-sink stream: its state is
Spark's own dropDuplicatesWithinWatermark store.

Linking/CC stay batch (they need global state); the streaming leg lands
*candidate* triples with surface forms, and the batch pipeline
periodically folds them in. This mirrors production lambda designs.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from shacl_dqa_prototype_spark.operators.extract import extract_fact_mentions
from shacl_dqa_prototype_spark.schemas import DOCUMENTS_SCHEMA, TRIPLES_SCHEMA

# the maintenance step of every snapshot-sinked stream (module docstring)
MAINTAIN_EVERY = 32
COMPACT_MAX_DIRS = 64
KEEP_SNAPSHOTS = 8

# what the near-dup and novelty streams read when no schema is given
_FLAT_DOCS = StructType([StructField("doc_id", StringType(), False),
                         StructField("text", StringType(), True)])


def _run_token(checkpoint_dir: str) -> str:
    """Identity of this checkpoint's LIFETIME, for keying idempotent epoch
    commits. The checkpoint path alone is not enough: deleting the
    checkpoint dir (the natural "reprocess" move) restarts Spark's epoch
    numbering at 0, and a path-keyed delta id would collide with the OLD
    run's epoch 0 and silently skip the fresh batches. A nonce file
    created atomically inside the checkpoint dir pins the identity to the
    dir's lifetime instead — a resumed stream reads the same nonce (replay
    stays idempotent), a recreated checkpoint mints a new one (reprocess
    really reprocesses; the downstream tables then hold both runs' output,
    which is what reprocessing into the same table means)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "run_nonce")
    if not os.path.exists(p):
        # tmp-write + hard-link = atomic create-if-absent with complete
        # contents (open('x') exists-but-empty during the write window)
        tmp = f"{p}.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex)
        try:
            os.link(tmp, p)
        except FileExistsError:
            pass  # concurrent starter won; read theirs below
        finally:
            os.unlink(tmp)
    with open(p) as f:
        return f"{os.path.abspath(checkpoint_dir)}#{f.read().strip()}"


def _file_stream(spark: SparkSession, input_dir: str, schema: StructType,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """Parquet file source. File sources need an explicit schema, so
    columns not declared here are invisible."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _start_epochs(
    spark: SparkSession,
    input_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    tables: dict,
    fold: Callable[[DataFrame, str], None],
    max_files_per_trigger: int = 16,
    compact: Callable[..., object] | None = None,
) -> StreamingQuery:
    """The epoch driver of every snapshot-sinked stream (module
    docstring). ``tables`` names the SnapshotTables the stream commits to;
    ``fold(batch_df, delta_id)`` commits one epoch, every commit carrying
    ``extra={"delta_id": delta_id}``. ``compact(name, max_dirs=...)``
    replaces the maintenance step's plain ``SnapshotTable.compact`` (the
    DQA state passes its merge-rule compaction)."""
    run_id = _run_token(checkpoint_dir)
    compact = compact or (lambda name, **kw: tables[name].compact(**kw))

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        delta_id = f"{run_id}#{epoch_id}"
        if all(t.has_delta(delta_id) for t in tables.values()):
            return  # replayed epoch after restart — already committed
        fold(batch_df, delta_id)
        if epoch_id % MAINTAIN_EVERY == MAINTAIN_EVERY - 1:
            for name, t in tables.items():
                compact(name, max_dirs=COMPACT_MAX_DIRS)
                t.expire_snapshots(keep_last=KEEP_SNAPSHOTS)

    return (
        _file_stream(spark, input_dir, schema, max_files_per_trigger)
        .writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _check_index_layout(table, bucket_col: str, n_buckets: int) -> None:
    """Refuse a bucket-pruned index read whose mod base disagrees with the
    layout the table was committed under — touched-bucket sets computed
    mod 16 against leaf dirs written mod 32 silently MISS stored rows
    (wrong novelty/pair output, duplicate index appends), the same hazard
    merge_upsert already rejects up front."""
    snap = table.current()
    if snap and snap["dirs"]:
        have = (snap.get("bucket_col"), snap.get("n_buckets"))
        if have != (bucket_col, n_buckets):
            raise ValueError(
                f"index table {table.table_dir!r} is committed with "
                f"bucket_col={have[0]!r}, n_buckets={have[1]}; this stream "
                f"was started with bucket_col={bucket_col!r}, "
                f"n_buckets={n_buckets} — bucket-pruned reads would "
                "silently miss stored rows")


def write_ordered_epochs(epoch_dfs, in_dir: str) -> str:
    """Write each epoch's DataFrame as ONE parquet part file with strictly
    increasing mtimes — the arrival-order harness the streaming operators'
    parity contracts (and their tests/benches) depend on. One file per
    epoch because multiple part files share an mtime, so
    ``maxFilesPerTrigger=1`` would split an epoch into sub-batches
    arriving in arbitrary order; monotone synthetic mtimes because the
    file source orders its backlog by modification time. Returns the glob
    to pass as the stream's input path."""
    for i, part in enumerate(epoch_dfs):
        p = os.path.join(in_dir, f"b{i:03d}")
        part.repartition(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1000 + i, 1000 + i))
    return in_dir + "/*"


def start_incremental_extraction_snapshots(
    spark: SparkSession,
    input_dir: str,
    table,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming extraction whose sink is a SnapshotTable: each microbatch's
    mentions commit atomically as ONE snapshot append, so readers never
    observe a partial batch and the snapshot log records streaming
    progress alongside Spark's own checkpoint."""
    return _start_epochs(
        spark, input_dir, DOCUMENTS_SCHEMA, checkpoint_dir, {"mentions": table},
        lambda batch_df, delta_id: table.commit_append(
            extract_fact_mentions(batch_df), extra={"delta_id": delta_id}))


def start_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
    event_time_col: str | None = None,
) -> StreamingQuery:
    """Streaming exact dedup: drop re-deliveries of the same document across
    microbatches. dropDuplicatesWithinWatermark keys the state store on the
    digest and EXPIRES entries past the event-time watermark — bounded
    state, unlike a plain dropDuplicates whose store grows with the corpus
    (the 100 TB failure mode). Keys default to a digest of the full span
    sequence — the same content identity the batch exact-dedup rule uses
    on flat text (operators/dedup.py).

    Pass ``event_time_col`` when the feed carries a real event time: the
    watermark then bounds state by EVENT time, so a late re-delivery
    inside the watermark is still dropped regardless of arrival order
    (and one beyond it is documented-kept — that is the state bound).
    Without it, arrival time stands in (re-deliveries cluster in time),
    and a re-delivery arriving later than the watermark slips through —
    the r2-documented limitation this parameter closes. The column must
    exist in the feed's parquet files; it is declared on top of the
    canonical document schema (file sources read only declared columns)."""
    schema = DOCUMENTS_SCHEMA
    if event_time_col:
        schema = StructType(
            DOCUMENTS_SCHEMA.fields
            + [StructField(event_time_col, TimestampType(), True)])
    docs = _file_stream(spark, input_dir, schema)
    # a NULL event time would make the watermark's lateness predicate NULL
    # and the row would be DISCARDED outright (not just left undeduped) —
    # silent data loss; treat missing event time as arrival time instead
    event_time = (F.coalesce(F.col(event_time_col).cast("timestamp"),
                             F.current_timestamp())
                  if event_time_col else F.current_timestamp())
    keyed = docs.withColumns({
        "event_time": event_time,
        "content_digest": F.md5(F.to_json(F.col("spans"))),
    })
    deduped = (
        keyed.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(key_cols or ["content_digest"])
    )
    return (
        deduped.drop("event_time").writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )




def start_streaming_dqa(
    spark: SparkSession,
    input_dir: str,
    state,
    cfg,
    vocab_terms,
    checkpoint_dir: str,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Continuous data-quality assessment: a stream of triple appends is
    folded into an ``IncrementalDQAState`` one microbatch at a time, so
    profile + every constraint family stay exactly maintained while the
    corpus grows — no batch re-run, no historical re-read
    (plans/incremental.py semantics, asserted equal to the batch compiler).

    ``apply_delta`` keyed by the epoch's delta id makes the seven state
    commits idempotent — a crash between commits, or an epoch replayed
    after restart, is healed by the retry skipping tables that already
    hold the delta id. Draining the same checkpoint twice is a no-op
    end-to-end.

    Scale shape is the incremental tier's: per batch, one appended level
    per state table (O(batch) written, no read of old state); reads merge
    base ∪ levels, and a fold compacts a table once it holds more than 16
    dirs. The maintenance step compacts by each table's merge rule
    (``IncrementalDQAState.compact``)."""
    from shacl_dqa_prototype_spark.plans.incremental import apply_delta

    return _start_epochs(
        spark, input_dir, TRIPLES_SCHEMA, checkpoint_dir, state.tables(),
        lambda batch_df, delta_id: apply_delta(
            state, batch_df, cfg, vocab_terms, delta_id=delta_id),
        max_files_per_trigger, compact=state.compact)


def start_streaming_upsert(
    spark: SparkSession,
    input_dir: str,
    table,
    key_col: str,
    schema: StructType,
    checkpoint_dir: str,
    order_col: str | None = None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """CDC ingestion: a stream of keyed row versions is folded into a
    ``SnapshotTable`` one microbatch at a time via ``merge_upsert`` —
    the table always holds exactly one (the latest) version per key and
    every microbatch is an atomic, time-travelable commit.

    Within a microbatch, ``order_col`` picks each key's winner (highest
    value; ties → arbitrary but stable hash order is NOT assumed — give
    it a total order per key, e.g. a change sequence number). Across
    microbatches the later epoch wins, which is CDC arrival order.
    Without ``order_col``, in-batch duplicate keys are an error (the
    merge's last-writer-wins would be nondeterministic)."""

    def _fold(batch_df: DataFrame, delta_id: str) -> None:
        if order_col is not None:
            w = Window.partitionBy(key_col).orderBy(F.desc(order_col))
            batch_df = (batch_df.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") == 1).drop("_rn"))
        table.merge_upsert(batch_df, key_col, extra={"delta_id": delta_id})

    return _start_epochs(spark, input_dir, schema, checkpoint_dir,
                         {"table": table}, _fold, max_files_per_trigger)


def start_streaming_neardup(
    spark: SparkSession,
    input_dir: str,
    index,
    pairs,
    checkpoint_dir: str,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
    n_buckets: int = 32,
    schema=None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Online near-duplicate detection at ingest: every document batch is
    MinHash/LSH-bucketed, matched against the ACCUMULATED bucket index
    (previous batches) plus itself, and then folded into the index — so
    duplicate pairs surface the moment the second copy arrives, without
    ever re-scanning the corpus. The union of per-epoch pair sets equals
    the batch ``minhash_lsh_candidates`` over the whole corpus exactly
    (same bands, same buckets), which is how the contract oracles it.
    A document re-delivered by an at-least-once upstream matches its own
    indexed copy; such self-pairs are filtered (the batch operator can
    never emit them). The stream reads ``(doc_id, text)`` rows; with
    ``schema=None`` both are strings.

    ``index`` and ``pairs`` are SnapshotTables: (band, bucket, doc_id)
    bucketed BY THE LSH BUCKET id, and (doc_a, doc_b) appends. Per epoch,
    the stored index is read BUCKET-PRUNED — only the table buckets the
    batch's LSH buckets hash into are listed (same path-level pruning as
    merge_upsert), so a small batch against a 10⁹-doc index touches
    ~|batch buckets|/n_buckets of the index files. Pairs commit first,
    then the index; a replayed epoch skips each table it already
    reached."""
    from shacl_dqa_prototype_spark.operators.dedup import lsh_bucket_rows

    def _fold(batch_df: DataFrame, delta_id: str) -> None:
        _check_index_layout(index, "bucket", n_buckets)
        # an at-least-once upstream can redeliver a doc WITHIN one trigger
        # (two files in the same batch); its identical bucket rows would
        # land in the index twice and multiply every future join against
        # them — collapse to one row per doc before bucketing
        batch_df = batch_df.dropDuplicates(["doc_id"])
        # checkpoint: b feeds up to three jobs (touched-buckets collect,
        # pair join, index append); unpersisted at the end of the epoch so
        # an unbounded stream doesn't accrete one pinned RDD per batch
        b = lsh_bucket_rows(batch_df, n, num_hashes, bands,
                            portable=portable).localCheckpoint()
        try:
            if not pairs.has_delta(delta_id):
                touched = [r[0] for r in b.select(
                    F.pmod(F.xxhash64("bucket"), F.lit(n_buckets)).alias("tb")
                ).distinct().collect()]
                store = index.read_buckets(touched).withColumnsRenamed(
                    {"doc_id": "_old"})
                cross = (
                    b.join(store, ["band", "bucket"])
                    .select(F.least("doc_id", "_old").alias("doc_a"),
                            F.greatest("doc_id", "_old").alias("doc_b"))
                    # a redelivered doc matches its own indexed rows —
                    # drop the (x, x) self-pairs the batch operator's
                    # doc_a < doc_b filter can never produce
                    .filter(F.col("doc_a") < F.col("doc_b"))
                )
                left = b.withColumnsRenamed({"doc_id": "doc_a"})
                right = b.withColumnsRenamed({"doc_id": "doc_b"})
                within = (
                    left.join(right, ["band", "bucket"])
                    .filter(F.col("doc_a") < F.col("doc_b"))
                    .select("doc_a", "doc_b")
                )
                pairs.commit_append(cross.unionByName(within).distinct(),
                                    extra={"delta_id": delta_id})
            if not index.has_delta(delta_id):
                index.commit_append(b, bucket_col="bucket",
                                    n_buckets=n_buckets,
                                    extra={"delta_id": delta_id})
        finally:
            # foreachBatch retries after a failure would otherwise pin one
            # more checkpointed RDD per attempt on a long-running stream
            b.unpersist()

    return _start_epochs(spark, input_dir, schema or _FLAT_DOCS,
                         checkpoint_dir, {"index": index, "pairs": pairs},
                         _fold, max_files_per_trigger)


def start_streaming_novelty(
    spark: SparkSession,
    input_dir: str,
    index,
    results,
    checkpoint_dir: str,
    n: int = 8,
    portable: bool = False,
    n_buckets: int = 32,
    schema=None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Online n-gram NOVELTY at ingest: every document batch is scored
    against the ACCUMULATED n-gram index (all previous batches) plus
    itself, emitting the same ``(doc_id, n_distinct, novel, novel_frac)``
    rows as the batch ``ngram_novelty`` operator — the moment a doc
    arrives, the pipeline knows how much it still adds to the corpus,
    without ever re-scanning it. The stream reads ``(doc_id, text)``
    rows; with ``schema=None`` both are strings.

    Parity contract: when batches arrive in non-decreasing doc-id order
    (each epoch's ids ≥ every earlier epoch's — the natural shape for an
    id-assigned ingest), the union of per-epoch results equals batch
    ``ngram_novelty`` over the whole corpus exactly; that is how the
    contract entry oracles it. Out-of-order arrival attributes a shared
    n-gram to its EARLIEST-ARRIVING carrier instead of the min id — the
    same monotone-arrival trade documented on the streaming funnel.

    ``index`` is a SnapshotTable of (ng: 60/64-bit shingle hash,
    first_doc) bucketed BY ng; ``results`` is an append-only SnapshotTable
    of the per-doc rows. Per epoch the stored index is read BUCKET-PRUNED
    (only the table buckets the batch's n-gram hashes land in are listed
    — same path-level pruning as the streaming near-dup index), so a
    small batch against a 10⁹-ngram index touches ~|batch buckets| /
    n_buckets of its files. Results commit BEFORE the index: a crash
    between them replays against the unchanged index and reproduces
    identical rows (the reverse order would rescore the replayed batch
    against its own n-grams).
    At-least-once REdelivery of a doc in a later epoch is also stable:
    its n-grams resolve to ``first_doc == doc_id`` in the index, so the
    re-emitted row is identical and collapses under ``distinct()``.
    Shingles are hashed (``_hash60``; xxhash64 by default — the 100 TB
    fast path) before touching the index, trading a vanishing collision
    probability for a fixed-width key, exactly like the LSH index."""
    from shacl_dqa_prototype_spark.operators.dedup import (
        _hash60,
        distinct_full_ngrams,
    )

    def _fold(batch_df: DataFrame, delta_id: str) -> None:
        _check_index_layout(index, "ng", n_buckets)
        # a doc redelivered WITHIN one trigger would double its
        # n_distinct/novel counts (distinct_full_ngrams dedups within one
        # row's text, not across duplicate rows), emitting a second,
        # CONFLICTING result row the batch operator can never produce —
        # the cross-epoch redelivery stability documented above only
        # holds if each epoch carries a doc at most once
        batch_df = batch_df.dropDuplicates(["doc_id"])
        # ids are unique post-dedup — no second distinct/shuffle needed
        base = batch_df.select("doc_id")
        # checkpoint: b feeds three jobs (touched-buckets collect, the
        # results commit, the index append); released at epoch end
        b = (
            distinct_full_ngrams(batch_df, n)
            .withColumn("ng", _hash60(F.col("shingle"), portable=portable))
            .drop("shingle")
            .localCheckpoint()
        )
        try:
            touched = [r[0] for r in b.select(
                F.pmod(F.xxhash64("ng"), F.lit(n_buckets)).alias("tb")
            ).distinct().collect()]
            stored = index.read_buckets(touched).withColumnsRenamed(
                {"first_doc": "_owner"})
            w = Window.partitionBy("ng")
            j = (
                b.join(stored, "ng", "left")
                .withColumn("_min", F.min("doc_id").over(w))
                .withColumn(
                    "_novel",
                    F.when(F.col("_owner").isNull(),
                           F.col("doc_id") == F.col("_min"))
                    .otherwise(F.col("_owner") == F.col("doc_id")))
            )
            if not results.has_delta(delta_id):
                per = j.groupBy("doc_id").agg(
                    F.count("*").cast("long").alias("n_distinct"),
                    F.sum(F.col("_novel").cast("int")).cast("long")
                    .alias("novel"))
                rows = base.join(per, "doc_id", "left").select(
                    "doc_id",
                    F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
                    F.coalesce("novel", F.lit(0)).alias("novel"),
                    F.when(
                        F.coalesce("n_distinct", F.lit(0)) > 0,
                        F.round(F.coalesce("novel", F.lit(0))
                                / F.col("n_distinct").cast("double"), 6))
                    .otherwise(0.0).alias("novel_frac"))
                results.commit_append(rows, extra={"delta_id": delta_id})
            if not index.has_delta(delta_id):
                new_ng = (
                    j.filter(F.col("_owner").isNull()
                             & (F.col("doc_id") == F.col("_min")))
                    .select("ng", F.col("doc_id").alias("first_doc"))
                    # a within-doc shingle hash collision yields the same
                    # (ng, doc) row twice; a duplicated index row would
                    # multiply every future join against it
                    .distinct())
                index.commit_append(new_ng, bucket_col="ng",
                                    n_buckets=n_buckets,
                                    extra={"delta_id": delta_id})
        finally:
            b.unpersist()

    return _start_epochs(spark, input_dir, schema or _FLAT_DOCS,
                         checkpoint_dir, {"index": index, "results": results},
                         _fold, max_files_per_trigger)
