"""Structured Streaming ingest: new document files → incremental triple
extraction appended to the triple sink.

The reference is batch-only (SURVEY.md §2F), so this is a new-engine
capability: the same extraction plan (explode + vectorized pandas UDF)
runs unchanged under readStream — Spark's incremental planner handles
exactly-once file tracking via the checkpoint dir, which complements the
batch manifest (E7) for continuous corpora.

Linking/CC stay batch (they need global state); the streaming leg lands
*candidate* triples with surface forms, and the batch pipeline
periodically folds them in. This mirrors production lambda designs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shacl_dqa_prototype_spark.operators.extract import extract_fact_mentions
from pyspark.sql.types import StructField, StructType, TimestampType

from shacl_dqa_prototype_spark.schemas import DOCUMENTS_SCHEMA


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


def stream_documents(spark: SparkSession, input_dir: str,
                     schema=None) -> DataFrame:
    """File-source document stream. ``schema`` overrides the canonical
    DOCUMENTS_SCHEMA for feeds that carry extra columns (e.g. an
    event-time stamp) — file sources need an explicit schema, so extra
    parquet columns are invisible unless declared here."""
    return (
        spark.readStream.schema(schema or DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def start_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """documents stream → mention extraction → append parquet.

    available_now=True drains the current backlog and stops (test/batch
    catch-up mode); False runs continuously."""
    docs = stream_documents(spark, input_dir)
    mentions = extract_fact_mentions(docs)
    writer = (
        mentions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_extraction_snapshots(
    spark: SparkSession,
    input_dir: str,
    table,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming extraction whose sink is a SnapshotTable: each microbatch
    commits atomically as ONE snapshot append, so readers never observe a
    partial batch and the snapshot log records streaming progress
    (epoch → snapshot) alongside Spark's own checkpoint. On restart Spark
    may replay the last uncommitted-to-checkpoint epoch — the epoch id in
    the log makes the commit idempotent (replayed epochs are skipped)."""
    docs = stream_documents(spark, input_dir)
    mentions = extract_fact_mentions(docs)
    # idempotence must key on (checkpoint LIFETIME, epoch), not the epoch
    # alone: a NEW checkpoint restarts epoch numbering at 0, and keying on
    # the bare number would silently skip a fresh query's first batches
    # because some old run also had an epoch 0 (_run_token's nonce also
    # distinguishes a DELETED-and-recreated checkpoint from a resumed one).
    run_id = _run_token(checkpoint_dir)

    def _commit_batch(batch_df, epoch_id: int) -> None:
        if any(s.get("epoch") == epoch_id and s.get("run") == run_id
               for s in table.snapshots()):
            return  # replayed epoch after restart — already committed
        table.commit_append(batch_df, extra={"epoch": epoch_id, "run": run_id})

    writer = (
        mentions.writeStream.outputMode("append")
        .foreachBatch(_commit_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
    available_now: bool = True,
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
    schema = None
    if event_time_col:
        schema = StructType(
            DOCUMENTS_SCHEMA.fields
            + [StructField(event_time_col, TimestampType(), True)])
    docs = stream_documents(spark, input_dir, schema=schema)
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
    writer = (
        deduped.drop("event_time").writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_triples(spark: SparkSession, input_dir: str,
                   max_files_per_trigger: int = 16) -> DataFrame:
    """File-source triple stream (TRIPLES_SCHEMA parquet)."""
    from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA

    return (
        spark.readStream.schema(TRIPLES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def start_streaming_dqa(
    spark: SparkSession,
    input_dir: str,
    state,
    cfg,
    vocab_terms,
    checkpoint_dir: str,
    n_buckets: int = 32,
    available_now: bool = True,
    maintain_every: int | None = 32,
    compact_max_dirs: int = 64,
    keep_snapshots: int = 8,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Continuous data-quality assessment: a stream of triple appends is
    folded into an ``IncrementalDQAState`` one microbatch at a time, so
    profile + every constraint family stay exactly maintained while the
    corpus grows — no batch re-run, no historical re-read
    (plans/incremental.py semantics, asserted equal to the batch compiler).

    Exactly-once story, layered: Spark's checkpoint tracks which input
    files each epoch consumed; ``apply_delta`` keyed by
    (checkpoint lineage, epoch) makes the seven state commits idempotent —
    a crash between commits, or an epoch replayed after restart, is healed
    by the retry skipping tables whose snapshot log already carries the
    delta id. Draining the same checkpoint twice is a no-op end-to-end.

    Scale shape is the incremental tier's: per batch, one appended level
    per state table (O(batch) written, no read of old state) and one plain
    append of the monotone-family violations; reads merge base ∪ levels,
    and a fold compacts a table once it holds more than 16 dirs.

    Maintenance: every ``maintain_every`` epochs each state table is
    compacted by its merge rule (``IncrementalDQAState.compact``, dirs
    folded once past ``compact_max_dirs``) and its history expired to the
    last ``keep_snapshots`` snapshots — without this an unbounded stream
    accretes one commit + data dir per table per epoch, and log parsing /
    path resolution would grow with stream age. A Spark
    restart replays at most the last epoch, whose delta id always survives
    a ``keep_snapshots`` ≥ 2 window, so idempotence is unaffected. Pass
    ``maintain_every=None`` to keep FULL time-travel history instead
    (audit mode — bound it yourself)."""
    from shacl_dqa_prototype_spark.plans.incremental import apply_delta

    run_id = _run_token(checkpoint_dir)

    def _fold(batch_df, epoch_id: int) -> None:
        apply_delta(state, batch_df, cfg, vocab_terms, n_buckets=n_buckets,
                    delta_id=f"{run_id}#{epoch_id}")
        if maintain_every and epoch_id % maintain_every == maintain_every - 1:
            for name, t in state.tables().items():
                state.compact(name, max_dirs=compact_max_dirs)
                t.expire_snapshots(keep_last=keep_snapshots)

    writer = (
        stream_triples(spark, input_dir, max_files_per_trigger)
        .writeStream.outputMode("append")
        .foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_upsert(
    spark: SparkSession,
    input_dir: str,
    table,
    key_col: str,
    schema: StructType,
    checkpoint_dir: str,
    order_col: str | None = None,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
    maintain_every: int | None = 32,
    compact_max_dirs: int = 64,
    keep_snapshots: int = 8,
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
    merge's last-writer-wins would be nondeterministic).

    Restart/idempotence: each epoch commits under delta_id
    ``<checkpoint>#<epoch>``; a replayed epoch (Spark retries foreachBatch
    after crashes) is skipped when the table's log already carries its id
    — the same keying the incremental-DQA state uses. Maintenance
    (compact + expire) bounds log and dir growth exactly as in
    start_streaming_dqa."""
    from pyspark.sql import Window

    run_id = _run_token(checkpoint_dir)

    def _fold(batch_df, epoch_id: int) -> None:
        delta_id = f"{run_id}#{epoch_id}"
        if any(s.get("delta_id") == delta_id for s in table.snapshots()):
            return
        b = batch_df
        if order_col is not None:
            w = Window.partitionBy(key_col).orderBy(F.desc(order_col))
            b = (b.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        table.merge_upsert(b, key_col, extra={"delta_id": delta_id})
        if maintain_every and epoch_id % maintain_every == maintain_every - 1:
            table.compact(max_dirs=compact_max_dirs)
            table.expire_snapshots(keep_last=keep_snapshots)

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.outputMode("append")
        .foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
    maintain_every: int | None = 32,
    compact_max_dirs: int = 64,
    keep_snapshots: int = 8,
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
    never emit them). With ``schema=None`` the stream reads flat
    (``id_col`` string, ``text_col`` string) rows — pass ``schema`` for
    any other layout. Maintenance (compact + expire every
    ``maintain_every`` epochs) bounds both tables' log/dir growth exactly
    as in start_streaming_dqa.

    ``index`` and ``pairs`` are SnapshotTables: (band, bucket, doc_id)
    bucketed BY THE LSH BUCKET id, and (doc_a, doc_b) appends. Per epoch,
    the stored index is read BUCKET-PRUNED — only the table buckets the
    batch's LSH buckets hash into are listed (same path-level pruning as
    merge_upsert), so a small batch against a 10⁹-doc index touches
    ~|batch buckets|/n_buckets of the index files. Both commits are
    delta_id-idempotent (pairs first, then index: a replayed epoch skips
    each table it already reached)."""
    from shacl_dqa_prototype_spark.operators.dedup import lsh_bucket_rows

    run_id = _run_token(checkpoint_dir)

    def _fold(batch_df, epoch_id: int) -> None:
        delta_id = f"{run_id}#{epoch_id}"
        pairs_done = any(
            s.get("delta_id") == delta_id for s in pairs.snapshots())
        index_done = any(
            s.get("delta_id") == delta_id for s in index.snapshots())
        if pairs_done and index_done:
            return
        _check_index_layout(index, "bucket", n_buckets)
        # an at-least-once upstream can redeliver a doc WITHIN one trigger
        # (two files in the same batch); its identical bucket rows would
        # land in the index twice and multiply every future join against
        # them — collapse to one row per doc before bucketing
        batch_df = batch_df.dropDuplicates([id_col])
        # checkpoint: b feeds up to three jobs (touched-buckets collect,
        # pair join, index append); unpersisted at the end of the epoch so
        # an unbounded stream doesn't accrete one pinned RDD per batch
        b = lsh_bucket_rows(batch_df, n, num_hashes, bands, id_col,
                            text_col, portable).localCheckpoint()
        try:
            if not pairs_done:
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
            if not index_done:
                index.commit_append(b, bucket_col="bucket",
                                    n_buckets=n_buckets,
                                    extra={"delta_id": delta_id})
        finally:
            # foreachBatch retries after a failure would otherwise pin one
            # more checkpointed RDD per attempt on a long-running stream
            b.unpersist()
        if maintain_every and epoch_id % maintain_every == maintain_every - 1:
            for t in (index, pairs):
                t.compact(max_dirs=compact_max_dirs)
                t.expire_snapshots(keep_last=keep_snapshots)

    src_schema = schema
    if src_schema is None:
        from pyspark.sql.types import StringType, StructField, StructType

        src_schema = StructType([StructField(id_col, StringType(), False),
                                 StructField(text_col, StringType(), True)])
    writer = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.outputMode("append")
        .foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
    maintain_every: int | None = 32,
    compact_max_dirs: int = 64,
    keep_snapshots: int = 8,
) -> StreamingQuery:
    """Online n-gram NOVELTY at ingest: every document batch is scored
    against the ACCUMULATED n-gram index (all previous batches) plus
    itself, emitting the same ``(doc_id, n_distinct, novel, novel_frac)``
    rows as the batch ``ngram_novelty`` operator — the moment a doc
    arrives, the pipeline knows how much it still adds to the corpus,
    without ever re-scanning it.

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
    n_buckets of its files. Both commits are delta_id-idempotent, and
    results commits BEFORE index: a crash between them replays against
    the unchanged index and reproduces identical rows (the reverse order
    would rescore the replayed batch against its own n-grams).
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

    run_id = _run_token(checkpoint_dir)

    def _fold(batch_df, epoch_id: int) -> None:
        from pyspark.sql import Window

        delta_id = f"{run_id}#{epoch_id}"
        res_done = any(
            s.get("delta_id") == delta_id for s in results.snapshots())
        idx_done = any(
            s.get("delta_id") == delta_id for s in index.snapshots())
        if res_done and idx_done:
            return
        _check_index_layout(index, "ng", n_buckets)
        # a doc redelivered WITHIN one trigger would double its
        # n_distinct/novel counts (distinct_full_ngrams dedups within one
        # row's text, not across duplicate rows), emitting a second,
        # CONFLICTING result row the batch operator can never produce —
        # the cross-epoch redelivery stability documented above only
        # holds if each epoch carries a doc at most once
        batch_df = batch_df.dropDuplicates([id_col])
        # ids are unique post-dedup — no second distinct/shuffle needed
        base = batch_df.select(F.col(id_col).alias("doc_id"))
        # checkpoint: b feeds three jobs (touched-buckets collect, the
        # results commit, the index append); released at epoch end
        b = (
            distinct_full_ngrams(batch_df, n, id_col, text_col)
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
            if not res_done:
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
            if not idx_done:
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
        if maintain_every and epoch_id % maintain_every == maintain_every - 1:
            for t in (index, results):
                t.compact(max_dirs=compact_max_dirs)
                t.expire_snapshots(keep_last=keep_snapshots)

    src_schema = schema
    if src_schema is None:
        from pyspark.sql.types import StringType

        src_schema = StructType([StructField(id_col, StringType(), False),
                                 StructField(text_col, StringType(), True)])
    writer = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.outputMode("append")
        .foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
