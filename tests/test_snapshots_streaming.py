"""Snapshot-log table (Iceberg-analog: atomic commit, time travel, vacuum)
and stateful Structured Streaming (session_window, applyInPandasWithState)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.schemas import EVENTS_SCHEMA
from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable

SF = "/root/testdata/sf0.001"


def _events_subset(spark, n_users=40):
    return (
        spark.read.parquet(os.path.join(SF, "events.parquet"))
        .filter(F.col("user_id") < n_users)
    )


def test_snapshot_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"), EVENTS_SCHEMA)
    ev = _events_subset(spark).select(*[f.name for f in EVENTS_SCHEMA.fields])
    a = ev.filter(F.col("user_id") < 20)
    b = ev.filter(F.col("user_id") >= 20)
    s1 = t.commit_append(a)
    s2 = t.commit_append(b)
    assert t.read().count() == ev.count()                 # latest = a ∪ b
    assert t.read(s1).count() == a.count()                # time travel
    assert t.current()["snapshot_id"] == s2
    assert t.current()["parent_id"] == s1


def test_snapshot_overwrite_expire_and_crash_invisibility(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"), EVENTS_SCHEMA)
    ev = _events_subset(spark).select(*[f.name for f in EVENTS_SCHEMA.fields])
    s1 = t.commit_append(ev.limit(10))
    # crash between data write and log append → orphan dir, table unchanged
    t._write_data(ev.limit(5), None, 32)
    assert t.read().count() == 10
    s2 = t.commit_overwrite(ev.limit(3))
    assert t.read().count() == 3
    assert t.read(s1).count() == 10                       # history intact
    # default vacuum: s1's dir goes (referenced only by the expired
    # snapshot), but the YOUNG orphan survives — it could be step 1 of an
    # in-flight commit whose log line isn't appended yet
    deleted = t.expire_snapshots(keep_last=1)
    assert len(deleted) == 1
    assert t.read().count() == 3                          # kept snapshot fine
    assert [s["snapshot_id"] for s in t.snapshots()] == [s2]
    # past the grace age the orphan is garbage and is collected
    assert len(t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)) == 1
    assert t.read().count() == 3


def test_snapshot_bucketed_layout_roundtrip(spark, tmp_path):
    from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA

    t = SnapshotTable(spark, str(tmp_path / "tbl"), TRIPLES_SCHEMA)
    rows = [(f"urn:s{i}", "urn:p", f"o{i}", "iri", None, None) for i in range(100)]
    df = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    t.commit_append(df, bucket_col="s", n_buckets=8)
    back = t.read()
    assert back.count() == 100 and back.columns == [f.name for f in TRIPLES_SCHEMA.fields]
    # physical layout: one directory per bucket under the data dir
    snap_dir = os.path.join(t.data_dir, t.current()["dirs"][0])
    buckets = [d for d in os.listdir(snap_dir) if d.startswith("_bucket=")]
    assert len(buckets) == 8


def _scan_count(df) -> int:
    """Number of parquet scan relations in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Scan parquet")


def test_snapshot_read_plan_is_one_relation(spark, tmp_path):
    """50 appends must still read as ONE multi-path parquet relation —
    the O(#commits) unionByName chain was the round-2 scale gap."""
    from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA

    t = SnapshotTable(spark, str(tmp_path / "tbl"), TRIPLES_SCHEMA)
    df = spark.createDataFrame(
        [(f"urn:s{i}", "urn:p", f"o{i}", "iri", None, None) for i in range(10)],
        TRIPLES_SCHEMA)
    mid = None
    for i in range(50):
        sid = t.commit_append(df, bucket_col="s", n_buckets=4)
        if i == 24:
            mid = sid
    back = t.read()
    assert back.count() == 500
    assert _scan_count(back) == 1
    # time travel keeps working mid-chain, also as one relation
    tt = t.read(mid)
    assert tt.count() == 250 and _scan_count(tt) == 1
    # compaction folds the 50-dir chain into one dir
    assert t.compact(max_dirs=16) is not None
    assert len(t.current()["dirs"]) == 1
    assert t.read().count() == 500


def test_snapshot_merge_buckets_rewrites_only_changed(spark, tmp_path):
    """commit_merge_buckets: untouched buckets' data files are carried by
    reference — byte-identical, same paths — and only the changed buckets
    appear in the new dir. read_buckets prunes at the path level."""
    import glob
    import hashlib

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", LongType(), False)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    base = spark.createDataFrame([(f"k{i}", 1) for i in range(64)], schema)
    s1 = t.commit_overwrite(base, bucket_col="k", n_buckets=8)

    def bucket_of(key: str) -> int:
        return spark.sql(
            f"SELECT pmod(xxhash64('{key}'), 8) b").first()["b"]

    def file_state(dirname):
        out = {}
        for p in glob.glob(os.path.join(t.data_dir, dirname, "**", "*.parquet"),
                           recursive=True):
            out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    dir1 = t.current()["dirs"][0]
    before = file_state(dir1)
    # merge: k3 bumped to n=5, new key knew added — both in known buckets
    changed = {bucket_of("k3"), bucket_of("knew")}
    merged = spark.createDataFrame(
        [(r["k"], 5 if r["k"] == "k3" else r["n"])
         for r in t.read_buckets(changed).collect()] + [("knew", 7)], schema)
    t.commit_merge_buckets(merged, changed, bucket_col="k", n_buckets=8)

    # untouched buckets: same files, same bytes (carried by reference)
    assert file_state(dir1) == before
    # the new dir holds ONLY the changed buckets
    dir2 = t.current()["dirs"][-1]
    leafs = {d for d in os.listdir(os.path.join(t.data_dir, dir2))
             if d.startswith("_bucket=")}
    assert leafs == {f"_bucket={b}" for b in changed}
    # logical content is the merged table
    got = {r["k"]: r["n"] for r in t.read().collect()}
    assert len(got) == 65 and got["k3"] == 5 and got["knew"] == 7
    assert all(got[f"k{i}"] == 1 for i in range(64) if i != 3)
    # still one scan relation, and time travel sees the pre-merge state
    assert _scan_count(t.read()) == 1
    assert {r["k"]: r["n"] for r in t.read(s1).collect()}["k3"] == 1
    # path-level pruning: reading one bucket lists a fraction of the files
    one = t.read_buckets({bucket_of("k3")})
    assert {r["k"] for r in one.collect()} >= {"k3"}
    assert one.count() < 64


def test_streaming_extraction_into_snapshots(spark, tmp_path):
    from shacl_dqa_prototype_spark.datagen import GenConfig, generate_documents
    from shacl_dqa_prototype_spark.operators.extract import extract_fact_mentions
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_incremental_extraction_snapshots,
    )

    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    docs = generate_documents(spark, GenConfig(n_docs=40, n_entities=10))
    docs.write.mode("overwrite").parquet(in_dir)
    batch = extract_fact_mentions(spark.read.parquet(in_dir))
    t = SnapshotTable(spark, str(tmp_path / "tbl"), batch.schema)
    q = start_incremental_extraction_snapshots(spark, in_dir, t, ck)
    q.awaitTermination(120)
    assert t.read().count() == batch.count()
    n_snaps = len(t.snapshots())
    assert n_snaps >= 1 and all("delta_id" in s for s in t.snapshots())
    # replay through the engine: drop the checkpoint's record that the
    # last epoch committed, so the restarted query re-runs that epoch
    # under the same delta id — the driver must skip it
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in os.listdir(commits):
        if f in (str(last), f".{last}.crc"):
            os.remove(os.path.join(commits, f))
    start_incremental_extraction_snapshots(
        spark, in_dir, t, ck).awaitTermination(120)
    assert os.path.exists(os.path.join(commits, str(last)))  # re-ran
    assert len(t.snapshots()) == n_snaps
    assert t.read().count() == batch.count()
    # incremental: appending more input files only commits the delta
    generate_documents(spark, GenConfig(n_docs=15, n_entities=10, seed=3)).write.mode(
        "append").parquet(in_dir)
    q2 = start_incremental_extraction_snapshots(spark, in_dir, t, ck)
    q2.awaitTermination(120)
    total = extract_fact_mentions(spark.read.parquet(in_dir)).count()
    assert t.read().count() == total


def test_session_window_streaming_matches_batch(spark, tmp_path):
    from shacl_dqa_prototype_spark.streaming.stateful import (
        run_streaming_sessionize,
        sessionize_session_window,
    )

    in_dir = str(tmp_path / "ev")
    ev = _events_subset(spark)
    ev.write.mode("overwrite").parquet(in_dir)
    batch = sessionize_session_window(spark.read.parquet(in_dir))
    stream = run_streaming_sessionize(spark, in_dir, query_name="sess_t")
    key = lambda r: (r["user_id"], r["session_start"])
    b = sorted(map(tuple, batch.collect()), key=lambda x: (x[0], x[1]))
    s = sorted(map(tuple, stream.collect()), key=lambda x: (x[0], x[1]))
    assert b == s and len(b) > 0


def test_apply_in_pandas_with_state_totals(spark, tmp_path):
    from shacl_dqa_prototype_spark.streaming.stateful import (
        run_streaming_user_totals,
    )

    in_dir = str(tmp_path / "ev")
    ev = _events_subset(spark, n_users=25)
    ev.write.mode("overwrite").parquet(in_dir)
    got = run_streaming_user_totals(spark, in_dir, query_name="tot_t")
    exp = (
        spark.read.parquet(in_dir).groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"),
             F.max("ts").alias("last_ts"))
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, exp.collect()))
    assert g == e and len(g) > 0


def test_snapshot_append_with_other_layout_refused(spark, tmp_path):
    """One layout per snapshot: an append whose bucket column or count
    differs from the table's raises before it writes a data dir, and the
    table reads back as before. An overwrite may lay the table out anew."""
    import pytest

    ev = _events_subset(spark, 10).select(
        "event_id", "user_id", "event_type", "value")
    n = ev.count()
    t = SnapshotTable(spark, str(tmp_path / "tbl"), ev.schema)
    t.commit_append(ev, bucket_col="user_id", n_buckets=4)
    dirs = sorted(os.listdir(t.data_dir))
    for layout in ({}, {"bucket_col": "event_id", "n_buckets": 4},
                   {"bucket_col": "user_id", "n_buckets": 8}):
        with pytest.raises(ValueError, match="laid out with"):
            t.commit_append(ev, **layout)
        assert sorted(os.listdir(t.data_dir)) == dirs, layout
    assert t.read().count() == n and len(t.snapshots()) == 1
    # an overwrite sets a new layout, and appends follow it
    t.commit_overwrite(ev)
    t.commit_append(ev)
    assert t.read().count() == 2 * n
    assert t.read().columns == ev.columns                   # no _bucket leak


def test_streaming_snapshot_epoch_keyed_per_run(spark, tmp_path):
    """A NEW checkpoint restarts epoch numbering at 0 — its batches must
    commit even though an older run also had epoch 0."""
    from shacl_dqa_prototype_spark.datagen import GenConfig, generate_documents
    from shacl_dqa_prototype_spark.operators.extract import extract_fact_mentions
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_incremental_extraction_snapshots,
    )

    in1, in2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    generate_documents(spark, GenConfig(n_docs=20, n_entities=8)).write.mode(
        "overwrite").parquet(in1)
    generate_documents(spark, GenConfig(n_docs=10, n_entities=8, seed=5)
                       ).write.mode("overwrite").parquet(in2)
    schema = extract_fact_mentions(spark.read.parquet(in1)).schema
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    exp1 = extract_fact_mentions(spark.read.parquet(in1)).count()
    exp2 = extract_fact_mentions(spark.read.parquet(in2)).count()
    q1 = start_incremental_extraction_snapshots(
        spark, in1, t, str(tmp_path / "ck1"))
    q1.awaitTermination(120)
    assert t.read().count() == exp1
    # second pipeline: fresh checkpoint, fresh input — Spark numbers its
    # first epoch 0 again; the run-scoped key must NOT skip it
    q2 = start_incremental_extraction_snapshots(
        spark, in2, t, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert t.read().count() == exp1 + exp2


def test_streaming_dqa_matches_batch_and_is_drain_idempotent(
        spark, tmp_path, monkeypatch):
    """Continuous DQA: a triple stream folded into the incremental state via
    start_streaming_dqa must yield EXACTLY the batch compiler's violations
    for every state-derivable family — and draining the same checkpoint a
    second time must commit nothing (end-to-end exactly-once)."""
    import __spark_entry__ as core
    from shacl_dqa_prototype_spark.plans.constraints import (
        compile_data_constraints,
    )
    from shacl_dqa_prototype_spark.plans.incremental import (
        IncrementalDQAState,
        violations_from_state,
    )
    from shacl_dqa_prototype_spark.streaming import ingest
    from shacl_dqa_prototype_spark.streaming.ingest import start_streaming_dqa
    from tests.test_incremental import DERIVABLE

    T = core._triples(spark, "/root/testdata/sf0.001")
    in_dir = str(tmp_path / "in")
    split = F.abs(F.xxhash64("s")) % 2 == 0
    # >16 part files => >1 microbatch (maxFilesPerTrigger=16), so the
    # epoch loop, the idempotent delta keying AND the maintenance hook
    # (compact + expire, forced aggressive here) all actually run
    T.filter(split).repartition(10).write.mode("append").parquet(in_dir)
    T.filter(~split).repartition(10).write.mode("append").parquet(in_dir)

    monkeypatch.setattr(ingest, "MAINTAIN_EVERY", 1)
    monkeypatch.setattr(ingest, "COMPACT_MAX_DIRS", 1)
    monkeypatch.setattr(ingest, "KEEP_SNAPSHOTS", 2)
    state = IncrementalDQAState.open(spark, str(tmp_path / "state"))
    start_streaming_dqa(
        spark, in_dir, state, core.ENTRY_CFG, core.ENTRY_VOCAB,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(300)
    # maintenance bounds history: every state table's log stays tiny no
    # matter how many epochs ran
    for t in ("subj_flags", "ps_counts", "mono_violations"):
        assert len(getattr(state, t).snapshots()) <= 3, t

    inc = violations_from_state(
        state, core.ENTRY_VOCAB, core.ENTRY_CFG,
        disjoint_pairs=core.ENTRY_DISJOINT)
    batch = compile_data_constraints(
        T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT, core.ENTRY_CFG).violations
    cols = ["metric", "item", "focus", "value"]
    inc_set = {tuple(r) for r in
               inc.filter(F.col("metric").isin(DERIVABLE))
               .select(*cols).distinct().collect()}
    batch_set = {tuple(r) for r in
                 batch.filter(F.col("metric").isin(DERIVABLE))
                 .select(*cols).distinct().collect()}
    assert inc_set == batch_set

    # drain the SAME checkpoint again: no new input files -> no epoch runs,
    # and even a replayed epoch would be skipped by its delta_id — every
    # state table's snapshot log must be unchanged
    before = {t: len(getattr(state, t).snapshots())
              for t in ("subj_flags", "ps_counts", "cls_pairs", "po_pairs",
                        "dom_pairs", "spo_pairs", "mono_violations")}
    start_streaming_dqa(
        spark, in_dir, state, core.ENTRY_CFG, core.ENTRY_VOCAB,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(180)
    after = {t: len(getattr(state, t).snapshots()) for t in before}
    assert after == before


def test_merge_upsert_last_writer_wins_and_prunes(spark, tmp_path):
    """merge_upsert: updates replace, inserts append, untouched buckets'
    files stay byte-identical, and a key-mismatched merge is refused."""
    import glob
    import hashlib

    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", LongType(), False)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    base = spark.createDataFrame([(f"k{i}", 1) for i in range(64)], schema)
    t.commit_overwrite(base, bucket_col="k", n_buckets=8)
    dir1 = t.current()["dirs"][0]

    def file_state():
        return {p: hashlib.md5(open(p, "rb").read()).hexdigest()
                for p in glob.glob(os.path.join(t.data_dir, dir1, "**",
                                                "*.parquet"), recursive=True)}

    before = file_state()
    ups = spark.createDataFrame([("k3", 42), ("knew", 7)], schema)
    t.merge_upsert(ups, "k")
    got = {r["k"]: r["n"] for r in t.read().collect()}
    assert len(got) == 65 and got["k3"] == 42 and got["knew"] == 7
    assert all(got[f"k{i}"] == 1 for i in range(64) if i != 3)
    # the original commit's files are untouched on disk
    assert file_state() == before
    # a second upsert over the same key is last-writer-wins
    t.merge_upsert(spark.createDataFrame([("k3", 99)], schema), "k")
    assert {r["k"]: r["n"] for r in t.read().collect()}["k3"] == 99
    # bucket-layout mismatch is an error, not silent corruption
    with pytest.raises(ValueError):
        t.merge_upsert(spark.createDataFrame([("k1", 0)], schema), "n")


def test_streaming_upsert_cdc(spark, tmp_path, monkeypatch):
    """CDC stream -> merge_upsert per epoch: latest version per key wins,
    re-draining the same checkpoint is a no-op, history stays bounded."""

    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from shacl_dqa_prototype_spark.streaming import ingest
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_upsert,
        write_ordered_epochs,
    )

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", LongType(), False),
                         StructField("seq", LongType(), False)])
    in_dir = str(tmp_path / "in")
    # three files with strictly increasing mtimes = three ordered epochs
    batches = [
        [(f"k{i}", 1, 10 + i) for i in range(8)],                 # insert
        [("k1", 100, 20), ("k1", 50, 19), ("knew", 7, 21)],       # in-batch dup
        [("k1", 777, 30), ("k5", 5, 31)],                         # later epoch wins
    ]
    write_ordered_epochs(
        [spark.createDataFrame(rows, schema) for rows in batches], in_dir)

    tbl = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    ck = str(tmp_path / "ckpt")
    monkeypatch.setattr(ingest, "MAINTAIN_EVERY", 1)
    monkeypatch.setattr(ingest, "COMPACT_MAX_DIRS", 1)
    monkeypatch.setattr(ingest, "KEEP_SNAPSHOTS", 2)
    start_streaming_upsert(
        spark, in_dir + "/*", tbl, "k", schema, ck, order_col="seq",
        max_files_per_trigger=1,
    ).awaitTermination(180)
    got = {r["k"]: (r["n"], r["seq"]) for r in tbl.read().collect()}
    assert len(got) == 9
    assert got["k1"] == (777, 30)     # epoch 3 overrode epoch 2's winner
    assert got["knew"] == (7, 21)
    assert got["k5"] == (5, 31)
    assert got["k2"] == (1, 12)
    n_snaps = len(tbl.snapshots())
    assert n_snaps <= 4               # maintenance bounded the log
    # a fresh drain over the same checkpoint replays nothing
    start_streaming_upsert(
        spark, in_dir + "/*", tbl, "k", schema, ck, order_col="seq",
        max_files_per_trigger=1,
    ).awaitTermination(120)
    assert {r["k"]: (r["n"], r["seq"]) for r in tbl.read().collect()} == got


def test_schema_evolution_add_column(spark, tmp_path):
    """evolve_schema: appended fields read as NULL from old files, time
    travel sees the old shape, removal/retype refused."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    v1 = StructType([StructField("k", StringType(), False),
                     StructField("n", LongType(), False)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), v1)
    s1 = t.commit_append(
        spark.createDataFrame([("a", 1), ("b", 2)], v1), bucket_col="k",
        n_buckets=4)
    v2 = StructType(v1.fields + [StructField("extra", StringType(), True)])
    t.evolve_schema(v2)
    t.commit_append(
        spark.createDataFrame([("c", 3, "new")], v2), bucket_col="k",
        n_buckets=4)
    got = {r["k"]: (r["n"], r["extra"]) for r in t.read().collect()}
    assert got == {"a": (1, None), "b": (2, None), "c": (3, "new")}
    # time travel to the pre-evolution snapshot: old columns only
    assert t.read(s1).columns == ["k", "n"]
    # bucket-pruned reads see the evolved schema too
    assert "extra" in t.read_buckets(range(4)).columns
    with pytest.raises(ValueError):
        t.evolve_schema(v1)  # dropping 'extra' is a removal
    with pytest.raises(ValueError):
        t.evolve_schema(StructType([StructField("k", LongType(), False),
                                    StructField("n", LongType(), False),
                                    StructField("extra", StringType(), True)]))


def test_streaming_neardup_catches_cross_batch_dups(spark, tmp_path):
    """A duplicate whose copies arrive in DIFFERENT batches is caught via
    the accumulated index; re-draining the checkpoint adds nothing."""

    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from shacl_dqa_prototype_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_neardup,
        write_ordered_epochs,
    )

    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [
        [(1, dup), (2, "totally different words entirely here now")],
        [(3, dup), (4, dup + " with a small tail change")],
    ]
    in_dir = str(tmp_path / "in")
    write_ordered_epochs(
        [spark.createDataFrame(rows, schema) for rows in batches], in_dir)

    from pyspark.sql.types import IntegerType
    idx = SnapshotTable(spark, str(tmp_path / "idx"), StructType([
        StructField("doc_id", LongType(), True),
        StructField("band", IntegerType(), True),
        StructField("bucket", LongType(), True)]))
    prs = SnapshotTable(spark, str(tmp_path / "pairs"), StructType([
        StructField("doc_a", LongType(), True),
        StructField("doc_b", LongType(), True)]))
    ck = str(tmp_path / "ckpt")
    start_streaming_neardup(
        spark, in_dir + "/*", idx, prs, ck, n=3, schema=schema,
        max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(180)
    got = {(r["doc_a"], r["doc_b"]) for r in prs.read().distinct().collect()}
    # cross-batch pair (1,3) MUST be present; equals the batch result
    docs = spark.createDataFrame(sum(batches, []), schema)
    exp = {(r["doc_a"], r["doc_b"]) for r in
           minhash_lsh_candidates(docs, n=3).collect()}
    assert (1, 3) in got and got == exp
    before = prs.read().count()
    start_streaming_neardup(
        spark, in_dir + "/*", idx, prs, ck, n=3, schema=schema,
        max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(120)
    assert prs.read().count() == before  # idempotent re-drain


def test_streaming_funnel_carries_state_across_batches(spark, tmp_path):
    """O(1)-state streaming funnel: a key whose funnel COMPLETES only
    across microbatch boundaries must still reach full depth — the state
    carry (n_events, depth) is what distinguishes this from re-running
    the batch fold per epoch. Two time-range files, maxFilesPerTrigger=1
    → two epochs; u1 does view/click in epoch 1 and purchase in epoch 2."""
    import datetime as dt
    import os as _os
    import time as _time

    from shacl_dqa_prototype_spark.operators.features import funnel_conversion
    from shacl_dqa_prototype_spark.streaming.stateful import (
        run_streaming_funnel,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, ts_min, uid, typ):
        return (i, t0 + dt.timedelta(minutes=ts_min), uid, typ, 1.0, None)

    batch1 = [ev(1, 0, 1, "view"), ev(2, 5, 1, "click"),
              ev(3, 1, 2, "purchase"), ev(4, 2, 2, "view")]
    batch2 = [ev(5, 10, 1, "purchase"), ev(6, 11, 2, "view"),
              ev(7, 12, 3, "view")]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    in_dir = str(tmp_path / "fev")
    _os.makedirs(in_dir)
    now = _time.time()
    for b, rows in enumerate([batch1, batch2]):
        stage = str(tmp_path / f"stage{b}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        import glob as _glob
        import shutil as _shutil

        src = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = _os.path.join(in_dir, f"part-{b}.parquet")
        _shutil.move(src, dst)
        _os.utime(dst, (now + b, now + b))
    steps = ["view", "click", "purchase"]
    got = {r["user_id"]: r for r in run_streaming_funnel(
        spark, in_dir, steps, query_name="funnel_t").collect()}
    # u1 completes ACROSS the epoch boundary; u2 is out of funnel order
    assert got[1]["depth"] == 3 and got[1]["reached"]
    assert got[2]["depth"] == 1 and not got[2]["reached"]
    assert got[3]["depth"] == 1 and got[3]["n_events"] == 1
    # and the drain equals the batch operator on the union
    all_ev = spark.createDataFrame(batch1 + batch2, schema)
    exp = {r["user_id"]: r for r in funnel_conversion(all_ev, steps).collect()}
    for uid, e in exp.items():
        g = got[uid]
        assert (g["n_events"], g["depth"], g["reached"]) == (
            e["n_events"], e["depth"], e["reached"])


def test_merge_delete_removes_rows_and_prunes(spark, tmp_path):
    """merge_delete: targeted keys vanish, everything else survives
    verbatim, untouched buckets' files stay byte-identical on disk, the
    pre-delete snapshot is still time-travel readable, and a
    key-mismatched delete is refused."""
    import glob
    import hashlib

    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", LongType(), False)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    base = spark.createDataFrame([(f"k{i}", i) for i in range(64)], schema)
    s1 = t.commit_overwrite(base, bucket_col="k", n_buckets=8)
    dir1 = t.current()["dirs"][0]

    def file_state():
        return {p: hashlib.md5(open(p, "rb").read()).hexdigest()
                for p in glob.glob(os.path.join(t.data_dir, dir1, "**",
                                                "*.parquet"), recursive=True)}

    before = file_state()
    t.merge_delete(
        spark.createDataFrame([("k3",), ("k17",), ("kmissing",)], ["k"]), "k")
    got = {r["k"]: r["n"] for r in t.read().collect()}
    assert len(got) == 62 and "k3" not in got and "k17" not in got
    assert got["k5"] == 5
    # the original commit's files are untouched on disk (pruned rewrite)
    assert file_state() == before
    # pre-delete state still readable via time travel
    assert t.read(s1).count() == 64
    with pytest.raises(ValueError):
        t.merge_delete(spark.createDataFrame([(1,)], ["n"]), "n")
    # an UNBUCKETED table is refused up front too (r4 advice: previously
    # the mismatch surfaced only after a full read + anti-join)
    t2 = SnapshotTable(spark, str(tmp_path / "tbl2"), schema)
    t2.commit_overwrite(base)  # no bucket_col
    with pytest.raises(ValueError, match="bucket"):
        t2.merge_delete(spark.createDataFrame([("k3",)], ["k"]), "k")


def test_snapshot_optimistic_concurrency(spark, tmp_path):
    """Two writers on one table (r4 verdict item 5): a state-derived
    commit whose parent snapshot moved is REJECTED with
    CommitConflictError (Iceberg's catalog compare-and-swap), a plain
    append re-bases onto the actual tail and commits, and merge_upsert's
    bounded retry re-runs its snapshot-isolated read-modify-write so both
    writers' rows land with a correct parent chain."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from shacl_dqa_prototype_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", LongType(), False)])
    d = str(tmp_path / "tbl")
    t1 = SnapshotTable(spark, d, schema)
    t2 = SnapshotTable(spark, d, schema)  # second writer, same table
    base = spark.createDataFrame([(f"k{i}", i) for i in range(16)], schema)
    t1.commit_overwrite(base, bucket_col="k", n_buckets=4)
    stale = t1.current()

    # t2 lands a commit inside t1's read-modify-write window
    t2.merge_upsert(spark.createDataFrame([("k1", 100)], schema), "k")
    tail_before = t1.current()["snapshot_id"]

    # 1. the losing state-derived commit errors cleanly; log tail unchanged
    with pytest.raises(CommitConflictError, match="retry"):
        t1.commit_merge_buckets(
            spark.createDataFrame([("k2", 200)], schema), [0, 1, 2, 3],
            bucket_col="k", n_buckets=4, expected_parent=stale)
    assert t1.current()["snapshot_id"] == tail_before
    assert {r["k"]: r["n"] for r in t1.read().collect()}["k2"] == 2

    def racy_current(t, n_stale):
        """Make t.current() return the pre-race snapshot for the first
        ``n_stale`` calls — simulating the other writer committing after
        this writer read its parent."""
        calls = {"n": 0}
        real = SnapshotTable.current

        def cur():
            calls["n"] += 1
            return stale if calls["n"] <= n_stale else real(t)
        t.current = cur

    # 2. a plain append whose parent moved RE-BASES: both commits survive
    racy_current(t1, 1)  # _commit's parent read is stale; CAS re-reads
    sid = t1.commit_append(
        spark.createDataFrame([("x9", 9)], schema), bucket_col="k",
        n_buckets=4)
    del t1.current
    tail = t1.current()
    assert tail["snapshot_id"] == sid
    assert tail["parent_id"] == tail_before  # re-based, not stale-parented
    got = {r["k"]: r["n"] for r in t1.read().collect()}
    assert got["k1"] == 100 and got["x9"] == 9  # nothing clobbered

    # 3. merge_upsert retries its whole snapshot-isolated cycle and wins
    racy_current(t1, 1)
    t1.merge_upsert(spark.createDataFrame([("k3", 300)], schema), "k")
    del t1.current
    got = {r["k"]: r["n"] for r in t1.read().collect()}
    assert got["k3"] == 300 and got["k1"] == 100 and got["x9"] == 9
    assert len(got) == 17

    # 4. compact derived from a stale snapshot must conflict, not clobber
    for i in range(3):
        t1.commit_append(
            spark.createDataFrame([(f"a{i}", i)], schema),
            bucket_col="k", n_buckets=4)
    racy_current(t1, 1)
    with pytest.raises(CommitConflictError):
        t1.compact(max_dirs=0)
    del t1.current
    assert len({r["k"] for r in t1.read().collect()}) == 20


class _FakeTable(SnapshotTable):
    """Log-only SnapshotTable (no Spark) for cross-process CAS tests."""

    def __init__(self, d):  # noqa: D401 - skip data-dir setup
        self.table_dir = d
        self.log_path = os.path.join(d, "snapshots.jsonl")


def _cas_race_worker(d, i, barrier, results):
    t = _FakeTable(d)
    tail = t.current()
    pid = tail["snapshot_id"] if tail else None
    barrier.wait()  # both writers hold the SAME parent before either commits
    try:
        t._append_log_cas(
            pid, lambda tl: {"snapshot_id": f"s{i}", "parent_id": pid})
        results.put((i, "committed"))
    except Exception as e:  # CommitConflictError (class id differs on spawn)
        results.put((i, type(e).__name__))


def test_snapshot_cas_across_os_processes(tmp_path):
    """The flock CAS must hold across REAL OS processes, not just within
    one interpreter: two processes read the same parent, rendezvous on a
    barrier, then race the commit — exactly one wins, the loser gets
    CommitConflictError, and the log holds one record."""
    import json
    import multiprocessing as mp

    ctx = mp.get_context("spawn")  # never fork the JVM-holding test process
    q = ctx.Queue()
    b = ctx.Barrier(2)
    ps = [ctx.Process(target=_cas_race_worker,
                      args=(str(tmp_path), i, b, q)) for i in range(2)]
    for p in ps:
        p.start()
    for p in ps:
        p.join(120)
    outcomes = sorted(q.get(timeout=10)[1] for _ in range(2))
    assert outcomes == ["CommitConflictError", "committed"], outcomes
    lines = [json.loads(line)
             for line in open(os.path.join(str(tmp_path), "snapshots.jsonl"))]
    assert len(lines) == 1 and lines[0]["parent_id"] is None


def test_log_replace_race_with_blocked_commit(spark, tmp_path):
    """flock binds to the inode, not the path: a writer blocked on the
    pre-vacuum log inode would — once expire_snapshots os.replace'd the
    file and released — append to the unlinked inode and silently lose
    its commit (review finding). locked_log re-checks the inode after
    every blocked acquire and retries on the live file; this forces that
    exact interleaving deterministically."""
    import fcntl
    import threading
    import time as _time

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", IntegerType(), True)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    t.commit_append(spark.createDataFrame([("k1", 1)], schema),
                    bucket_col="k", n_buckets=2)
    snaps_before = t.snapshots()

    holding = threading.Event()

    def vacuum_like_replace():
        # what a racing expire_snapshots does: hold the lock, rewrite the
        # log via tmp + os.replace (new inode), release
        f = open(t.log_path, "a")
        fcntl.flock(f.fileno(), fcntl.LOCK_EX)
        holding.set()
        _time.sleep(0.8)  # let the main thread block on THIS inode
        tmp = t.log_path + ".tmp"
        with open(t.log_path) as r, open(tmp, "w") as w:
            w.write(r.read())
        os.replace(tmp, t.log_path)
        f.close()

    th = threading.Thread(target=vacuum_like_replace)
    th.start()
    holding.wait()
    # no Spark job in the timed window: drive the CAS append directly so
    # it is blocking on the lock within microseconds of `holding`
    rec = dict(snaps_before[-1])
    rec["snapshot_id"], rec["parent_id"] = "deadbeefdeadbeef", \
        snaps_before[-1]["snapshot_id"]
    t._append_log_cas(snaps_before[-1]["snapshot_id"], lambda tail: rec,
                      rebase=lambda tail: rec)
    th.join()
    # the commit must be in the LIVE log (the replacement), not lost on
    # the unlinked pre-replace inode
    assert any(s["snapshot_id"] == "deadbeefdeadbeef"
               for s in t.snapshots())


def test_expire_snapshots_waits_for_commit_lock(spark, tmp_path):
    """expire_snapshots must serialize with commits on the same flock: if
    it rewrote the log while a commit held the lock, the commit's record
    would be dropped by the rewrite (review finding)."""
    import fcntl
    import threading
    import time as _time

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", IntegerType(), True)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    for i in range(3):
        t.commit_append(spark.createDataFrame([(f"k{i}", i)], schema),
                        bucket_col="k", n_buckets=2)

    holding = threading.Event()
    appended = threading.Event()

    def committer():
        f = open(t.log_path, "a")
        fcntl.flock(f.fileno(), fcntl.LOCK_EX)
        holding.set()
        _time.sleep(0.8)  # expire must be blocked on the flock meanwhile
        f.write('{"snapshot_id": "feedfacefeedface", "parent_id": null, '
                '"ts": 0, "operation": "append", "dirs": [], '
                '"bucket_col": null, "n_buckets": null}'
                "\n")
        f.flush()
        appended.set()
        f.close()

    th = threading.Thread(target=committer)
    th.start()
    holding.wait()
    deleted = t.expire_snapshots(keep_last=50)  # keep everything kept
    th.join()
    assert appended.is_set()
    # the in-flight commit survived the rewrite — expire saw it (ran
    # after the lock was released) and kept it under keep_last=50
    assert any(s["snapshot_id"] == "feedfacefeedface"
               for s in t.snapshots())
    assert deleted == []


def test_merge_upsert_unbucketed_rejected_up_front(spark, tmp_path):
    """merge_upsert gets the same early exact-bucket-layout check as
    merge_delete (review finding): an unbucketed table must be refused
    BEFORE any read/anti-join/data-write job runs, not by
    commit_merge_buckets after the work is done."""
    import pytest
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", IntegerType(), True)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    t.commit_overwrite(spark.createDataFrame([("k1", 1), ("k2", 2)], schema))
    with pytest.raises(ValueError, match="bucket"):
        t.merge_upsert(spark.createDataFrame([("k1", 9)], schema), "k")


def test_streaming_neardup_default_schema_and_no_self_pairs(spark, tmp_path):
    """Two review findings: (a) the default schema (schema=None) must be
    usable — it used to fall back to the nested DOCUMENTS_SCHEMA, which
    has no 'text' column, so the documented default died on the first
    batch; (b) a document re-delivered by an at-least-once upstream in a
    LATER file matches its own indexed copy — the (x, x) self-pair must
    be filtered (the batch operator can never emit one)."""

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_neardup,
        write_ordered_epochs,
    )

    flat = StructType([StructField("doc_id", StringType(), False),
                       StructField("text", StringType(), True)])
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    in_dir = str(tmp_path / "in")
    batches = [
        [("a", dup), ("b", "unrelated words entirely different here now")],
        [("a", dup)],  # upstream re-delivery of doc 'a' in a later file
    ]
    write_ordered_epochs(
        [spark.createDataFrame(rows, flat) for rows in batches], in_dir)

    idx = SnapshotTable(spark, str(tmp_path / "idx"), StructType([
        StructField("doc_id", StringType(), True),
        StructField("band", IntegerType(), True),
        StructField("bucket", LongType(), True)]))
    prs = SnapshotTable(spark, str(tmp_path / "pairs"), StructType([
        StructField("doc_a", StringType(), True),
        StructField("doc_b", StringType(), True)]))
    start_streaming_neardup(
        spark, in_dir + "/*", idx, prs, str(tmp_path / "ck"), n=3,
        max_files_per_trigger=1, n_buckets=4,  # schema=None: flat default
    ).awaitTermination(180)
    got = {(r["doc_a"], r["doc_b"]) for r in prs.read().distinct().collect()}
    assert got == set()  # no self-pairs, no cross pairs with 'b'


def test_mixed_bucket_counts_rejected(spark, tmp_path):
    """A 32-bucket table refuses a 16-bucket append and a 16-bucket
    MERGE before either writes a data dir: buckets computed mod 16 over
    leaves written mod 32 would silently miss rows, then mask them forever
    via dir_buckets. The table reads back as before."""
    import pytest
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([StructField("k", StringType(), False),
                         StructField("n", IntegerType(), True)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), schema)
    t.commit_append(spark.createDataFrame([("a", 1)], schema),
                    bucket_col="k", n_buckets=32)
    dirs = sorted(os.listdir(t.data_dir))
    d = spark.createDataFrame([("d", 4)], schema)
    with pytest.raises(ValueError, match="n_buckets=32"):
        t.commit_append(d, bucket_col="k", n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets=32"):
        t.commit_merge_buckets(d, [0], bucket_col="k", n_buckets=16)
    assert sorted(os.listdir(t.data_dir)) == dirs
    assert [tuple(r) for r in t.read().collect()] == [("a", 1)]
    assert len(t.snapshots()) == 1


def test_schema_survives_merge_then_expire(spark, tmp_path):
    """merge_buckets records must carry the in-force schema (review
    finding): expiring an older evolve_schema record would otherwise
    silently drop the evolution for a reopened table."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    v1 = StructType([StructField("k", StringType(), False),
                     StructField("n", IntegerType(), True)])
    v2 = StructType(v1.fields + [StructField("extra", StringType(), True)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), v1)
    t.commit_overwrite(spark.createDataFrame([("a", 1)], v1),
                       bucket_col="k", n_buckets=4)
    t.evolve_schema(v2)
    t.merge_upsert(spark.createDataFrame([("b", 2, "x")], v2), "k")
    t.expire_snapshots(keep_last=1)  # drops the evolve_schema record
    # reopen with the ORIGINAL schema — the kept merge record must still
    # carry v2
    t2 = SnapshotTable(spark, str(tmp_path / "tbl"), v1)
    assert "extra" in t2.read().columns
    assert {r["k"] for r in t2.read().collect()} == {"a", "b"}


def test_merge_delete_empty_dirs_noop(spark, tmp_path):
    """A snapshot with NO data dirs (evolve_schema before any commit) is
    a no-op delete, not a layout error (review finding: merge_upsert had
    the dirs guard, merge_delete did not)."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    v1 = StructType([StructField("k", StringType(), False),
                     StructField("n", IntegerType(), True)])
    v2 = StructType(v1.fields + [StructField("e", StringType(), True)])
    t = SnapshotTable(spark, str(tmp_path / "tbl"), v1)
    t.evolve_schema(v2)  # snapshot with dirs=[], bucket_col=None
    t.merge_delete(spark.createDataFrame([("a",)], ["k"]), "k")
    assert t.read().count() == 0


def test_streaming_novelty_matches_batch_and_redelivery(spark, tmp_path):
    """Novelty-at-ingest on id-ordered epochs: per-epoch rows union to the
    batch ngram_novelty result (the documented parity contract); an
    at-least-once REdelivery in a later file re-emits an identical row
    (its n-grams resolve to first_doc == itself), so distinct() holds;
    re-draining the checkpoint adds nothing."""

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from shacl_dqa_prototype_spark.operators.dedup import ngram_novelty
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_novelty,
        write_ordered_epochs,
    )

    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    shared = "alpha beta gamma"
    batches = [
        [(1, f"{shared} one two"), (2, "totally different words here")],
        [(3, f"{shared} later copy"), (4, "x")],        # 4: too short
        [(1, f"{shared} one two")],                     # redelivery of 1
    ]
    in_dir = str(tmp_path / "in")
    write_ordered_epochs(
        [spark.createDataFrame(rows, schema) for rows in batches], in_dir)

    idx = SnapshotTable(spark, str(tmp_path / "idx"), StructType([
        StructField("ng", LongType(), True),
        StructField("first_doc", LongType(), True)]))
    res = SnapshotTable(spark, str(tmp_path / "res"), StructType([
        StructField("doc_id", LongType(), True),
        StructField("n_distinct", LongType(), False),
        StructField("novel", LongType(), False),
        StructField("novel_frac", DoubleType(), False)]))
    ck = str(tmp_path / "ckpt")
    start_streaming_novelty(
        spark, in_dir + "/*", idx, res, ck, n=3, schema=schema,
        max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(180)
    got = {tuple(r) for r in res.read().distinct().collect()}
    docs = spark.createDataFrame(batches[0] + batches[1], schema)
    exp = {tuple(r) for r in ngram_novelty(docs, n=3).collect()}
    # the redelivered doc 1 re-emits its ORIGINAL row -> distinct union
    # equals the batch result over the deduped corpus
    assert got == exp
    # doc 3 shares 'alpha beta gamma' with the indexed doc 1: novel < all
    by_id = {r[0]: r for r in got}
    assert by_id[3][1] == 3 and by_id[3][2] == 2   # 1 of 3 trigrams seen
    assert by_id[4] == (4, 0, 0, 0.0)              # too short
    before = res.read().count()
    start_streaming_novelty(
        spark, in_dir + "/*", idx, res, ck, n=3, schema=schema,
        max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(120)
    assert res.read().count() == before  # idempotent re-drain


def test_streaming_novelty_within_batch_duplicate_collapses(spark, tmp_path):
    """A doc redelivered WITHIN one trigger (duplicate rows in one epoch
    file) must emit ONE row with single-counted n_distinct/novel — without
    the fold's dropDuplicates, distinct_full_ngrams would see the doc
    twice and emit a second, conflicting (2k, 2m) row the batch operator
    can never produce."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from shacl_dqa_prototype_spark.operators.dedup import ngram_novelty
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_novelty,
        write_ordered_epochs,
    )

    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    txt = "alpha beta gamma delta"
    batches = [
        [(1, txt), (2, "totally different words here"), (1, txt)],
    ]
    in_dir = str(tmp_path / "in")
    write_ordered_epochs(
        [spark.createDataFrame(rows, schema) for rows in batches], in_dir)
    idx = SnapshotTable(spark, str(tmp_path / "idx"), StructType([
        StructField("ng", LongType(), True),
        StructField("first_doc", LongType(), True)]))
    res = SnapshotTable(spark, str(tmp_path / "res"), StructType([
        StructField("doc_id", LongType(), True),
        StructField("n_distinct", LongType(), False),
        StructField("novel", LongType(), False),
        StructField("novel_frac", DoubleType(), False)]))
    start_streaming_novelty(
        spark, in_dir + "/*", idx, res, str(tmp_path / "ckpt"), n=3,
        schema=schema, max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(180)
    rows = res.read().collect()
    assert len(rows) == 2  # one row per doc, not one per delivered copy
    got = {tuple(r) for r in rows}
    docs = spark.createDataFrame(batches[0][:2], schema)
    assert got == {tuple(r) for r in ngram_novelty(docs, n=3).collect()}
    by_id = {r[0]: r for r in got}
    assert by_id[1][1] == 2 and by_id[1][2] == 2  # 2 trigrams, NOT 4


def test_streaming_index_layout_mismatch_fails_loudly(spark, tmp_path):
    """A novelty/near-dup stream pointed at an index committed under a
    DIFFERENT n_buckets must raise, not silently miss stored n-grams
    (touched buckets mod 4 never list leaf dirs written mod 8) — the same
    up-front layout check merge_upsert performs."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_novelty,
        write_ordered_epochs,
    )

    idx_schema = StructType([StructField("ng", LongType(), True),
                             StructField("first_doc", LongType(), True)])
    idx = SnapshotTable(spark, str(tmp_path / "idx"), idx_schema)
    idx.commit_append(spark.createDataFrame([(7, 1)], idx_schema),
                      bucket_col="ng", n_buckets=8)
    from pyspark.sql.types import DoubleType
    res = SnapshotTable(spark, str(tmp_path / "res"), StructType([
        StructField("doc_id", LongType(), True),
        StructField("n_distinct", LongType(), False),
        StructField("novel", LongType(), False),
        StructField("novel_frac", DoubleType(), False)]))
    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    in_dir = str(tmp_path / "in")
    write_ordered_epochs(
        [spark.createDataFrame([(2, "alpha beta gamma")], schema)], in_dir)
    q = start_streaming_novelty(
        spark, in_dir + "/*", idx, res, str(tmp_path / "ckpt"), n=3,
        schema=schema, max_files_per_trigger=1, n_buckets=4,
    )
    with pytest.raises(Exception, match="bucket-pruned reads"):
        q.awaitTermination(180)


def test_streaming_recreated_checkpoint_reprocesses(spark, tmp_path):
    """Deleting the checkpoint dir (the 'reprocess' move) restarts epoch
    numbering at 0 — the run nonce must mint a NEW identity so the fresh
    run's batches are not skipped as replays of the old run's epoch 0
    (path-keyed delta ids would silently drop every new file)."""
    import shutil

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from shacl_dqa_prototype_spark.operators.dedup import ngram_novelty
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_novelty,
        write_ordered_epochs,
    )

    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    in_dir = str(tmp_path / "in")
    write_ordered_epochs(
        [spark.createDataFrame([(1, "alpha beta gamma delta")], schema)],
        in_dir)
    idx = SnapshotTable(spark, str(tmp_path / "idx"), StructType([
        StructField("ng", LongType(), True),
        StructField("first_doc", LongType(), True)]))
    res = SnapshotTable(spark, str(tmp_path / "res"), StructType([
        StructField("doc_id", LongType(), True),
        StructField("n_distinct", LongType(), False),
        StructField("novel", LongType(), False),
        StructField("novel_frac", DoubleType(), False)]))
    ck = str(tmp_path / "ckpt")
    start_streaming_novelty(
        spark, in_dir + "/*", idx, res, ck, n=3, schema=schema,
        max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(180)
    assert {r[0] for r in res.read().collect()} == {1}

    shutil.rmtree(ck)  # user reprocesses: new checkpoint, same tables
    # a later file arrives; the new run must score it (epoch 0 of the new
    # run must NOT collide with the old run's committed epoch 0)
    p2 = os.path.join(in_dir, "b001")
    spark.createDataFrame([(2, "epsilon zeta eta theta")], schema) \
        .repartition(1).write.mode("overwrite").parquet(p2)
    for f in os.listdir(p2):
        os.utime(os.path.join(p2, f), (2000, 2000))
    start_streaming_novelty(
        spark, in_dir + "/*", idx, res, ck, n=3, schema=schema,
        max_files_per_trigger=1, n_buckets=4,
    ).awaitTermination(180)
    got = res.read().distinct()
    assert {r[0] for r in got.collect()} == {1, 2}
    # doc 1's replayed row is IDENTICAL (its n-grams resolve to
    # first_doc == itself in the index), so the distinct union still
    # equals the batch result over both docs
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        schema)
    assert ({tuple(r) for r in got.collect()}
            == {tuple(r) for r in ngram_novelty(docs, n=3).collect()})


def test_streaming_crash_between_commits_heals_on_replay(spark, tmp_path):
    """A novelty epoch whose results commit lands but whose index commit
    raises fails the query; restarting it on the same checkpoint re-runs
    that epoch under the same delta id. Each table then holds exactly one
    commit per delta id, and both hold the rows of an uncrashed run."""
    from collections import Counter

    import pytest
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_novelty,
        write_ordered_epochs,
    )

    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    in_dir = str(tmp_path / "in")
    write_ordered_epochs([spark.createDataFrame(rows, schema) for rows in (
        [(1, "alpha beta gamma delta"), (2, "totally different words here")],
        [(3, "alpha beta gamma later"), (4, "epsilon zeta eta theta")],
    )], in_dir)

    def run(name, crash_at=None):
        idx = SnapshotTable(spark, str(tmp_path / name / "idx"), StructType([
            StructField("ng", LongType(), True),
            StructField("first_doc", LongType(), True)]))
        res = SnapshotTable(spark, str(tmp_path / name / "res"), StructType([
            StructField("doc_id", LongType(), True),
            StructField("n_distinct", LongType(), False),
            StructField("novel", LongType(), False),
            StructField("novel_frac", DoubleType(), False)]))
        start = lambda: start_streaming_novelty(  # noqa: E731
            spark, in_dir + "/*", idx, res, str(tmp_path / name / "ck"),
            n=3, schema=schema, max_files_per_trigger=1, n_buckets=4)
        if crash_at is not None:
            real = idx.commit_append

            def crashing(*a, **kw):
                if len(idx.snapshots()) == crash_at:
                    raise RuntimeError("injected crash before index commit")
                return real(*a, **kw)

            idx.commit_append = crashing
            with pytest.raises(Exception, match="injected crash"):
                start().awaitTermination(180)
            del idx.commit_append
            # the second epoch's results landed, its index commit did not
            assert len(res.snapshots()) == crash_at + 1
            assert len(idx.snapshots()) == crash_at
        start().awaitTermination(180)
        return idx, res

    ref_idx, ref_res = run("ref")
    idx, res = run("crashed", crash_at=1)
    for t in (idx, res):
        per_delta = Counter(s["delta_id"] for s in t.snapshots())
        assert len(per_delta) == 2 and set(per_delta.values()) == {1}
    assert sorted(res.read().collect()) == sorted(ref_res.read().collect())
    assert sorted(idx.read().collect()) == sorted(ref_idx.read().collect())
