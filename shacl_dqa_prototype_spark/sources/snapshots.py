"""Snapshot-log table: the sandbox rendering of an Iceberg table.

north_rule: "resumes from the last committed Iceberg snapshot". The
container has no Iceberg runtime jar, so this module implements the part
of the table-format contract the pipeline depends on — atomic commits,
snapshot isolation, time travel, and safe vacuum — over plain parquet:

    table_dir/
      data/<snapshot-uuid>/...parquet   (one directory per commit)
      snapshots.jsonl                   (append-only commit log)

Commit protocol (same ordering Iceberg uses):
  1. write the new data directory — INVISIBLE to readers, nothing points
     at it yet;
  2. append ONE JSON line to snapshots.jsonl naming the new table state
     (for appends: parent's dirs + the new dir; for overwrites: the new
     dir alone).
A job killed between 1 and 2 leaves an orphan directory only — readers
still see the parent snapshot, exactly the Iceberg crash story. The log
line is one flock'd O_APPEND write + flush + fsync (``append_log``),
atomic for concurrent readers on a local/posix filesystem; a real
deployment swaps this file for the catalog's atomic swap (which is also
the only piece Iceberg itself delegates to the catalog). The
construction manifest (sources/sinks.py) commits through the same steps.

A snapshot has ONE layout: its record's ``bucket_col``/``n_buckets``
describe every dir it references. An append or bucket merge onto a
non-empty tail must keep that layout (ValueError before any data dir is
written); only an overwrite — compaction included — may set a new one.

Reads resolve a snapshot (latest by default, any historical id for time
travel) to a CONCRETE path list — the dirs themselves when the snapshot
is unbucketed, their `_bucket=k` leaf directories when it is bucketed —
and load everything as ONE multi-path relation with an EXPLICIT schema,
so the physical plan has a single parquet scan regardless of how many
commits the snapshot chains (an empty table still reads back as a typed
empty DataFrame). Leaf-dir expansion is also what makes bucket pruning a
pure path-list filter: read_buckets(bs) lists only the wanted
`_bucket=k` dirs.

Bucket-level overwrites (commit_merge_buckets) record, per referenced
dir, WHICH buckets it still serves — Iceberg's dynamic partition
overwrite: an append that touches 2 of 32 buckets rewrites only those
two leaf dirs and carries the other 30 by reference.

Scale note: the log grows one line per commit and is read driver-side —
O(#commits), never O(data). Data files are only ever appended, superseded
bucket-by-bucket, or dropped whole-directory (expire) — no commit ever
rewrites existing data files. compact() folds a long dir chain back into
one dir when the driver-side path list grows past a threshold, optionally
applying a merge rule on the way (merge-on-read tables: an unbucketed
base plus appended levels, see plans/incremental.py).

Concurrency contract (r5 — Iceberg-parity optimistic concurrency):
every commit is a compare-and-swap on the log tail, serialized by an
exclusive flock on the log file. A plain append or blind overwrite whose
parent moved is RE-BASED onto the actual tail and committed (Iceberg
retries non-conflicting operations); a state-derived commit — bucket
merge, schema evolution — raises CommitConflictError, because its data
was computed from a snapshot that is no longer the table state.
merge_upsert/merge_delete pin their reads to the snapshot they validated
(snapshot-isolated read-modify-write) and retry the whole cycle a
bounded number of times before surfacing the conflict. Readers are
always safe; expire_snapshots additionally keeps young orphan dirs (see
its docstring) so a vacuum racing a crashed-or-in-flight commit step 1
cannot delete data the next log append will reference.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


_UNSET = object()  # sentinel: "caller did not pin a parent snapshot"


def locked_log(log_path: str):
    """Exclusive flock on the LIVE log file. flock binds to the inode,
    not the path, and expire_snapshots atomically replaces the log
    (tmp + os.replace): a writer that blocked on the old inode would,
    once granted, append to an unlinked file and silently lose its
    commit. After acquiring, re-stat the path — if the inode moved
    while we waited, reopen and retry on the replacement. The lock is
    released on close and on process death, so a crashed writer never
    wedges the log."""
    import fcntl

    while True:
        f = open(log_path, "a")
        fcntl.flock(f.fileno(), fcntl.LOCK_EX)
        try:
            live_ino = os.stat(log_path).st_ino
        except FileNotFoundError:
            f.close()
            continue
        if os.fstat(f.fileno()).st_ino == live_ino:
            return f
        f.close()


def append_log(log_path: str, build_rec: Callable[[], dict]) -> dict:
    """Step 2 of a commit: under ``locked_log``, build the record
    (``build_rec`` may read the tail and raise to refuse) and append it as ONE
    line, fsync'd before the lock is released. File order is commit
    order: the flock serializes every appender."""
    with locked_log(log_path) as f:
        rec = build_rec()
        f.write(json.dumps(rec) + "\n")
        f.flush()
        os.fsync(f.fileno())
        return rec


def dir_writer(df: DataFrame) -> DataFrameWriter:
    """Step 1's writer: the log line is the commit point, so no
    ``_SUCCESS`` marker (per write: ``__spark_entry__``'s triple-store
    cache uses its marker)."""
    return df.write.option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")


class CommitConflictError(RuntimeError):
    """Another writer committed since this operation read its parent
    snapshot — the optimistic-concurrency rejection a real Iceberg
    catalog's atomic metadata swap produces. Re-read the table state and
    re-run the operation (merge_upsert/merge_delete do so automatically,
    bounded by ``max_retries``)."""


class SnapshotTable:
    def __init__(self, spark: SparkSession, table_dir: str, schema: StructType):
        self.spark = spark
        self.table_dir = table_dir
        self.schema = schema
        self.data_dir = os.path.join(table_dir, "data")
        self.log_path = os.path.join(table_dir, "snapshots.jsonl")
        os.makedirs(self.data_dir, exist_ok=True)

    # ---- log ------------------------------------------------------------

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self.log_path):
            return []
        with open(self.log_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def current(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def delta_ids(self) -> set[str]:
        """Every delta id the log records: the ``delta_id`` an idempotent
        commit carries (``extra={"delta_id": ...}``), plus the
        ``applied_delta_ids`` a vacuum compaction carries forward when it
        expires those commits."""
        ids: set[str] = set()
        for s in self.snapshots():
            if s.get("delta_id"):
                ids.add(s["delta_id"])
            ids.update(s.get("applied_delta_ids") or ())
        return ids

    def has_delta(self, delta_id: str) -> bool:
        """Whether a commit of ``delta_id`` already landed — the replay
        check of every idempotent writer (apply_delta, the streams)."""
        return delta_id in self.delta_ids()

    def _append_log_cas(self, expected_parent_id: str | None,
                        build_rec, rebase=None) -> dict:
        """Step-2 commit with the catalog's compare-and-swap semantics:
        under an exclusive flock on the log, re-read the tail and append
        only if it is still ``expected_parent_id``. When the parent moved:
        with ``rebase`` (appends/blind overwrites — operations that
        commute) the record is rebuilt against the ACTUAL tail and
        committed; without it (state-derived commits) raise
        CommitConflictError, exactly what Iceberg's catalog swap would
        reject."""
        def build() -> dict:
            tail = self.current()
            tail_id = tail["snapshot_id"] if tail else None
            if tail_id == expected_parent_id:
                return build_rec(tail)
            if rebase is not None:
                return rebase(tail)
            raise CommitConflictError(
                f"concurrent commit on {self.table_dir}: this operation "
                f"read snapshot {expected_parent_id!r} but the table "
                f"tail is now {tail_id!r}; re-read the table state and "
                "retry")

        return append_log(self.log_path, build)

    # ---- commits --------------------------------------------------------

    def _write_data(self, df: DataFrame, bucket_col: str | None,
                    n_buckets: int) -> str:
        """Step 1: write the (invisible) data directory for this commit."""
        dirname = uuid.uuid4().hex[:16]
        path = os.path.join(self.data_dir, dirname)
        if bucket_col:
            out = df.withColumn(
                "_bucket", F.pmod(F.xxhash64(bucket_col), F.lit(n_buckets))
            ).repartition("_bucket")
            dir_writer(out).partitionBy("_bucket").parquet(path)
        else:
            dir_writer(df).parquet(path)
        return dirname

    def _check_layout(self, tail: dict | None, bucket_col: str | None,
                      n_buckets: int) -> None:
        """Refuse a dir whose layout differs from a non-empty ``tail``'s:
        one layout per snapshot (module docstring) is what lets a read
        resolve every dir, and a bucket merge prune every dir, by the
        record's ``bucket_col``/``n_buckets`` alone."""
        if not (tail and tail["dirs"]):
            return
        have = (tail.get("bucket_col"), tail.get("n_buckets"))
        want = (bucket_col, n_buckets if bucket_col else None)
        if have != want:
            raise ValueError(
                f"{self.table_dir!r} is laid out with bucket_col="
                f"{have[0]!r}, n_buckets={have[1]}; cannot add a dir with "
                f"bucket_col={want[0]!r}, n_buckets={want[1]} (overwrite "
                "or compact to change the layout)")

    def _commit(self, df: DataFrame, operation: str,
                bucket_col: str | None, n_buckets: int,
                extra: dict | None = None,
                expected_parent: dict | None | object = _UNSET) -> str:
        """``expected_parent`` pins the commit to a caller-read snapshot
        (CAS, no rebase — for state-derived writes like compact); unset,
        the commit re-bases onto the actual tail under race (appends and
        blind overwrites commute). An append must keep the tail's layout
        (``_check_layout``); an overwrite sets its own."""
        pinned = expected_parent is not _UNSET
        parent = expected_parent if pinned else self.current()
        if operation == "append":
            self._check_layout(parent, bucket_col, n_buckets)
        dirname = self._write_data(df, bucket_col, n_buckets)
        snapshot_id = uuid.uuid4().hex[:16]

        def build(tail: dict | None) -> dict:
            """Assemble the log record against ``tail`` — normally the
            parent read above; under a commit race, the ACTUAL tail
            (appends and blind overwrites commute, so re-basing them is
            Iceberg's automatic retry with the data dir reused as-is)."""
            if operation == "overwrite":
                dirs, dir_buckets = [dirname], {}
            else:
                # a re-based append meets a tail that may be laid out anew
                self._check_layout(tail, bucket_col, n_buckets)
                dirs = (tail["dirs"] if tail else []) + [dirname]
                # appends after a merge_buckets commit must carry the
                # parent's bucket restrictions — otherwise superseded
                # buckets resurface
                dir_buckets = (tail or {}).get("dir_buckets") or {}
            return {
                "snapshot_id": snapshot_id,
                "parent_id": tail["snapshot_id"] if tail else None,
                "ts": time.time(),
                "operation": operation,
                "dirs": dirs,
                **({"dir_buckets": dir_buckets} if dir_buckets else {}),
                "bucket_col": bucket_col,
                "n_buckets": n_buckets if bucket_col else None,
                # every record carries the in-force schema so vacuuming an
                # old evolve_schema record can never orphan the evolution
                "schema": json.dumps(self.schema.jsonValue()),
                **(extra or {}),
            }

        self._append_log_cas(
            parent["snapshot_id"] if parent else None, build,
            rebase=None if pinned else build)
        return snapshot_id

    def commit_append(self, df: DataFrame, bucket_col: str | None = None,
                      n_buckets: int = 32, extra: dict | None = None) -> str:
        """Append df as a new snapshot; prior data dirs are reused as-is.
        On a table with data the layout must be the tail's (ValueError
        before anything is written otherwise). ``extra`` lands in the log record (e.g. the ``delta_id`` has_delta
        checks for replay idempotence)."""
        return self._commit(df, "append", bucket_col, n_buckets, extra)

    def commit_overwrite(self, df: DataFrame, bucket_col: str | None = None,
                         n_buckets: int = 32, extra: dict | None = None) -> str:
        """Replace the table contents; old snapshots stay time-travelable
        until expire_snapshots drops them."""
        return self._commit(df, "overwrite", bucket_col, n_buckets, extra)

    def commit_merge_buckets(
        self, df: DataFrame, changed_buckets, bucket_col: str,
        n_buckets: int = 32, extra: dict | None = None,
        expected_parent: dict | None | object = _UNSET,
    ) -> str:
        """Overwrite ONLY the given buckets (Iceberg's dynamic partition
        overwrite): ``df`` must hold the complete new content of
        ``changed_buckets``; every other bucket is carried over from the
        parent snapshot BY REFERENCE — zero data rewritten for untouched
        buckets, so an append-merge writes O(|changed buckets|) not
        O(|table|). Requires a non-empty parent to share this bucket
        layout (``_check_layout``): pruning a 32-bucket dir with buckets
        computed mod 16 would silently miss half its leaves, rows lost
        from the merge and then masked forever by the ``dir_buckets``
        restriction.

        ``expected_parent`` pins the commit to the snapshot the CALLER
        derived ``df`` from (merge_upsert/merge_delete pass the snapshot
        they read): the commit is rejected with CommitConflictError if
        the table tail moved — a bucket overwrite computed against a
        stale state must never land (Iceberg's overwrite validation)."""
        parent = self.current() if expected_parent is _UNSET \
            else expected_parent
        self._check_layout(parent, bucket_col, n_buckets)
        changed = sorted({int(b) for b in changed_buckets})
        changed_set = set(changed)
        dirname = self._write_data(df, bucket_col, n_buckets)
        dirs: list[str] = []
        dir_buckets: dict[str, list[int]] = {}
        if parent:
            parent_buckets = parent.get("dir_buckets") or {}
            for d in parent["dirs"]:
                allowed = parent_buckets.get(d)
                remaining = sorted(
                    (set(allowed) if allowed is not None
                     else set(range(n_buckets))) - changed_set)
                if not remaining:
                    continue  # dir fully superseded by this merge
                dirs.append(d)
                dir_buckets[d] = remaining
        dirs.append(dirname)
        dir_buckets[dirname] = changed
        snapshot_id = uuid.uuid4().hex[:16]
        self._append_log_cas(
            parent["snapshot_id"] if parent else None,
            lambda tail: {
                "snapshot_id": snapshot_id,
                "parent_id": parent["snapshot_id"] if parent else None,
                "ts": time.time(),
                "operation": "merge_buckets",
                "dirs": dirs,
                "dir_buckets": dir_buckets,
                "bucket_col": bucket_col,
                "n_buckets": n_buckets,
                # keep the schema-on-every-record invariant (_commit's
                # docstring): without it, expiring an evolve_schema record
                # older than this merge would silently drop the evolution
                "schema": json.dumps(self.schema.jsonValue()),
                **(extra or {}),
            })
        return snapshot_id

    # ---- reads ----------------------------------------------------------

    def _resolve_snapshot(self, snapshot_id: str | None,
                          snaps: list[dict] | None = None) -> dict | None:
        snaps = self.snapshots() if snaps is None else snaps
        if snapshot_id is None:
            return snaps[-1] if snaps else None
        snap = next((s for s in snaps if s["snapshot_id"] == snapshot_id), None)
        if snap is None:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        return snap

    def _schema_at(self, snap: dict | None,
                   snaps: list[dict] | None = None) -> StructType:
        """The schema in force at ``snap``: the latest ``schema`` carried
        by the log at or before it (evolve_schema records one), falling
        back to the constructor schema — so time travel to a pre-evolution
        snapshot reads with the columns that existed THEN. Pass ``snaps``
        to reuse an already-parsed log instead of re-reading the file."""
        if snap is None:
            return self.schema
        found = self.schema
        for s in (self.snapshots() if snaps is None else snaps):
            if "schema" in s:
                found = StructType.fromJson(json.loads(s["schema"]))
            if s["snapshot_id"] == snap["snapshot_id"]:
                break
        return found

    def evolve_schema(self, new_schema: StructType) -> str:
        """Add-column schema evolution (the Iceberg evolution case this
        pipeline needs): every existing field must survive unchanged —
        new fields are appended and read as NULL from pre-evolution data
        files (explicit-schema parquet reads fill missing columns), so no
        data is rewritten. The evolution is itself a commit: an O(1) log
        append referencing the parent's dirs verbatim, time-travelable
        like any other snapshot."""
        old = {f.name: f.dataType for f in self.schema.fields}
        new = {f.name: f.dataType for f in new_schema.fields}
        for name, dtype in old.items():
            if name not in new or new[name] != dtype:
                raise ValueError(
                    f"schema evolution may only ADD fields; {name!r} "
                    "was removed or retyped")
        parent = self.current()
        snapshot_id = uuid.uuid4().hex[:16]
        self._append_log_cas(
            parent["snapshot_id"] if parent else None,
            lambda tail: {
                "snapshot_id": snapshot_id,
                "parent_id": parent["snapshot_id"] if parent else None,
                "ts": time.time(),
                "operation": "evolve_schema",
                "schema": json.dumps(new_schema.jsonValue()),
                "dirs": parent["dirs"] if parent else [],
                **({"dir_buckets": parent["dir_buckets"]}
                   if parent and parent.get("dir_buckets") else {}),
                "bucket_col": (parent or {}).get("bucket_col"),
                "n_buckets": (parent or {}).get("n_buckets"),
            })
        self.schema = new_schema
        return snapshot_id

    def _resolve_paths(self, snap: dict,
                       buckets: set[int] | None = None) -> list[str]:
        """Concrete read paths for a snapshot: its dirs as roots when it
        is unbucketed, else their `_bucket=k` leaf dirs (restricted to
        each dir's recorded bucket set, further intersected with
        ``buckets``)."""
        roots = [os.path.join(self.data_dir, d) for d in snap["dirs"]]
        if not snap.get("bucket_col"):
            return roots
        dir_buckets = snap.get("dir_buckets") or {}
        paths: list[str] = []
        for d, root in zip(snap["dirs"], roots):
            allowed = dir_buckets.get(d)
            for leaf in sorted(os.listdir(root)):
                if not leaf.startswith("_bucket="):
                    continue
                b = int(leaf.split("=", 1)[1])
                if allowed is not None and b not in allowed:
                    continue
                if buckets is not None and b not in buckets:
                    continue
                paths.append(os.path.join(root, leaf))
        return paths

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        """Latest snapshot by default; pass snapshot_id for time travel.

        ONE multi-path parquet relation whatever the commit-chain length —
        the plan stays O(1) relations after 1000 appends (path resolution
        is driver-side file listing, O(#dirs · #buckets)). Reading the
        `_bucket=k` leaf dirs directly sidesteps Spark's mixed-root
        partition-discovery restriction entirely."""
        snaps = self.snapshots()  # parse the log ONCE per read
        snap = self._resolve_snapshot(snapshot_id, snaps)
        schema = self._schema_at(snap, snaps)
        if snap is None or not snap["dirs"]:
            return self.spark.createDataFrame([], schema)
        paths = self._resolve_paths(snap)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def read_buckets(self, buckets, snapshot_id: str | None = None) -> DataFrame:
        """Read only the given buckets — pruning happens at the PATH level
        (unwanted leaf dirs are never listed to Spark), so touching 2 of
        32 buckets scans ~1/16th of the table's files. An unbucketed
        snapshot has nothing to prune and is read whole."""
        snaps = self.snapshots()  # parse the log ONCE per read
        snap = self._resolve_snapshot(snapshot_id, snaps)
        schema = self._schema_at(snap, snaps)
        if snap is None or not snap["dirs"]:
            return self.spark.createDataFrame([], schema)
        paths = self._resolve_paths(snap, buckets={int(b) for b in buckets})
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def merge_upsert(
        self, updates: DataFrame, key_col: str,
        n_buckets: int = 32, extra: dict | None = None,
        max_retries: int = 2,
    ) -> str:
        """Keyed MERGE (upsert, last-writer-wins): rows of ``updates``
        replace current rows with the same ``key_col`` value and insert
        otherwise — Iceberg's ``MERGE INTO`` for the row-level case this
        pipeline needs. ``updates`` must be unique per key (pre-aggregate
        if it isn't; duplicated update keys would make the result
        order-dependent). Bucket-pruned and snapshot-isolated as
        ``_merge_keyed`` describes."""
        return self._merge_keyed(
            updates, key_col, n_buckets, extra, max_retries, "merge_upsert",
            lambda current: current.join(
                updates.select(key_col), key_col, "left_anti"
            ).unionByName(updates.select(current.columns)))

    def merge_delete(
        self, keys: DataFrame, key_col: str,
        n_buckets: int = 32, extra: dict | None = None,
        max_retries: int = 2,
    ) -> str:
        """Keyed row-level DELETE: every current row whose ``key_col``
        value appears in ``keys`` is removed — the right-to-erasure /
        record-retraction primitive (Iceberg's ``DELETE FROM … WHERE key
        IN (…)`` for the keyed case). Bucket-pruned and snapshot-isolated
        as ``_merge_keyed`` describes. The old snapshot stays readable
        (time travel shows pre-delete state until expire_snapshots
        vacuums it — run it promptly when the delete is a compliance
        erasure)."""
        return self._merge_keyed(
            keys, key_col, n_buckets, extra, max_retries, "merge_delete",
            lambda current: current.join(
                keys.select(key_col).distinct(), key_col, "left_anti"))

    def _merge_keyed(
        self, keys: DataFrame, key_col: str, n_buckets: int,
        extra: dict | None, max_retries: int, detail: str,
        rewrite: Callable[[DataFrame], DataFrame],
    ) -> str:
        """The bucket-pruned read-modify-write of the keyed merges:
        ``rewrite`` maps the current rows of the buckets ``keys`` touch to
        their new content.

        Scale shape: the bucket set of ``keys`` is computed first (one
        tiny distinct on the keys), only those ``_bucket=k`` leaf dirs are
        read back (path-level pruning, see read_buckets), the rewrite runs
        against that slice alone, and commit_merge_buckets rewrites only
        those buckets while carrying every untouched bucket by reference.
        The rewrite is O(touched buckets), which is small only when there
        are far fewer distinct keys than buckets: k keys spread over 32
        buckets leave an expected 32·(31/32)^k untouched, 1.3 at k = 100
        and ~5·10⁻¹³ at k = 1,000, so merging 1k keys rewrites
        essentially every bucket.

        Concurrency: the whole read-modify-write is SNAPSHOT-ISOLATED —
        the buckets are read AT the snapshot validated here, and the
        commit is pinned to it; if another writer lands in between, the
        commit is rejected and the full cycle re-runs against the new
        state, up to ``max_retries`` times before the conflict
        surfaces."""
        last: CommitConflictError | None = None
        for _ in range(max_retries + 1):
            snap = self.current()
            # exact bucket-layout match up front: an unbucketed table
            # (bucket_col=None) would otherwise read ALL buckets, run the
            # anti-join and write data before commit_merge_buckets finally
            # rejected the layout. A snapshot with NO data dirs (e.g.
            # evolve_schema before any commit) is not a layout error.
            if (snap is not None and snap["dirs"]
                    and snap.get("bucket_col") != key_col):
                raise ValueError(
                    f"table is bucketed by {snap.get('bucket_col')!r}, "
                    f"cannot {detail} on {key_col!r} (a keyed merge needs "
                    "the table committed with bucket_col=key_col)")
            nb = (snap.get("n_buckets") or n_buckets) if snap else n_buckets
            bucket_of = F.pmod(F.xxhash64(key_col), F.lit(nb))
            changed = [r[0] for r in
                       keys.select(bucket_of.alias("b")).distinct().collect()]
            current = self.read_buckets(
                changed, snapshot_id=snap["snapshot_id"] if snap else None)
            try:
                return self.commit_merge_buckets(
                    rewrite(current), changed, bucket_col=key_col,
                    n_buckets=nb,
                    extra={**(extra or {}), "operation_detail": detail},
                    expected_parent=snap)
            except CommitConflictError as e:
                last = e
        raise last

    # ---- maintenance ----------------------------------------------------

    def compact(self, max_dirs: int = 16,
                extra: dict | None = None,
                merge: Callable[[DataFrame], DataFrame] | None = None,
                ) -> str | None:
        """If the current snapshot references more than ``max_dirs`` data
        dirs, fold everything into ONE overwrite commit, written in the
        snapshot's layout. Bounds driver-side path resolution and file
        counts on long append chains; returns the new snapshot id or None
        if no compaction was needed.

        ``merge`` (DataFrame → DataFrame) is applied to the rows read
        before they are rewritten — a merge-on-read table (plans/
        incremental.py: a base plus appended levels, merged by a per-table
        rule when read) passes its rule, so the compacted base holds the
        merged rows and reads back the same. Without ``merge`` the rows are
        rewritten as they are, coalesced to ceil(data bytes /
        ``spark.sql.files.maxPartitionBytes``) part files, at least one —
        the read alone would give one part file per input split, however
        small."""
        snap = self.current()
        if snap is None or len(snap["dirs"]) <= max_dirs:
            return None
        rows = self.read(snap["snapshot_id"])
        if merge:
            rows = merge(rows)
        else:
            size = sum(os.path.getsize(os.path.join(root, f))
                       for p in self._resolve_paths(snap)
                       for root, _, files in os.walk(p)
                       for f in files if f.endswith(".parquet"))
            split = self.spark._jsparkSession.sessionState().conf() \
                .filesMaxPartitionBytes()
            rows = rows.coalesce(max(1, -(-size // split)))
        # the rewrite is derived from `snap`, so the commit is PINNED to
        # it: a concurrent append must win over the compaction (which the
        # caller just re-runs later), never be clobbered by it
        return self._commit(
            rows, "overwrite",
            snap.get("bucket_col"), snap.get("n_buckets") or 32,
            extra={"compacted_from": len(snap["dirs"]), **(extra or {})},
            expected_parent=snap)

    def expire_snapshots(self, keep_last: int = 1,
                         orphan_grace_s: float = 3600.0) -> list[str]:
        """Drop history: keep the last ``keep_last`` snapshots and delete
        data dirs no kept snapshot references — EXCEPT young orphan dirs.
        An orphan (a dir no log record references) may be step 1 of an
        in-flight commit whose log line hasn't been appended yet; deleting
        it would corrupt that commit. Orphans are therefore only removed
        once older than ``orphan_grace_s`` seconds (Iceberg's
        orphan-file-cleanup age rule). Dirs referenced by EXPIRED
        snapshots are deleted immediately — the log rewrite below drops
        those records in the same maintenance action. The whole
        read-decide-rewrite runs under the same flock every commit
        serializes on — otherwise a concurrent commit could append to the
        pre-rewrite log between our read and the os.replace and be
        silently dropped (its data dir later orphan-deleted). Readers are
        unaffected either way."""
        with locked_log(self.log_path):
            snaps = self.snapshots()
            kept = snaps[-keep_last:] if keep_last > 0 else []
            referenced_kept = {d for s in kept for d in s["dirs"]}
            referenced_any = {d for s in snaps for d in s["dirs"]}
            now = time.time()
            deleted = []
            for d in os.listdir(self.data_dir):
                if d in referenced_kept:
                    continue
                path = os.path.join(self.data_dir, d)
                if d not in referenced_any:  # orphan: step-1 of a crashed
                    try:                     # or in-flight commit — age-gate
                        if now - os.path.getmtime(path) < orphan_grace_s:
                            continue
                    except OSError:
                        continue
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(d)
            # rewrite the log to the kept tail (tmp + atomic rename; a
            # blocked writer re-checks the inode after acquiring the lock,
            # so the replacement can never strand its append)
            tmp = self.log_path + ".tmp"
            with open(tmp, "w") as f:
                for s in kept:
                    f.write(json.dumps(s) + "\n")
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.log_path)
            return deleted
