"""Incremental DQA state as merge-on-read levels: a fold appends one level
per state table, reads merge base ∪ levels by the table's STATE_MERGES
rule, and compaction rewrites them, merged, as one base. These tests fold
deltas whose keys span levels (the parity tests in test_incremental.py
split by subject hash, so no key crosses a level there), pin that
compaction changes nothing observable, and race a compaction against a
fold."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

import __spark_entry__ as core
from shacl_dqa_prototype_spark.functions.terms import RDFS_LABEL
from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa
from shacl_dqa_prototype_spark.plans.incremental import (
    STATE_MERGES,
    IncrementalDQAState,
    apply_delta,
    score_from_state,
    violations_from_state,
)
from shacl_dqa_prototype_spark.sources.snapshots import CommitConflictError
from tests.test_incremental import SF
TYPE = core.ENTRY_CFG.type_property
# keys crafted to span levels, with the delta each triple is folded in:
#   lvl1 — labelled in delta 0, typed in delta 1 (subj_flags bool-max);
#   lvl2 — one functional-property triple in each of deltas 0 and 1
#          (ps_counts sums to n = 2: a FunctionalProperty violation);
#   lvl3 — a class-range object that is typed only in delta 2
CRAFTED = [
    (0, "urn:x:lvl1", RDFS_LABEL, "Level one", "literal", None, "en"),
    (1, "urn:x:lvl1", TYPE, "urn:c:Customer", "iri", None, None),
    (0, "urn:x:lvl2", "urn:p:hasSupplier", "urn:x:supA", "iri", None, None),
    (1, "urn:x:lvl2", "urn:p:hasSupplier", "urn:x:supB", "iri", None, None),
    (0, "urn:x:lvl3", "urn:p:hasCustomer", "urn:x:cust3", "iri", None, None),
    (2, "urn:x:cust3", TYPE, "urn:c:PreferredCustomer", "iri", None, None),
]


def _deltas(spark, k: int):
    """The sf0.001 triple view plus CRAFTED, split into ``k`` deltas by a
    hash of (s, p, o), so subjects of the fixture span levels too."""
    T = core._triples(spark, SF)
    crafted = spark.createDataFrame(
        [(d % k, *row) for d, *row in CRAFTED],
        StructType([StructField("d", LongType()), *T.schema.fields]))
    U = (T.withColumn("d", F.abs(F.xxhash64("s", "p", "o")) % k)
         .unionByName(crafted))
    return U.drop("d"), [U.filter(F.col("d") == i).drop("d")
                         for i in range(k)]


def _fold(state, deltas, first: int = 0) -> None:
    for i, delta in enumerate(deltas, start=first):
        apply_delta(state, delta, core.ENTRY_CFG, core.ENTRY_VOCAB,
                    delta_id=f"d{i}")


def _score(state):
    return score_from_state(state, core.ENTRY_VOCAB, core.ENTRY_CFG,
                            disjoint_pairs=core.ENTRY_DISJOINT)


def _rows(report) -> list[tuple]:
    return sorted((tuple(r) for r in report.collect()),
                  key=lambda t: tuple((x is None, x) for x in t))


def _merged_state(state) -> dict[str, list[tuple]]:
    return {name: sorted(map(tuple, state.merged(name).collect()))
            for name in STATE_MERGES}


def _violations(state, metric: str) -> set[tuple]:
    v = violations_from_state(state, core.ENTRY_VOCAB, core.ENTRY_CFG,
                              disjoint_pairs=core.ENTRY_DISJOINT)
    return {(r["item"], r["focus"], r["value"]) for r in
            v.filter(F.col("metric") == metric).collect()}


def _data_files(root: str) -> dict[str, str]:
    out = {}
    for f in glob.glob(os.path.join(root, "*", "data", "**", "*"),
                       recursive=True):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_keys_spanning_levels_match_batch(spark, tmp_path):
    """Three deltas whose keys cross levels: the state report equals the
    batch report over their union, violation samples included, and each
    crafted cross-level key merges as its rule says."""
    union, deltas = _deltas(spark, 3)
    state = IncrementalDQAState.open(spark, str(tmp_path / "state"))
    _fold(state, deltas[:2])
    # the class-range object is untyped so far: a CorrectRange violation
    cr = ("urn:p:hasCustomer", "urn:x:lvl3", "urn:x:cust3")
    assert cr in _violations(state, "CorrectRange")
    _fold(state, deltas[2:], first=2)
    # ... that its typing in a later level retracts
    assert cr not in _violations(state, "CorrectRange")

    assert len(state.ps_counts.current()["dirs"]) == 3  # base + 2 levels
    # the entry vocabulary has no class-domain property: dom_pairs is
    # empty by construction, and no fold commits or writes it
    assert state.dom_pairs.current() is None
    assert os.listdir(state.dom_pairs.data_dir) == []
    # lvl2's two functional-property triples sit in two levels with n = 1
    # each; the merged read sums them and the family fires
    fp = F.col("p") == "urn:p:hasSupplier"
    lvl2 = (F.col("s") == "urn:x:lvl2") & fp
    assert sorted(r["n"] for r in
                  state.ps_counts.read().filter(lvl2).collect()) == [1, 1]
    assert [r["n"] for r in state.merged("ps_counts").filter(lvl2)
            .collect()] == [2]
    assert ("urn:p:hasSupplier", "urn:x:lvl2", None) in _violations(
        state, "FunctionalProperty")
    # lvl1's label and type flags come from different levels
    is_lvl1 = F.col("s") == "urn:x:lvl1"
    assert state.subj_flags.read().filter(is_lvl1).count() == 2
    (flags,) = state.merged("subj_flags").filter(is_lvl1).collect()
    assert flags["has_label"] and flags["is_entity"]

    batch = run_data_dqa(union, core.ENTRY_VOCAB, core.ENTRY_DISJOINT,
                         core.ENTRY_CFG)
    inc_rows = _rows(_score(state))
    assert inc_rows == _rows(batch)
    assert any(r[7] for r in inc_rows if r[4] != "meta")


def test_reports_are_local_relations(spark, tmp_path):
    """score_plan's report (batch) and score_from_state's report are
    driver rows handed to Spark as one local relation: the executed plan
    is a LocalTableScan, so the report writes and collects run no
    tasks."""
    T = core._triples(spark, SF)
    state = IncrementalDQAState.open(spark, str(tmp_path / "state"))
    _fold(state, [T])
    for report in (_score(state),
                   run_data_dqa(T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT,
                                core.ENTRY_CFG)):
        plan = report._jdf.queryExecution().executedPlan()
        assert plan.getClass().getSimpleName() == "LocalTableScanExec", (
            plan.toString())
        assert report.count() > 0


def test_compaction_changes_nothing_observable(spark, tmp_path):
    """17 deltas folded into one state (the 17th fold crosses the 16-dir
    threshold and compacts every state table) and into another with a
    forced compaction after the 8th: both reports equal the batch report,
    a compacted table holds one row per key, and a fold that compacts
    nothing leaves every existing data file byte-identical."""
    k, mid = 17, 8
    union, deltas = _deltas(spark, k)
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    a = IncrementalDQAState.open(spark, a_dir)
    _fold(a, deltas[:mid])
    # state B starts as a copy of A after the first `mid` folds
    shutil.copytree(a_dir, b_dir)
    b = IncrementalDQAState.open(spark, b_dir)

    _fold(a, deltas[mid:k - 1], first=mid)
    snap = a.ps_counts.current()
    assert len(snap["dirs"]) == k - 1 and "compacted_from" not in snap
    # keys span levels, so the levels hold more rows than the merged read
    assert a.ps_counts.read().count() > a.merged("ps_counts").count()
    _fold(a, deltas[k - 1:], first=k - 1)
    # every table but dom_pairs, which no fold writes on this vocabulary;
    # the row-tier log compacts at the same threshold
    written = [name for name in a.tables() if name != "dom_pairs"]
    assert a.dom_pairs.current() is None
    for name in written:
        tip = getattr(a, name).current()
        assert len(tip["dirs"]) == 1 and tip["compacted_from"] == k, name

    for name in written:
        assert b.compact(name, max_dirs=0) is not None
    before = _data_files(b_dir)
    _fold(b, deltas[mid:mid + 1], first=mid)
    after = _data_files(b_dir)
    assert before and all(after.get(f) == h for f, h in before.items())
    assert len(after) > len(before)
    _fold(b, deltas[mid + 1:], first=mid + 1)
    assert len(b.ps_counts.current()["dirs"]) == 1 + k - mid

    # one row per key in each compacted base
    ps, subj = a.ps_counts.read(), a.subj_flags.read()
    assert ps.count() == ps.select("p", "s").distinct().count()
    assert subj.count() == subj.select("s").distinct().count()

    report_a = _rows(_score(a))
    assert report_a == _rows(_score(b))
    assert report_a == _rows(run_data_dqa(
        union, core.ENTRY_VOCAB, core.ENTRY_DISJOINT, core.ENTRY_CFG))


def test_compaction_racing_a_fold_loses_cleanly(spark, tmp_path):
    """A fold that commits after a compaction read its snapshot wins: the
    compaction raises CommitConflictError, the fold's level stays in the
    table, the merged state equals a sequential fold of the same deltas,
    and a retried compaction then succeeds without changing it."""
    _, deltas = _deltas(spark, 4)
    state = IncrementalDQAState.open(spark, str(tmp_path / "state"))
    _fold(state, deltas[:3])
    table = state.ps_counts
    real_read = table.read

    def read_then_fold(snapshot_id=None):
        rows = real_read(snapshot_id)
        if snapshot_id is not None:  # the compaction's pinned read
            table.read = real_read
            _fold(state, deltas[3:], first=3)
        return rows

    table.read = read_then_fold
    with pytest.raises(CommitConflictError):
        state.compact("ps_counts", max_dirs=0)
    assert table.read == real_read  # the fold ran inside the race window
    tip = table.current()
    assert tip["delta_id"] == "d3" and len(tip["dirs"]) == 4

    sequential = IncrementalDQAState.open(spark, str(tmp_path / "seq"))
    _fold(sequential, deltas)
    expected = _merged_state(sequential)
    assert _merged_state(state) == expected

    assert state.compact("ps_counts", max_dirs=0) is not None
    assert len(table.current()["dirs"]) == 1
    assert _merged_state(state) == expected
