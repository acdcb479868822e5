"""Incremental DQA parity: folding a corpus in as two snapshot appends
must yield EXACTLY the batch plan's profile and violations for every
state-derivable family — and never rescan old triples."""

from __future__ import annotations

from dataclasses import replace

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import __spark_entry__ as core
from shacl_dqa_prototype_spark.plans.constraints import compile_data_constraints
from shacl_dqa_prototype_spark.plans.incremental import (
    IncrementalDQAState,
    apply_delta,
    profile_from_state,
    violations_from_state,
)
from shacl_dqa_prototype_spark.plans.profile import profile_graph

SF = "/root/testdata/sf0.001"

DERIVABLE = [
    "UsageHashURIsEntities", "LabelForEntities", "InterlinkingCompleteness",
    "URIsLengthEntities", "URIsParametersEntities", "ProlixFeatures",
    "SelfDescriptiveFormat", "BlankNodesUsageEntities",
    "DifferentLanguagesLabelsEntities", "DifferentLanguagesDescriptionsEntities",
    "FunctionalProperty", "InverseFunctionalPropertyUniqueness",
    # append-monotone tier: per-triple filter families served from the
    # append-only violations log
    "UsageExternalURIEntities", "MisuseOwlObjectProperties",
    "MisuseOwlDatatypeProperties", "DeprecatedClasses",
    "DeprecatedProperties", "MisplacedProperties", "MisplacedClasses",
    "IrreflexiveProperty", "CorrectRange", "MalformedLiteral",
    # retractable anti-join families: state ⋈ state derivations
    "CorrectDomain", "AsymmetricProperty", "EntitiesDisjointClasses",
    "SchemaCompletenessClassUsage",
]


def _fold_in_two(spark, tmp_path, T, cfg=core.ENTRY_CFG):
    state = IncrementalDQAState.open(spark, str(tmp_path / "state"))
    split = F.abs(F.xxhash64("s")) % 2 == 0
    apply_delta(state, T.filter(split), cfg, core.ENTRY_VOCAB,
                delta_id="d1")
    apply_delta(state, T.filter(~split), cfg, core.ENTRY_VOCAB,
                delta_id="d2")
    return state


def test_incremental_profile_matches_batch(spark, tmp_path):
    T = core._triples(spark, SF)
    state = _fold_in_two(spark, tmp_path, T)
    prof = profile_from_state(state)
    batch = profile_graph(T, core.ENTRY_CFG.type_property,
                          core.ENTRY_CFG.labeling_property,
                          core.ENTRY_CFG.description_property,
                          core.ENTRY_CFG.interlinking_property)
    assert prof.num_triples == batch.num_triples
    assert prof.num_properties == batch.num_properties
    assert prof.num_entities == batch.num_entities
    assert prof.num_classes == batch.num_classes
    assert prof.num_entities_label == batch.num_entities_label
    assert prof.num_entities_interlinking == batch.num_entities_interlinking
    assert prof.num_entities_description == batch.num_entities_description
    for key in ("triples_per_property", "subjects_per_property",
                "entities_per_class"):
        inc = sorted(map(tuple, getattr(prof, key).collect()))
        ref = sorted(map(tuple, getattr(batch, key).collect()))
        assert inc == ref, key

    # state itself is snapshot-versioned: the pre-second-delta state is
    # still readable (rollback / audit)
    snaps = state.ps_counts.snapshots()
    assert len(snaps) == 2
    n_after_first = state.ps_counts.read(snaps[0]["snapshot_id"]).count()
    assert 0 < n_after_first < state.ps_counts.read().count()


def test_incremental_violations_match_batch(spark, tmp_path):
    T = core._triples(spark, SF)
    state = _fold_in_two(spark, tmp_path, T)
    inc_v = violations_from_state(state, core.ENTRY_VOCAB, core.ENTRY_CFG,
                                  disjoint_pairs=core.ENTRY_DISJOINT)
    batch_v = compile_data_constraints(
        T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT, core.ENTRY_CFG).violations
    # the sh:class range branch (retractable anti-join) must be exercised,
    # not vacuous — it used to be the batch-only tier
    assert any(t.range is not None and t.range_kind == "class"
               for t in core.ENTRY_VOCAB)
    for metric in DERIVABLE:
        cond = F.col("metric") == metric
        inc = sorted(map(tuple, inc_v.filter(cond)
                         .select("item", "focus").distinct().collect()))
        ref = sorted(map(tuple, batch_v.filter(cond)
                         .select("item", "focus").distinct().collect()))
        assert inc == ref, f"{metric}: {len(inc)} vs {len(ref)}"
        if metric in ("LabelForEntities", "FunctionalProperty",
                      "MalformedLiteral", "IrreflexiveProperty",
                      "SelfDescriptiveFormatProperties", "CorrectRange",
                      "AsymmetricProperty", "EntitiesDisjointClasses"):
            assert inc, f"{metric} parity is vacuous (0 rows)"


def test_apply_delta_idempotent_on_retry(spark, tmp_path):
    """Re-applying an already-committed delta_id is a no-op on every
    table — sum-merged ps_counts would otherwise double-count."""
    T = core._triples(spark, SF)
    state = _fold_in_two(spark, tmp_path, T)
    tables = (state.subj_flags, state.ps_counts, state.cls_pairs,
              state.po_pairs, state.dom_pairs, state.spo_pairs,
              state.mono_violations)
    before = {
        "n_triples": state.ps_counts.read().agg(F.sum("n")).first()[0],
        "mono": state.mono_violations.read().count(),
        "snaps": [len(t.snapshots()) for t in tables],
    }
    split = F.abs(F.xxhash64("s")) % 2 == 0
    apply_delta(state, T.filter(~split), core.ENTRY_CFG, core.ENTRY_VOCAB,
                delta_id="d2")  # retry of the second delta
    assert state.ps_counts.read().agg(F.sum("n")).first()[0] == before["n_triples"]
    assert state.mono_violations.read().count() == before["mono"]
    assert [len(t.snapshots()) for t in tables] == before["snaps"]


def test_second_fold_leaves_state_files_byte_identical(spark, tmp_path):
    """A second fold only appends a level: every ps_counts data file the
    first fold wrote is still there, byte for byte, and the merged read
    stays exact."""
    import glob
    import hashlib
    import os

    T = core._triples(spark, SF).persist()
    state = IncrementalDQAState.open(spark, str(tmp_path / "state"))
    big = T.limit(20000)
    apply_delta(state, big, core.ENTRY_CFG, core.ENTRY_VOCAB, delta_id="d1")

    def file_hashes():
        out = {}
        for f in glob.glob(str(tmp_path / "state" / "ps_counts" / "**" / "*.parquet"),
                           recursive=True):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, tmp_path)] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = file_hashes()
    one = T.filter(F.col("s") == T.select("s").first()["s"])
    apply_delta(state, one, core.ENTRY_CFG, core.ENTRY_VOCAB, delta_id="d2")
    after = file_hashes()
    T.unpersist()

    assert before, "the first fold wrote no ps_counts data file"
    assert {k: after.get(k) for k in before} == before
    assert len(after) > len(before)  # the second fold's level
    assert (state.merged("ps_counts").agg(F.sum("n")).first()[0]
            == big.unionByName(one).count())


# a config that turns on every gated entity-scoped family except the
# language checks, and an rdfs:subClassOf closure for the sh:class joins
CUSTOM_CFG = replace(
    core.ENTRY_CFG, base_uri="urn:order:", uri_regex_pattern="urn:order:1.*",
    uri_space="urn:cust:", check_languages=False)
SUBCLASS = [("urn:c:PreferredCustomer", "urn:c:Customer")]


def _assert_state_report_matches_batch(spark, tmp_path, cfg, subclass_pairs):
    """score_from_state must reproduce the ENTIRE batch report — every
    shape row and the meta rollup, scores, violation counts and violation
    samples — from state alone (no triple scan), and its shape list,
    instantiated from state-derived usage sets, must be the shapes of the
    batch report."""
    from shacl_dqa_prototype_spark.plans.constraints import data_shapes
    from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa
    from shacl_dqa_prototype_spark.plans.incremental import score_from_state

    T = core._triples(spark, SF)
    state = _fold_in_two(spark, tmp_path, T, cfg)
    inc = score_from_state(state, core.ENTRY_VOCAB, cfg,
                           disjoint_pairs=core.ENTRY_DISJOINT,
                           subclass_pairs=subclass_pairs)
    plan = compile_data_constraints(T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT,
                                    cfg, subclass_pairs=subclass_pairs)
    batch_rows = run_data_dqa(T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT, cfg,
                              plan=plan).collect()

    used_props = {r["p"] for r in state.ps_counts.read().collect()}
    used_classes = {r["cls"] for r in state.cls_pairs.read().collect()}
    assert [(sp.metric, sp.item) for sp in data_shapes(
        core.ENTRY_VOCAB, core.ENTRY_DISJOINT, cfg, used_props,
        used_classes)] == [(r[2], r[3]) for r in batch_rows if r[4] != "meta"]

    def _key(t):
        return tuple((x is None, x) for x in t)

    inc_rows = sorted((tuple(r) for r in inc.collect()), key=_key)
    assert inc_rows == sorted((tuple(r) for r in batch_rows), key=_key)
    metrics = {r[2] for r in inc_rows}
    gated = {"UsageExternalURIEntities", "URIRegexComplianceEntities",
             "URISpaceComplianceEntities"}
    langs = {"DifferentLanguagesLabelsEntities",
             "DifferentLanguagesDescriptionsEntities"}
    if cfg is CUSTOM_CFG:
        assert gated <= metrics and not langs & metrics
    else:
        assert langs <= metrics and not gated & metrics
    # the samples are compared, not vacuous
    assert any(r[7] for r in inc_rows if r[4] != "meta")


def test_incremental_scores_match_batch_report(spark, tmp_path):
    _assert_state_report_matches_batch(spark, tmp_path, core.ENTRY_CFG, None)


def test_incremental_scores_match_batch_report_custom_cfg(spark, tmp_path):
    _assert_state_report_matches_batch(spark, tmp_path, CUSTOM_CFG, SUBCLASS)


def test_tiers_partition_the_shapes(spark):
    """Every shape data_shapes instantiates is scored by exactly one tier:
    each metric is emitted by exactly one of row_violations and
    state_violations, except CorrectRange, which the tiers split by
    property (class ranges are retractable, so state), and the row tier
    never emits a class-range CorrectRange row."""
    from shacl_dqa_prototype_spark.plans.constraints import (
        _select_terms,
        data_shapes,
        row_violations,
        state_aggregates,
        state_violations,
        union_branches,
    )
    T = core._triples(spark, SF)
    # a literal object of a class-range property: a row-tier leak of the
    # class ranges (e.g. into the nodeKind check) would emit it
    T = T.unionByName(spark.createDataFrame(
        [("urn:order:1", "urn:p:hasCustomer", "not-an-iri", "literal",
          None, None)], T.schema))
    for cfg, subclass_pairs in ((core.ENTRY_CFG, None),
                                (CUSTOM_CFG, SUBCLASS)):
        used_props, used_classes = profile_graph(
            T, cfg.type_property, cfg.labeling_property,
            cfg.description_property, cfg.interlinking_property).usage_sets()
        terms = _select_terms(core.ENTRY_VOCAB, core.ENTRY_DISJOINT,
                              used_props, used_classes)
        tiers = {
            "row": row_violations(T, terms, cfg),
            "state": state_violations(state_aggregates(T, cfg, terms),
                                      terms, cfg, subclass_pairs),
        }
        emits = {name: set().union(*(ms for _, ms in branches))
                 for name, branches in tiers.items()}
        cls_range = {t.term for t in terms.rng_cls}
        assert cls_range, "the class-range routing must be exercised"
        for sp in data_shapes(core.ENTRY_VOCAB, core.ENTRY_DISJOINT, cfg,
                              used_props, used_classes):
            owners = [name for name, ms in emits.items() if sp.metric in ms]
            if sp.metric == "CorrectRange":
                owners = [name for name in owners
                          if (name == "state") == (sp.item in cls_range)]
            assert len(owners) == 1, (sp, owners)
        assert emits["row"] & emits["state"] == {"CorrectRange"}

        def range_items(tier):
            return {r["item"] for r in union_branches(tiers[tier])
                    .filter(F.col("metric") == "CorrectRange")
                    .select("item").distinct().collect()}

        row_items, state_items = range_items("row"), range_items("state")
        assert row_items and not row_items & cls_range
        assert state_items and state_items <= cls_range


def _cache_entries(spark) -> int:
    """Number of CacheManager entries (the list is private: read it
    reflectively)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_rescoring_caches_nothing(spark, tmp_path, monkeypatch):
    """compile_data_constraints, score_from_state, score_plan and
    run_data_dqa neither cache nor persist anything: no
    DataFrame.cache/persist call while they run, and no persistent RDD or
    CacheManager entry left after them. A fold (apply_delta) persists its
    delta while it runs and leaves nothing behind either."""
    from shacl_dqa_prototype_spark.plans.constraints import ConstraintPlan
    from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa
    from shacl_dqa_prototype_spark.plans.incremental import score_from_state
    from shacl_dqa_prototype_spark.plans.scoring import score_plan

    T = core._triples(spark, SF)
    state = _fold_in_two(spark, tmp_path, T)
    profile = profile_from_state(state)

    entries_before = _cache_entries(spark)
    rdds_before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    calls = []
    # the session's concrete DataFrame class overrides the API base class
    df_class = type(T)
    for name in ("cache", "persist"):
        orig = getattr(df_class, name)

        def spy(self, *a, _orig=orig, _name=name, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(df_class, name, spy)

    batch_plan = compile_data_constraints(
        T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT, core.ENTRY_CFG)
    plan = ConstraintPlan(
        violations=violations_from_state(
            state, core.ENTRY_VOCAB, core.ENTRY_CFG,
            disjoint_pairs=core.ENTRY_DISJOINT),
        vocab_terms=core.ENTRY_VOCAB, disjoint_pairs=core.ENTRY_DISJOINT,
        cfg=core.ENTRY_CFG)
    reports = [
        score_from_state(state, core.ENTRY_VOCAB, core.ENTRY_CFG,
                         disjoint_pairs=core.ENTRY_DISJOINT),
        score_plan(spark, plan, profile),
        score_plan(spark, batch_plan, profile),
        run_data_dqa(T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT,
                     core.ENTRY_CFG),
    ]
    assert all(r.count() > 0 for r in reports)
    assert calls == []
    assert _cache_entries(spark) == entries_before
    assert set(dict(spark.sparkContext._jsc.getPersistentRDDs())) == rdds_before

    delta = spark.createDataFrame(
        [("urn:s:new", "urn:p:hasSupplier", "urn:o:1", "iri", None, None)],
        T.schema)
    apply_delta(state, delta, core.ENTRY_CFG, core.ENTRY_VOCAB,
                delta_id="d3")
    assert calls == ["persist"]
    assert _cache_entries(spark) == entries_before
    assert set(dict(spark.sparkContext._jsc.getPersistentRDDs())) == rdds_before


def test_vacuum_bounds_state_and_preserves_idempotence(spark, tmp_path):
    """vacuum() (r5): compact+expire over all 7 state tables must (a)
    preserve every table's contents exactly, (b) fold each log to one
    snapshot, (c) shrink the on-disk dir chain, and (d) keep apply_delta
    replay-idempotent — the vacuum carries the applied delta_ids forward
    in the compaction record, so a replayed old delta is still a no-op."""
    import os

    T = core._triples(spark, SF)
    state = _fold_in_two(spark, tmp_path, T)

    def dir_count(root):
        return sum(len(fs) for _, _, fs in os.walk(root))

    rows_before = {n: t.read().count() for n, t in state.tables().items()}
    n_before = state.ps_counts.read().agg(F.sum("n")).first()[0]
    files_before = dir_count(str(tmp_path / "state"))

    deleted = state.vacuum(orphan_grace_s=0.0)
    assert any(v > 0 for v in deleted.values())

    assert {n: t.read().count()
            for n, t in state.tables().items()} == rows_before
    # ≤1: a family whose folds were all empty never committed (dom_pairs
    # on this vocab) and stays at zero snapshots
    assert all(len(t.snapshots()) <= 1 for t in state.tables().values())
    assert dir_count(str(tmp_path / "state")) < files_before
    tip = state.ps_counts.current()
    assert set(tip["applied_delta_ids"]) == {"d1", "d2"}

    # replaying a pre-vacuum delta is STILL a no-op
    split = F.abs(F.xxhash64("s")) % 2 == 0
    apply_delta(state, T.filter(split), core.ENTRY_CFG, core.ENTRY_VOCAB,
                delta_id="d1")
    assert state.ps_counts.read().agg(F.sum("n")).first()[0] == n_before
    assert all(len(t.snapshots()) <= 1 for t in state.tables().values())

    # and a genuinely NEW delta still applies after the vacuum
    apply_delta(state, T.filter(split).limit(0), core.ENTRY_CFG,
                core.ENTRY_VOCAB, delta_id="d3")
    assert state.ps_counts.read().agg(F.sum("n")).first()[0] == n_before

    # a tiny first delta, then larger ones — the first epochs of a
    # stream: the vacuum must still leave fewer files than it found
    small = IncrementalDQAState.open(spark, str(tmp_path / "small"))
    first = F.col("s") == T.select("s").first()["s"]
    slot = F.abs(F.xxhash64("s")) % 3
    deltas = [T.filter(first)] + [T.filter(~first & (slot == i))
                                  for i in range(3)]
    for i, delta in enumerate(deltas):
        apply_delta(small, delta, core.ENTRY_CFG, core.ENTRY_VOCAB,
                    delta_id=f"s{i}")
    n_small = small.ps_counts.read().agg(F.sum("n")).first()[0]
    files_before = dir_count(str(tmp_path / "small"))
    small.vacuum(orphan_grace_s=0.0)
    assert dir_count(str(tmp_path / "small")) < files_before
    assert small.ps_counts.read().agg(F.sum("n")).first()[0] == n_small
    # the row-tier log has no merge rule: its compaction is sized by
    # bytes, so four small levels come out as one part file
    (log_dir,) = small.mono_violations.current()["dirs"]
    parts = [f for f in os.listdir(os.path.join(
        small.mono_violations.data_dir, log_dir)) if f.startswith("part-")]
    assert len(parts) == 1, parts
    # the log line is the commit point: no commit dir carries _SUCCESS
    markers = [os.path.join(root, f)
               for root, _, fs in os.walk(str(tmp_path / "small"))
               for f in fs if "_SUCCESS" in f]
    assert not markers, markers


def test_apply_delta_dedups_within_delta(spark, tmp_path):
    """A duplicate triple WITHIN one delta must not inflate the
    sum-merged ps_counts — batch reads dropDuplicates() the triple table,
    and a duplicated functional-property assertion produced a false
    FunctionalProperty violation (review finding)."""
    from shacl_dqa_prototype_spark.plans.constraints import (
        DQAConfig,
        VocabTerm,
    )
    from shacl_dqa_prototype_spark.plans.incremental import (
        IncrementalDQAState,
        apply_delta,
        profile_from_state,
        violations_from_state,
    )

    cfg = DQAConfig(base_uri="urn:x:", type_property="rdf:type")
    terms = [VocabTerm("urn:p:fp", "object_property", functional=True)]
    state = IncrementalDQAState.open(spark, str(tmp_path / "st"))
    row = ("urn:x:s1", "urn:p:fp", "urn:x:o1", "iri", None, None)
    delta = spark.createDataFrame(
        [row, row],  # same triple asserted twice in one delta
        "s string, p string, o string, o_kind string, "
        "o_dtype string, o_lang string")
    apply_delta(state, delta, cfg, terms, delta_id="d1")
    prof = profile_from_state(state)
    assert prof.num_triples == 1
    v = violations_from_state(state, terms, cfg)
    assert v.filter(v.metric.contains("Functional")).count() == 0


# ---------------------------------------------------------------------------
# Randomized parity: for ARBITRARY small triple sets and ARBITRARY splits
# into 1-3 deltas, the incremental state must reproduce the batch
# compiler's violations exactly. The fixed-corpus tests above pin the real
# entry fixture; this one walks the semantic corners hypothesis finds
# (mutual follows pairs, re-typed subjects across deltas, exempt types
# landing in a later delta than the violation they retract, ill-formed
# date literals, bnodes) that a hand-written fixture may miss.
# ---------------------------------------------------------------------------

_h_subj = st.sampled_from(
    [f"urn:s:{i}" for i in range(4)] + ["_:b0", "urn:e#h1"])
_h_ent = st.sampled_from(
    [f"urn:s:{i}" for i in range(4)] + ["urn:o:1", "urn:o:2"])
_h_cls = st.sampled_from([
    "urn:c:Customer", "urn:c:Supplier", "urn:c:PreferredCustomer",
    "urn:c:Order", "urn:c:Unknown",
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement",   # prolix
    "http://www.w3.org/2002/07/owl#NamedIndividual",          # exempt
])
_h_oprop = st.sampled_from([
    "urn:p:hasCustomer",    # class range → retractable anti-join tier
    "urn:p:hasSupplier",    # functional
    "urn:p:inNation",       # inverse-functional
    "urn:p:follows",        # asymmetric
    "urn:p:refs",           # irreflexive (monotone tier)
    "urn:p:partOf",
    core.ENTRY_CFG.interlinking_property,
])
_h_row = st.one_of(
    st.tuples(_h_subj, st.just(core.ENTRY_CFG.type_property), _h_cls,
              st.just("iri"), st.none(), st.none()),
    st.tuples(_h_subj, _h_oprop, _h_ent,
              st.just("iri"), st.none(), st.none()),
    st.tuples(_h_subj, st.just(core.ENTRY_CFG.labeling_property),
              st.sampled_from(["A", "B"]), st.just("literal"),
              st.none(), st.sampled_from([None, "en"])),
    st.tuples(_h_subj, st.just(core.ENTRY_CFG.description_property),
              st.sampled_from(["d1", "d2"]), st.just("literal"),
              st.none(), st.sampled_from([None, "en"])),
    st.tuples(_h_subj, st.just("urn:p:orderedOn"),
              st.sampled_from(["2024-01-02", "not-a-date", "2024-1-2"]),
              st.just("literal"),
              st.just("http://www.w3.org/2001/XMLSchema#date"), st.none()),
)


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_incremental_matches_batch_on_random_splits(spark, data):
    import shutil
    import tempfile

    rows = sorted({r for r in data.draw(
        st.lists(_h_row, min_size=1, max_size=22))},
        key=lambda r: tuple(x or "" for x in r))
    k = data.draw(st.integers(min_value=1, max_value=3))
    assign = data.draw(st.lists(
        st.integers(min_value=0, max_value=k - 1),
        min_size=len(rows), max_size=len(rows)))

    T = spark.createDataFrame(
        rows, "s string, p string, o string, o_kind string, "
              "o_dtype string, o_lang string")
    batch_plan = compile_data_constraints(
        T, core.ENTRY_VOCAB, core.ENTRY_DISJOINT, core.ENTRY_CFG)

    def _vset(df):
        return {(r["metric"], r["item"], r["focus"]) for r in
                df.filter(F.col("metric").isin(DERIVABLE))
                .select("metric", "item", "focus").distinct().collect()}

    state_dir = tempfile.mkdtemp(prefix="incr_prop_")
    try:
        state = IncrementalDQAState.open(spark, state_dir)
        for d in range(k):
            delta_rows = [r for r, a in zip(rows, assign) if a == d]
            delta = spark.createDataFrame(delta_rows or [], T.schema)
            apply_delta(state, delta, core.ENTRY_CFG, core.ENTRY_VOCAB,
                        delta_id=f"d{d}")
        inc_v = violations_from_state(
            state, core.ENTRY_VOCAB, core.ENTRY_CFG,
            disjoint_pairs=core.ENTRY_DISJOINT)
        assert _vset(inc_v) == _vset(batch_plan.violations), (rows, assign)
        assert profile_from_state(state).num_triples == len(rows), (
            rows, assign)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
