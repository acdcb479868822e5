"""End-to-end construction tests: extraction P/R, linking, CC, invariant,
manifest resume (SURVEY.md §5.2 items 1, 4, 6)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from shacl_dqa_prototype_spark.datagen import (
    GenConfig,
    P_DEPICTED_IN,
    P_SAME_AS,
    RDF_LANGSTRING,
    XSD_DATE,
    dup_iri,
    entity_dictionary,
    entity_iri,
    expected_triples,
    generate_documents,
)
from shacl_dqa_prototype_spark.operators.extract import (
    EXTRACTION_PATTERNS,
    explode_spans,
    extract_fact_mentions,
    extract_mentions,
)
from shacl_dqa_prototype_spark.operators.invariant import invariant_violations
from shacl_dqa_prototype_spark.operators.connected_components import connected_components
from shacl_dqa_prototype_spark.operators.link import link_mentions
from shacl_dqa_prototype_spark.plans import construction
from shacl_dqa_prototype_spark.plans.construction import run_construction
from shacl_dqa_prototype_spark.schemas import DOCUMENTS_SCHEMA
from shacl_dqa_prototype_spark.sources.sinks import Manifest, read_triples

CFG = GenConfig(n_docs=300, n_entities=60, seed=42)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, CFG).cache()


@pytest.fixture(scope="module")
def dictionary(spark):
    return entity_dictionary(spark, CFG)


def test_documents_shape(docs):
    assert docs.count() == CFG.n_docs
    row = docs.filter(F.col("doc_id") == "doc_000000000").first()
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)
    kinds = {s["kind"] for s in row["spans"]}
    assert "text" in kinds


def test_span_invariant(docs):
    bad = invariant_violations(docs, explode_spans(docs))
    assert bad.count() == 0


def test_extraction_precision_recall(spark, docs, dictionary, tmp_path):
    res = run_construction(spark, docs, dictionary, str(tmp_path / "wd"))
    got = spark.read.parquet(Manifest(str(tmp_path / "wd")).committed("link"))

    truth = expected_triples(spark, CFG).drop("doc_id").distinct()
    got_spo = got.select("s", "p", "o").distinct()
    truth_spo = truth.select("s", "p", "o").distinct()

    tp = got_spo.join(truth_spo, ["s", "p", "o"], "semi").count()
    n_got = got_spo.count()
    n_truth = truth_spo.count()
    precision = tp / n_got
    recall = tp / n_truth
    assert precision >= 0.95, f"precision {precision} ({tp}/{n_got})"
    assert recall >= 0.95, f"recall {recall} ({tp}/{n_truth})"


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("x", "x2"), ("x2", "x3"), ("x3", "x4")],
        ["src", "dst"],
    )
    expected = {"b": "a", "c": "a", "e": "d", "x2": "x", "x3": "x", "x4": "x"}
    # small-graph driver union-find path and distributed large-star/
    # small-star fixpoint (forced via driver_threshold=0) must agree
    for thresh in (2_000_000, 0):
        m = {r["node"]: r["component"]
             for r in connected_components(edges, driver_threshold=thresh).collect()}
        assert m == expected, f"threshold={thresh}: {m}"


def test_canonicalization_merges_dups(spark, docs, dictionary, tmp_path):
    res = run_construction(spark, docs, dictionary, str(tmp_path / "wd2"))
    triples = spark.read.parquet(res.triples_path)
    # All sameAs-linked dup/entity pairs collapsed: no subject may remain in
    # the entity/ namespace if its dup twin existed (dup sorts first).
    linked = spark.read.parquet(Manifest(str(tmp_path / "wd2")).committed("link"))
    merged = (
        linked.filter(F.col("p") == P_SAME_AS)
        .select(F.col("o").alias("ent"))
        .distinct()
        .collect()
    )
    merged_set = {r["ent"] for r in merged}
    remaining = {r["s"] for r in triples.select("s").distinct().collect()}
    for ent in merged_set:
        assert ent not in remaining, f"{ent} should have merged into its dup IRI"
    # sameAs edges themselves are dropped from the materialized KG
    assert triples.filter(F.col("p") == P_SAME_AS).count() == 0


def test_resume_skips_committed_stages(spark, docs, dictionary, tmp_path):
    wd = str(tmp_path / "wd3")
    with pytest.raises(InterruptedError):
        run_construction(spark, docs, dictionary, wd, stop_after="link")
    res = run_construction(spark, docs, dictionary, wd)
    assert "extract" in res.stages_resumed and "link" in res.stages_resumed
    assert "canonicalize" in res.stages_run and "materialize" in res.stages_run
    assert spark.read.parquet(res.triples_path).count() > 0


STAGE_DIRS = {"extract": "mentions.parquet", "link": "linked_triples.parquet",
              "canonicalize": "cc_mapping.parquet",
              "materialize": "triples.parquet"}


def _spo(spark, path) -> set[tuple]:
    return {tuple(r) for r in
            read_triples(spark, path).select("s", "p", "o").collect()}


def _lost_executor(col):
    """A column whose tasks raise — a task failure standing in for a
    lost executor."""
    def boom(v):  # nested, so the workers unpickle it by value
        raise RuntimeError("simulated executor loss")

    return F.udf(boom, StringType())(col)


def _crash_after_bucket_shuffle(monkeypatch, spark):
    """Make the materialize write's tasks raise AFTER the bucket shuffle:
    the column is computed by a raising UDF on the output of
    write_triples' ``repartition("s_bucket")``, i.e. in the write tasks."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    repartition = cls.repartition

    def crashing(self, *cols, **kw):
        out = repartition(self, *cols, **kw)
        if tuple(map(str, cols)) == ("s_bucket",):
            out = out.withColumn("o", _lost_executor("o"))
        return out

    monkeypatch.setattr(cls, "repartition", crashing)


def _crash_in_link_write(monkeypatch, spark):
    """Make the link write's tasks raise: the raising UDF sits on the
    stage's output, downstream of link's doc_id exchange."""
    to_triples = construction.mentions_to_triples
    monkeypatch.setattr(
        construction, "mentions_to_triples",
        lambda df: to_triples(df).withColumn("o", _lost_executor("o")))


@pytest.fixture(scope="module")
def uncrashed_kg(spark, docs, dictionary, tmp_path_factory):
    res = run_construction(spark, docs, dictionary,
                           str(tmp_path_factory.mktemp("uncrashed")))
    return _spo(spark, res.triples_path)


def test_crashed_rerun_resumes_to_the_committed_kg(spark, docs, dictionary,
                                                    tmp_path, monkeypatch):
    """Run 1 commits the KG; run 2 (resume=False, what `construct
    --no-resume` passes) dies inside materialize's write job after the
    bucket shuffle; run 3 is a plain resume. Every stage is committed
    (run 2's extract/link/canonicalize, run 1's materialize), so run 3
    resumes all four and must read run 1's triples — never the empty dir
    an in-place overwrite leaves behind."""
    wd = str(tmp_path / "wd")
    first = run_construction(spark, docs, dictionary, wd)
    kg = _spo(spark, first.triples_path)
    assert kg
    with monkeypatch.context() as m:
        _crash_after_bucket_shuffle(m, spark)
        with pytest.raises(Exception, match="simulated executor loss"):
            run_construction(spark, docs, dictionary, wd, resume=False)
    res = run_construction(spark, docs, dictionary, wd)
    assert res.stages_resumed == list(STAGE_DIRS)
    assert _spo(spark, res.triples_path) == kg
    # the crashed write's dir is removed once the stage resumes its commit
    assert os.listdir(os.path.join(wd, "triples.parquet")) == [
        os.path.basename(res.triples_path)]


@pytest.mark.parametrize("stage,crash", [
    ("link", _crash_in_link_write),
    ("materialize", _crash_after_bucket_shuffle),
])
def test_kill_during_stage_write_resumes_cleanly(
        spark, docs, dictionary, uncrashed_kg, tmp_path, monkeypatch,
        stage, crash):
    """A run killed inside a stage's write job leaves only a dir no
    manifest line names; a plain resume recomputes that stage, returns
    the uncrashed run's triples and removes the crashed run's dir."""
    wd = str(tmp_path / "wd")
    root = os.path.join(wd, STAGE_DIRS[stage])
    with monkeypatch.context() as m:
        crash(m, spark)
        with pytest.raises(Exception, match="simulated executor loss"):
            run_construction(spark, docs, dictionary, wd)
    partial = os.listdir(root)
    assert len(partial) == 1  # the crashed write's uncommitted dir
    res = run_construction(spark, docs, dictionary, wd)
    before = list(STAGE_DIRS)[:list(STAGE_DIRS).index(stage)]
    assert res.stages_resumed == before
    assert _spo(spark, res.triples_path) == uncrashed_kg
    committed = os.listdir(root)
    assert len(committed) == 1 and committed != partial


def test_resume_recomputes_a_fixed_path_commit(spark, docs, dictionary,
                                               uncrashed_kg, tmp_path):
    """A manifest line naming the stage path itself — the fixed-path
    layout of older workdirs — is recomputed, never resumed: the stage's
    clean-up would otherwise empty the dir it reads."""
    wd = str(tmp_path / "wd")
    run_construction(spark, docs, dictionary, wd)
    Manifest(wd).commit("materialize", rows=0, partitions=0, payload={
        "path": os.path.join(wd, "triples.parquet")})
    res = run_construction(spark, docs, dictionary, wd)
    assert res.stages_run == ["materialize"]
    assert _spo(spark, res.triples_path) == uncrashed_kg


def test_workdir_reads_as_the_benchmark_reads_it(spark, docs, dictionary,
                                                 tmp_path):
    """The construct benchmark checks a workdir with pyarrow alone: the
    linked triples as a dataset over the stage path, the KG as a hive
    dataset over ``triples_path`` and manifest.jsonl as stage → rows. No
    commit dir carries a _SUCCESS marker — the manifest line is the
    commit point."""
    import pyarrow.dataset as ds

    wd = str(tmp_path / "wd")
    res = run_construction(spark, docs, dictionary, wd)
    linked = ds.dataset(os.path.join(wd, "linked_triples.parquet"))
    got = set(linked.to_table(columns=["s", "p", "o"]).to_pandas()
              .itertuples(index=False, name=None))
    assert got == {tuple(r) for r in spark.read.parquet(
        Manifest(wd).committed("link")).select("s", "p", "o").collect()}
    n = ds.dataset(res.triples_path, partitioning="hive").count_rows()
    assert n == read_triples(spark, res.triples_path).count() > 0
    # the stage path itself still reads as the KG
    assert read_triples(spark, os.path.join(wd, "triples.parquet")).count() == n
    with open(os.path.join(wd, "manifest.jsonl")) as f:
        rows = {r["stage"]: r["rows"] for r in map(json.loads, f)}
    assert set(rows) == set(STAGE_DIRS)
    assert rows["link"] == linked.count_rows()
    assert rows["materialize"] == n
    assert not [f for _, _, files in os.walk(wd) for f in files
                if "_SUCCESS" in f]


def test_cli_construct_then_dqa_on_the_stage_path(spark, docs, dictionary,
                                                 tmp_path):
    """`main.py construct` then `main.py dqa --triples
    <workdir>/triples.parquet` assesses the committed KG: its report is
    row-equal to a run on the committed dir itself."""
    import argparse
    import csv
    import io
    from contextlib import redirect_stdout

    from main import cmd_construct, cmd_dqa

    docs_path, dict_path = str(tmp_path / "docs"), str(tmp_path / "dict")
    docs.write.parquet(docs_path)
    dictionary.write.parquet(dict_path)
    wd = str(tmp_path / "wd")
    common = dict(master=None, shuffle_partitions=None)
    buf = io.StringIO()
    with redirect_stdout(buf):
        cmd_construct(argparse.Namespace(
            cmd="construct", docs=docs_path, dictionary=dict_path,
            workdir=wd, buckets=32, no_resume=False, **common))
    committed = json.loads(buf.getvalue().strip().splitlines()[-1])[
        "triples_path"]

    def report(triples, out):
        cmd_dqa(argparse.Namespace(
            cmd="dqa", config=None, triples=triples, triples_format=None,
            vocab=[], vocab_names=[], vocab_formats=[], metadata=None,
            metadata_format=None, metadata_class=None, output=out,
            dataset_name="kg", base_uri=None, type_property="rdf:type",
            labeling_property=None, description_property=None,
            interlinking_property=None, uris_max_length=None, **common))
        with open(os.path.join(out, "dq_assessment_kg.csv")) as f:
            return sorted(tuple(r.values()) for r in csv.DictReader(f))

    via_stage_path = report(os.path.join(wd, "triples.parquet"),
                            str(tmp_path / "a"))
    assert via_stage_path == report(committed, str(tmp_path / "b"))
    assert len(via_stage_path) > 5


def test_invariant_empty_spans_doc_passes(spark):
    """A doc with spans=[] vanishes from the exploded side (posexplode
    emits nothing) — the full-join NULL used to read as a violation even
    though no span was lost (review finding)."""
    from shacl_dqa_prototype_spark.operators.extract import explode_spans
    from shacl_dqa_prototype_spark.operators.invariant import (
        invariant_violations,
    )
    from shacl_dqa_prototype_spark.schemas import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [("d_empty", []),
         ("d_one", [("text", "hello", None, 0)])], DOCUMENTS_SCHEMA)
    v = invariant_violations(docs, explode_spans(docs))
    assert v.count() == 0


# Each doc is one extraction edge case; spans are (kind, text, media_ref,
# offset) with span_pos = list position.
EDGE_DOCS = [
    ("media_first", [("image", None, "img://1", 0),
                     ("text", "Alice is topped with Bob.", None, 1),
                     ("text", "Alice was created on 2020-01-02.", None, 2)]),
    ("media_no_fact", [("text", "Nothing to see here.", None, 0),
                       ("video", None, "vid://2", 1)]),
    ("empty", []),
    ("null_text", [("text", None, None, 0),
                   ("text", "Carol is located in Paris.", None, 1),
                   ("audio", None, "aud://3", 2),
                   ("image", None, None, 3)]),
    ("no_match", [("text", "Dave is topped with Eve", None, 0),
                  ("text", "Just a sentence.", None, 1),
                  ("image", None, "img://4", 2)]),
    ("all_kinds", [("text", 'Frank is labeled "Le Frank"@fr.', None, 0),
                   ("text", "Gus is the same as Frank.", None, 1),
                   ("text", "Hal was created on 1999-12-31.", None, 2),
                   ("text", "Ivy is located in Rome.\n", None, 3),
                   ("video", None, "vid://5", 4)]),
    # one span matching two patterns: the first subject is the one of the
    # lower pattern ordinal (topped, 0), not of located (1)
    ("two_facts_one_span", [("text", "Jo is located in Oslo is topped with Kim.",
                             None, 0),
                            ("image", None, "img://6", 1)]),
]


def _reference_mentions(docs, with_media: bool) -> set[tuple]:
    """Pure-Python E2: every pattern's regex on every text span, then each
    media span attached to its doc's first fact subject."""
    out = set()
    for doc_id, spans in docs:
        facts = []
        for pos, (kind, text, _, _) in enumerate(spans):
            if kind != "text" or text is None:
                continue
            for k, (pred, rx, role, dtype, _) in enumerate(EXTRACTION_PATTERNS):
                m = re.search(rx, text)
                if not m:
                    continue
                g = m.groupdict()
                entity = role == "entity"
                facts.append((doc_id, pos, k, g["subj"], pred,
                              g["obj"] if entity else None,
                              None if entity else g["obj"],
                              dtype, g.get("lang")))
        out.update(facts)
        if with_media and facts:
            first = min(facts, key=lambda f: (f[1], f[2]))[3]
            out.update((doc_id, pos, 0, first, P_DEPICTED_IN, None, ref, None, None)
                       for pos, (kind, _, ref, _) in enumerate(spans)
                       if kind != "text")
    return out


def test_extraction_kernel_matches_python_reference(spark):
    """extract_mentions / extract_fact_mentions equal the pure-Python
    reference on the edge-case docs, with two docs per Arrow batch so the
    docs spread over many batches, and every span_pos is the position
    explode_spans gives that span."""
    docs = spark.createDataFrame(EDGE_DOCS, DOCUMENTS_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = {f: {tuple(r) for r in f(docs).collect()}
               for f in (extract_mentions, extract_fact_mentions)}
        spans = {(r["doc_id"], r["span_pos"]): r
                 for r in explode_spans(docs).collect()}
    finally:
        spark.conf.set(key, old)
    want = _reference_mentions(EDGE_DOCS, with_media=True)
    assert got[extract_mentions] == want
    assert got[extract_fact_mentions] == _reference_mentions(EDGE_DOCS, False)
    # the edge cases are all exercised
    assert {m[0] for m in want if m[4] == P_DEPICTED_IN} == {
        "media_first", "null_text", "all_kinds", "two_facts_one_span"}
    assert {m[7] for m in want} == {None, XSD_DATE, RDF_LANGSTRING}
    for doc_id, pos, _, subj, pred, _, lit, _, _ in want:
        span = spans[(doc_id, pos)]
        if pred == P_DEPICTED_IN:
            assert span["kind"] != "text" and span["media_ref"] == lit
        else:
            assert span["kind"] == "text" and span["text"].startswith(subj)


def test_extraction_prefilter_literal_is_in_its_regex():
    """Each pattern's prefilter literal is a plain string that occurs
    verbatim in its alternation-free regex, so every match contains it and
    the prefilter cannot drop a match."""
    for pred, rx, _, _, literal in EXTRACTION_PATTERNS:
        assert literal and not set(literal) & set(r".^$*+?{}[]\|()"), pred
        assert literal in rx and "|" not in rx, pred
    for _, spans in EDGE_DOCS:
        for _, text, _, _ in spans:
            for _, rx, _, _, literal in EXTRACTION_PATTERNS:
                if text is not None and re.search(rx, text):
                    assert literal in text


def _plan_nodes(plan, skip: str | None = None) -> list:
    """Every node of a physical plan, without the subtrees under ``skip``
    nodes (by class name)."""
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == skip:
            continue
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_extraction_plan_is_one_narrow_map(spark):
    """extract_mentions is one mapInArrow over the documents: its executed
    plan has no Exchange, Aggregate or Join."""
    m = extract_mentions(spark.createDataFrame(EDGE_DOCS, DOCUMENTS_SCHEMA))
    m.collect()
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    for op in ("Exchange", "Aggregate", "Join"):
        assert op not in plan, plan


def test_link_main_path_has_one_exchange(spark):
    """link_mentions shuffles the mention stream once (by doc_id), and the
    popularity aggregate joins after that shuffle, not before it: off the
    broadcast sides there is one ShuffleExchange, and nothing below it
    aggregates."""
    mentions = extract_mentions(spark.createDataFrame(EDGE_DOCS, DOCUMENTS_SCHEMA))
    dictionary = spark.createDataFrame(
        [("Alice", "ex:alice", 0.9), ("Alice", "ex:alice2", 0.1),
         ("Paris", "ex:paris", 1.0)], "surface string, candidate string, prior double")
    plan = link_mentions(mentions, dictionary)._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    main = _plan_nodes(plan, skip="BroadcastExchangeExec")
    shuffles = [n for n in main if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert len(shuffles) == 1, plan.toString()
    below = {n.getClass().getSimpleName() for n in _plan_nodes(shuffles[0])}
    assert not any("Aggregate" in n for n in below), plan.toString()
