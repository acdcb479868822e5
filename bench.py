"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "query_min": {...}, "sf": ..., "construction": {...}, ...}

The default run reports the headline suite (setup + per-query medians,
with each query's raw samples and min), KG-construction throughput
(triples/sec) on a synthesized interleaved corpus, and the long-doc
fingerprint kernel micro-benchmark. Each flag adds one block:

  --dqa-throughput  the assessment half alone over a large constructed
                    KG (the number comparable to the reference's ≈3 h
                    drugbank run)
  --streaming       streaming-DQA drain rate (triple file stream folded
                    into incremental state per microbatch) + vacuum
  --novelty-stream  novelty-at-ingest drain rate (id-ordered epoch files
                    scored against the accumulated n-gram index, result
                    asserted equal to batch ngram_novelty)
  --curate          corpus-curation throughput (gate → source filter →
                    LSH keep-best dedup → redact)
  --incremental     incremental-DQA cost curve (seconds per fixed-size
                    delta as the state grows — the O(delta) fold
                    evidence)
  --weak-scaling    4× docs on 4× parallelism, end to end
  --ann-recall      recall@10 and scan fraction of the two ANN operators
  --skew            skew mitigation (AQE skew joins) measured
  --scaling         N→4N strong scaling of the end-to-end job, same input
                    (BASELINE.json north_rule; see BASELINE.md)

Both scaling modes run the construct + DQA job at local[2] and local[8],
interleaved hi, lo, hi, lo in this one JVM, best run per level
(_sample_levels).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from shacl_dqa_prototype_spark.datagen import (
    GenConfig,
    entity_dictionary,
    generate_documents,
)
from shacl_dqa_prototype_spark.plans.construction import run_construction
from shacl_dqa_prototype_spark.session import get_spark
from shacl_dqa_prototype_spark.sources.sinks import read_triples

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline suite: one per operator family (profiling, constraints, scoring,
# dedup, similarity, text, analytics). Trimmed to queries whose runtime is
# dominated by engine work, not fixture setup.
HEADLINE = [
    "profile_scalars",
    "shape_functional_property",
    "shape_label_for_entities",
    "shape_asymmetric",
    "shape_malformed_literal",
    "dqa_scores",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_dup_ngram_fraction",
    "text_quality",
    "text_quality_gate",
    "text_fingerprint",
    "pipe_pack_sequences",
    "sim_topk_cosine",
    "tpch_q1_pricing",
    "top_customer_per_nation",
    "events_sessionize",
    # round-4 operator families
    "text_bm25",
    "pipe_chunk_documents",
    "events_interval_join",
    # round-5 operator families
    "dedup_ngram_novelty",
    "text_unigram_logprob",
    "events_asof_nearest",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "text_tfidf_top_terms",
    "text_cooccurrence_pmi",
    "sim_centroid_cosine",
]


def _bench_overrides():
    """The contract entries for MinHash/SimHash use the portable md5 hash
    so DuckDB can oracle them; the bench measures the default xxhash64
    fast path (the 100 TB configuration)."""
    from shacl_dqa_prototype_spark.operators import dedup

    return {
        "dedup_minhash_lsh": lambda s, d: dedup.minhash_lsh_candidates(
            entrymod._docs(s, d), n=5),
    }


def _run_queries(
    spark, passes: int = 3,
) -> tuple[dict[str, float], dict[str, list[float]], float]:
    """Returns (per-query MEDIAN seconds, per-query raw samples, setup
    seconds). Setup = writing the predicate-partitioned triple store +
    materializing the compiled violations cache — one-time costs that
    would otherwise be charged to whichever query happens to run first,
    making per-query numbers unattributable.

    The suite runs ``passes`` interleaved full passes (q1..qN, q1..qN,
    …) and reports the per-query MEDIAN: on a shared host a single-shot
    run inherits whatever load spike coincides with it (the r4 driver
    run read ~20% over the builder's quiet-window log on byte-identical
    code), and interleaving means a transient spike hits one pass of
    many queries instead of one query's only sample. Raw samples ride
    along so the spread is visible in the JSON."""
    qs = entrymod.queries()
    qs.update(_bench_overrides())
    t0 = time.time()
    entrymod._triples(spark, SF_DIR).count()
    entrymod._plan(spark, SF_DIR).violations.count()
    setup = round(time.time() - t0, 3)
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for _ in range(passes):
        for name in HEADLINE:
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
    med = {n: round(sorted(v)[len(v) // 2], 3) for n, v in samples.items()}
    return med, samples, setup


def _fingerprint_micro() -> dict[str, float]:
    """Long-doc corpus micro-benchmark of the vectorized fingerprint
    kernel vs the scalar rolling-hash reference it replaced (identical
    outputs, asserted in tests/test_ops.py). No Spark involved — this
    measures per-core kernel throughput."""
    import random

    import pandas as pd

    from shacl_dqa_prototype_spark.operators.textstats import (
        _fingerprint_batch,
    )
    from tests.test_ops import _rolling_fp_reference

    random.seed(3)
    alphabet = "abcdefgh ijklm NOP.,?"
    docs = ["".join(random.choice(alphabet) for _ in range(20000))
            for _ in range(100)]
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    mb = sum(len(d) for d in docs) / 1e6
    _fingerprint_batch(pdf, "text", 16)  # warm
    new = min(_timed(lambda: _fingerprint_batch(pdf, "text", 16))
              for _ in range(3))
    old = min(_timed(lambda: [_rolling_fp_reference(d, 16) for d in docs])
              for _ in range(2))
    return {
        "corpus_mb": round(mb, 1),
        "vectorized_sec": round(new, 3),
        "python_rolling_sec": round(old, 3),
        "mbps": round(mb / new, 1),
        "speedup": round(old / new, 1),
    }


def _timed(f) -> float:
    t0 = time.time()
    f()
    return time.time() - t0


@contextmanager
def _session(tag: str, *dirs: str, cores: int = CPUS,
             extra_conf: dict | None = None):
    """Every bench session's lifecycle: stop whatever session is active
    (get_spark would hand it back instead of a fresh one), start
    ``bench-<tag>`` on local[cores] with the engine defaults, and on
    every way out, normal or raised, stop it and remove ``dirs``."""
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = get_spark(f"bench-{tag}", cores=cores, extra_conf=extra_conf)
        try:
            yield spark
        finally:
            spark.stop()
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


@contextmanager
def _corpus(n_docs: int, flat: bool = False):
    """Write the synthetic corpus to disk ONCE, in its own session, and
    yield (documents parquet path, GenConfig): the measured job reads the
    materialized table (generation is fixture prep, not the job). With
    ``flat`` the interleaved docs are flattened to (doc_id, text, source):
    their text spans with a deterministic source domain. The corpus is
    removed on exit."""
    from pyspark.sql import functions as F

    cfg = GenConfig(n_docs=n_docs, n_entities=max(100, n_docs // 20))
    with tempfile.TemporaryDirectory(prefix="bench_corpus_",
                                     ignore_cleanup_errors=True) as d:
        path = os.path.join(d, "documents.parquet")
        with _session("gen") as spark:
            docs = generate_documents(spark, cfg, partitions=max(16, CPUS * 2))
            if flat:
                docs = docs.select(
                    "doc_id",
                    F.concat_ws(" ", F.transform(
                        F.filter("spans", lambda s: s["kind"] == "text"),
                        lambda s: s["text"])).alias("text"),
                    F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"),
                                                  F.lit(64))
                             .cast("string")).alias("source"))
            docs.write.mode("overwrite").parquet(path)
        yield path, cfg


@contextmanager
def _kg(tag: str, corpus: tuple[str, GenConfig], cores: int = CPUS):
    """A fresh session holding the KG constructed from ``corpus`` (as
    _corpus yields it) in a temp workdir: yields (spark, workdir, the
    committed triples dir, n_triples, construction seconds, per-stage
    seconds). The triple count is outside the timer; the workdir goes
    with the session."""
    docs_path, cfg = corpus
    wd = tempfile.mkdtemp(prefix=f"bench_{tag}_")
    with _session(f"{tag}-{cores}", wd, cores=cores) as spark:
        docs = spark.read.parquet(docs_path)
        dictionary = entity_dictionary(spark, cfg)
        t0 = time.time()
        # fixed bucket count so different-parallelism runs do identical work
        res = run_construction(spark, docs, dictionary, wd, n_buckets=32)
        sec = time.time() - t0
        n_triples = read_triples(spark, res.triples_path).count()
        yield spark, wd, res.triples_path, n_triples, sec, res.stage_seconds


def _datagen_vocab_cfg():
    """Vocab + DQA config matching the synthesized datagen corpus —
    shared by the batch DQA timing and the streaming-DQA drain."""
    from shacl_dqa_prototype_spark.datagen import (
        EX,
        P_CREATED_ON,
        P_DEPICTED_IN,
        P_LABEL,
        P_LOCATED_IN,
        P_TOPPING,
        XSD_DATE,
    )
    from shacl_dqa_prototype_spark.plans.constraints import DQAConfig, VocabTerm

    vocab = [
        VocabTerm(P_TOPPING, "object_property"),
        VocabTerm(P_LOCATED_IN, "object_property"),
        VocabTerm(P_CREATED_ON, "datatype_property", range=XSD_DATE,
                  range_kind="literal", functional=True),
        VocabTerm(P_DEPICTED_IN, "object_property"),
    ]
    dqa_cfg = DQAConfig(
        type_property="rdf:type", labeling_property=P_LABEL,
        interlinking_property="http://www.w3.org/2002/07/owl#sameAs",
        base_uri=EX)
    return vocab, dqa_cfg


def _run_dqa(spark, triples_path: str, report_path: str) -> None:
    """The DQA half alone: profile + compiled constraint evaluation +
    scoring + report write over an existing triple table."""
    from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa

    T = read_triples(spark, triples_path)
    vocab, dqa_cfg = _datagen_vocab_cfg()
    run_data_dqa(T, vocab, [], dqa_cfg).write.mode("overwrite").parquet(
        report_path)


def _construction_run(cores: int, corpus: tuple[str, GenConfig],
                      with_dqa: bool = False) -> dict:
    """Construction job (read corpus → extract → link → CC → materialize)
    on local[cores] in a fresh session; with_dqa=True appends the full DQA
    half (profile → compiled constraints → scoring → report write), i.e.
    the BASELINE.json end-to-end job. Returns {"sec", "n_triples",
    "phases"}; the phase split shows where non-scaling (serial/driver)
    time sits at each parallelism level, down to the construction stage
    (extract/link/canonicalize/materialize)."""
    with _kg("construct", corpus, cores) as (spark, wd, kg, n, t_construct,
                                             stages):
        t0 = time.time()
        if with_dqa:
            _run_dqa(spark, kg, os.path.join(wd, "report"))
        t_dqa = time.time() - t0
    return {"sec": t_construct + t_dqa, "n_triples": n,
            "phases": {"construct_sec": round(t_construct, 2),
                       "dqa_sec": round(t_dqa, 2), "stages": stages}}


LEVEL_CORES = {"lo": 2, "hi": 8}


def _sample_levels(corpus_of: dict) -> dict[str, list[dict]]:
    """The one scaling sampler: the end-to-end job (construct + DQA) at
    each level of LEVEL_CORES over ``corpus_of[level]``, run hi, lo, hi,
    lo so a host-noise spike can't bias the efficiency either way; the
    caller takes the best run per level.

    Both levels run sequentially in THIS python process and JVM (24g
    heap, JIT-warm for both) — the same-job, two-parallelism-levels
    comparison. 2 vs 8 task threads rather than 8 vs 32 because this
    host is shared (external tenants push loadavg to 10-18, so wider
    levels measure the neighbours, not the engine). Not symmetric in
    memory: with the one equal heap, the 8-thread level gets ¼ of the
    per-task execution memory of the 2-thread one, which biases the
    efficiency down once a stage spills (at 16M docs the link stage turns
    superlinear and the job reads 0.656, scaling16m_r5)."""
    runs: dict[str, list[dict]] = {"hi": [], "lo": []}
    for level in ("hi", "lo", "hi", "lo"):
        runs[level].append(_construction_run(
            LEVEL_CORES[level], corpus_of[level], with_dqa=True))
    return runs


def _level_block(runs: list[dict]) -> tuple[float, list[float], list]:
    """(best seconds, rounded samples, phases) of one level's runs."""
    return (min(r["sec"] for r in runs), [round(r["sec"], 2) for r in runs],
            [r["phases"] for r in runs])


def _scaling() -> dict:
    """Strong scaling: the SAME input at both levels, efficiency =
    (t_lo / t_hi) / 4. The corpus is 8M docs (~29M triples) so compute
    dominates fixed per-stage overhead. Takes ~45 min."""
    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", 8_000_000))
    with _corpus(n_docs) as corpus:
        runs = _sample_levels({"hi": corpus, "lo": corpus})
    hi, samples_hi, phases_hi = _level_block(runs["hi"])
    lo, samples_lo, phases_lo = _level_block(runs["lo"])
    n = runs["hi"][0]["n_triples"]
    return {
        "mode": ("strong end-to-end (construct+DQA), same input, "
                 "N vs 4N parallelism, hi/lo interleaved x2, best "
                 "per config"),
        "docs": n_docs,
        "sec_lo": round(lo, 2),
        "sec_hi": round(hi, 2),
        "triples_per_sec_lo": round(n / lo, 1),
        "triples_per_sec_hi": round(n / hi, 1),
        "efficiency": round((lo / hi) / 4, 3),
        "samples_hi": samples_hi,
        "samples_lo": samples_lo,
        "phases_hi": phases_hi,
        "phases_lo": phases_lo,
    }


def _weak_scaling() -> dict:
    """Weak scaling: 4× the docs at 4× the parallelism, efficiency =
    t_lo / t_hi — the regime that matches the 100 TB design goal (you
    add executors BECAUSE data grew; the job count stays constant while
    per-stage data scales, so the fixed driver/job overhead that bounds
    strong scaling on a FIXED input amortizes away)."""
    n_lo = int(os.environ.get("SPARK_GRAFT_WEAK_DOCS_LO", 2_000_000))
    n_hi = n_lo * 4
    with _corpus(n_lo) as lo_corpus, _corpus(n_hi) as hi_corpus:
        runs = _sample_levels({"hi": hi_corpus, "lo": lo_corpus})
    block = {"mode": ("weak end-to-end (construct+DQA): 4x docs on 4x "
                      "parallelism, hi/lo interleaved, best per config")}
    best = {}
    for level, n_docs in (("lo", n_lo), ("hi", n_hi)):
        best[level], sec_runs, phases = _level_block(runs[level])
        block[level] = {"docs": n_docs,
                        "triples": runs[level][0]["n_triples"],
                        "sec_runs": sec_runs, "phases": phases}
    block["efficiency_wall"] = round(best["lo"] / best["hi"], 3)
    return block


def _dqa_throughput() -> dict:
    """Assessment-only throughput on a large KG — the number directly
    comparable to the reference's ≈3 h drugbank DQA run: construct once
    (untimed fixture), then time ONLY profile + compiled constraint
    evaluation + scoring + report write."""
    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", 8_000_000))
    with _corpus(n_docs) as corpus, \
            _kg("dqa", corpus) as (spark, wd, kg, n_t, *_):
        t0 = time.time()
        _run_dqa(spark, kg, os.path.join(wd, "report"))
        sec = time.time() - t0
    return {
        "cores": CPUS,
        "n_triples": n_t,
        "sec": round(sec, 2),
        "triples_per_sec": round(n_t / sec, 1),
    }


def _streaming() -> dict:
    """Streaming-DQA drain rate: the constructed triple table arrives as a
    file stream (4 files per microbatch) and is folded into incremental
    state epoch by epoch; the timed section is the full drain, so the rate
    includes every state-level append, the compactions and the
    monotone-violation appends. Then vacuum hygiene (r4 verdict item 7):
    a many-epoch drain grows every state table's dir chain + commit log;
    the state dir is measured before/after the periodic compact+expire
    maintenance, and the vacuum is checked to preserve contents."""
    from shacl_dqa_prototype_spark.plans.incremental import (
        IncrementalDQAState,
    )
    from shacl_dqa_prototype_spark.streaming.ingest import start_streaming_dqa

    def _dir_stats(root):
        n_files = n_bytes = 0
        for dp, _, fns in os.walk(root):
            for fn in fns:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dp, fn))
        return n_files, n_bytes

    n_docs = int(os.environ.get("SPARK_GRAFT_STREAM_DOCS", 200_000))
    with _corpus(n_docs) as corpus, \
            _kg("stream", corpus) as (spark, wd, kg, n_t, *_):
        vocab, dqa_cfg = _datagen_vocab_cfg()
        state_dir = os.path.join(wd, "state")
        state = IncrementalDQAState.open(spark, state_dir)
        t0 = time.time()
        start_streaming_dqa(
            spark, kg, state, dqa_cfg, vocab,
            checkpoint_dir=os.path.join(wd, "ckpt"),
            max_files_per_trigger=4,
        ).awaitTermination()
        sd_sec = time.time() - t0
        n_epochs = len(state.ps_counts.snapshots())

        rows_before = {n: t.read().count()
                       for n, t in state.tables().items()}
        files_b, bytes_b = _dir_stats(state_dir)
        t0 = time.time()
        state.vacuum()
        vac_sec = time.time() - t0
        files_a, bytes_a = _dir_stats(state_dir)
        rows_after = {n: t.read().count()
                      for n, t in state.tables().items()}
        assert rows_after == rows_before, (rows_before, rows_after)
        return {
            "cores": CPUS,
            "n_triples": n_t,
            "epochs": n_epochs,
            "sec": round(sd_sec, 2),
            "triples_per_sec": round(n_t / sd_sec, 1),
            "vacuum": {
                "sec": round(vac_sec, 2),
                "state_files_before": files_b,
                "state_files_after": files_a,
                "state_mb_before": round(bytes_b / 1e6, 1),
                "state_mb_after": round(bytes_a / 1e6, 1),
                "snapshots_per_table_before": n_epochs,
                "snapshots_per_table_after": len(
                    state.ps_counts.snapshots()),
                "rows_preserved": True,
            },
        }


def _novelty_stream() -> dict:
    """Novelty-at-ingest drain rate: a flat corpus arrives as K id-ordered
    epoch files; every batch is scored against the accumulated
    bucket-pruned n-gram index and folded in. The timed section is the
    full drain (all index reads + both snapshot commits per epoch); the
    result set is then asserted EQUAL to batch ngram_novelty over the same
    corpus — throughput with the correctness proof attached, not instead
    of it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from shacl_dqa_prototype_spark.operators.dedup import ngram_novelty
    from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable
    from shacl_dqa_prototype_spark.streaming.ingest import (
        start_streaming_novelty,
        write_ordered_epochs,
    )

    n_nv = int(os.environ.get("SPARK_GRAFT_NOVELTY_DOCS", 200_000))
    n_epochs = int(os.environ.get("SPARK_GRAFT_NOVELTY_EPOCHS", 8))
    with _corpus(n_nv, flat=True) as (docs_path, _):
        wd = tempfile.mkdtemp(prefix="bench_novelty_")
        with _session(f"novelty-{CPUS}", wd) as spark:
            docs = spark.read.parquet(docs_path).select("doc_id", "text")
            in_dir = os.path.join(wd, "in")
            # datagen ids are zero-padded strings (doc_000000042): their
            # lexicographic order IS the numeric order, so id-ordered
            # epochs split on the extracted numeric suffix and
            # min(doc_id) agrees between the stream and the batch operator
            per = (n_nv + n_epochs - 1) // n_epochs
            num = F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
            write_ordered_epochs(
                [docs.filter((num >= i * per) & (num < (i + 1) * per))
                 for i in range(n_epochs)], in_dir)
            idx = SnapshotTable(spark, os.path.join(wd, "idx"), StructType([
                StructField("ng", LongType(), True),
                StructField("first_doc", StringType(), True)]))
            res_t = SnapshotTable(spark, os.path.join(wd, "res"), StructType([
                StructField("doc_id", StringType(), True),
                StructField("n_distinct", LongType(), False),
                StructField("novel", LongType(), False),
                StructField("novel_frac", DoubleType(), False)]))
            t0 = time.time()
            start_streaming_novelty(
                spark, in_dir + "/*", idx, res_t,
                os.path.join(wd, "ckpt"), n=8, schema=docs.schema,
                max_files_per_trigger=1, n_buckets=32,
            ).awaitTermination()
            nv_sec = time.time() - t0
            got = res_t.read().distinct()
            exp = ngram_novelty(docs, n=8)
            mismatches = got.unionByName(exp).groupBy(
                "doc_id", "n_distinct", "novel", "novel_frac"
            ).count().filter("count <> 2").count()
            assert mismatches == 0, f"{mismatches} rows differ from batch"
            return {
                "cores": CPUS,
                "n_docs": n_nv,
                "epochs": n_epochs,
                "sec": round(nv_sec, 2),
                "docs_per_sec": round(n_nv / nv_sec, 1),
                "index_ngrams": idx.read().count(),
                "matches_batch": True,
            }


def _curate() -> dict:
    """End-to-end curation throughput: documents parquet → quality gate
    → source filter → LSH keep-best near-dedup → PII redaction → curated
    parquet (the main.py curate job, xxhash64 fast path). The corpus
    write is fixture prep; the timed section is the whole pipeline
    including the output write."""
    from shacl_dqa_prototype_spark.plans.curate import curate_corpus

    n_cu = int(os.environ.get("SPARK_GRAFT_CURATE_DOCS", 2_000_000))
    with _corpus(n_cu, flat=True) as (docs_path, _):
        out_dir = tempfile.mkdtemp(prefix="bench_curated_")
        with _session(f"curate-{CPUS}", out_dir) as spark:
            out_path = os.path.join(out_dir, "curated.parquet")
            t0 = time.time()
            res = curate_corpus(spark.read.parquet(docs_path),
                                collect_stats=False)
            res.survivors.write.mode("overwrite").parquet(out_path)
            cu_sec = time.time() - t0
            n_out = spark.read.parquet(out_path).count()
    return {
        "cores": CPUS,
        "n_docs_in": n_cu,
        "n_docs_out": n_out,
        "sec": round(cu_sec, 2),
        "docs_per_sec": round(n_cu / cu_sec, 1),
    }


def _incremental() -> dict:
    """Incremental-state cost curve: fold K fixed-size triple deltas into
    a GROWING DQA state and report seconds per delta vs state size — the
    evidence for the O(delta) fold claim (plans/incremental.py: each fold
    appends one level per state table; reads merge base ∪ levels, and a
    table past 16 dirs is compacted). A flat curve = cost tracks the
    delta, not the accumulated state."""
    from pyspark.sql import functions as F

    from shacl_dqa_prototype_spark.plans.incremental import (
        IncrementalDQAState,
        apply_delta,
    )

    n_in = int(os.environ.get("SPARK_GRAFT_INC_DOCS", 1_000_000))
    k_deltas = int(os.environ.get("SPARK_GRAFT_INC_DELTAS", 10))
    with _corpus(n_in) as corpus, \
            _kg("inc", corpus) as (spark, wd, kg, n_t, *_):
        T = read_triples(spark, kg)
        vocab, dqa_cfg = _datagen_vocab_cfg()
        state = IncrementalDQAState.open(spark, os.path.join(wd, "state"))
        slot = F.pmod(F.xxhash64("s", "p", "o"), F.lit(k_deltas))
        per_delta = []
        cum = 0
        for i in range(k_deltas):
            delta = T.filter(slot == i)
            n_d = delta.count()  # fixture accounting, outside the timer
            t0 = time.time()
            apply_delta(state, delta, dqa_cfg, vocab, delta_id=f"bench-{i}")
            dt = time.time() - t0
            cum += n_d
            per_delta.append({
                "delta": i, "delta_triples": n_d,
                "state_triples_after": cum, "sec": round(dt, 2),
            })
    first, last = per_delta[0]["sec"], per_delta[-1]["sec"]
    return {
        "cores": CPUS,
        "n_triples_total": n_t,
        "k_deltas": k_deltas,
        "per_delta": per_delta,
        "sec_first_delta": first,
        "sec_last_delta": last,
        # <1 means the final delta (vs a k×-larger state) costs no
        # more than the first — the O(delta) evidence
        "last_over_first": round(last / first, 3),
    }


def _ann_recall(n_vecs: int = 100_000, dim: int = 64,
                n_queries: int = 8, k: int = 10) -> dict:
    """Recall@k of the two ANN operators vs the exact cosine top-k on a
    100k-vector clustered synthetic corpus (r4 verdict item 4: the
    contract oracles pin ANN exactness only at sf0.001-0.01, where
    probing is nearly exhaustive — this measures recall where pruning
    actually bites). The recall/cost dial is swept around the defaults:
    LSH probe_hamming ∈ {0,1,2} (default 2) and IVF n_probe ∈ {1,2,4}
    (default 2); cost = measured fraction of the corpus rows the probed
    scan touches (bucket sizes from one shared signature/quantizer pass,
    so the sweep adds no per-query jobs beyond the operator calls)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from shacl_dqa_prototype_spark.operators.similarity import (
        ann_topk,
        cosine_topk,
        ivf_topk,
        lsh_signatures,
        query_signature,
    )

    with _session("ann") as spark:
        # clustered corpus: 16 gaussian clusters so near-neighbor structure
        # exists (i.i.d. gaussian vectors are pairwise near-orthogonal at
        # dim=64 and recall@k would measure noise ranking, not ANN quality)
        rng = np.random.RandomState(7)
        centers = rng.standard_normal((16, dim)) * 1.5
        center_arr = F.element_at(
            F.array(*[F.array(*[F.lit(float(x)) for x in c])
                      for c in centers]),
            (F.col("id") % 16 + 1).cast("int"))
        noise = F.array(*[F.randn(seed=100 + j) for j in range(dim)])
        corpus = (
            spark.range(n_vecs)
            .select(F.col("id").alias("vec_id"),
                    F.zip_with(center_arr, noise,
                               lambda a, b: a + b).alias("embedding"))
            .cache())
        corpus.count()
        queries = [list(r["embedding"]) for r in corpus.filter(
            F.col("vec_id") % (n_vecs // n_queries) == 3).limit(n_queries)
            .collect()]

        # shared cost accounting: LSH bucket sizes + IVF cell sizes, one pass
        n_planes, seed, n_cells = 12, 42, 16
        sig_sizes = {r["lsh_sig"]: r["n"] for r in lsh_signatures(
            corpus, dim, n_planes, seed).groupBy("lsh_sig")
            .agg(F.count("*").alias("n")).collect()}
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = corpus.withColumn(
            "features",
            array_to_vector(F.col("embedding").cast("array<double>")))
        km = KMeans(k=n_cells, seed=seed, maxIter=5).fit(feat)
        cell_sizes = {r["prediction"]: r["n"] for r in km.transform(feat)
                      .groupBy("prediction").agg(F.count("*").alias("n"))
                      .collect()}

        def lsh_scanned(q, h):
            from itertools import combinations
            qsig = query_signature(q, n_planes, seed)
            sigs = [qsig ^ sum(1 << b for b in flip)
                    for hh in range(h + 1)
                    for flip in combinations(range(n_planes), hh)]
            return sum(sig_sizes.get(s, 0) for s in sigs)

        def ivf_scanned(q, p):
            def cos(a, b):
                num = sum(x * y for x, y in zip(a, b))
                na = math.sqrt(sum(x * x for x in a)) or 1.0
                nb = math.sqrt(sum(float(y) ** 2 for y in b)) or 1.0
                return num / (na * nb)
            cells = sorted(range(n_cells),
                           key=lambda i: -cos(q, km.clusterCenters()[i]))[:p]
            return sum(cell_sizes.get(c, 0) for c in cells)

        exact = [set(r["vec_id"] for r in
                     cosine_topk(corpus, q, k).collect()) for q in queries]
        res: dict = {"n_vecs": n_vecs, "dim": dim, "k": k,
                     "n_queries": n_queries, "lsh": {}, "ivf": {}}
        for h in (0, 1, 2):
            rec, frac = [], []
            for q, ex in zip(queries, exact):
                ids = {r["vec_id"] for r in ann_topk(
                    corpus, q, k, n_planes=n_planes, seed=seed,
                    probe_hamming=h).collect()}
                rec.append(len(ids & ex) / k)
                frac.append(lsh_scanned(q, h) / n_vecs)
            res["lsh"][f"probe_hamming={h}"] = {
                "recall_at_10": round(sum(rec) / len(rec), 3),
                "scan_fraction": round(sum(frac) / len(frac), 4),
                "default": h == 2}
        for p in (1, 2, 4):
            rec, frac = [], []
            for q, ex in zip(queries, exact):
                ids = {r["vec_id"] for r in ivf_topk(
                    corpus, q, k, n_cells=n_cells, n_probe=p,
                    seed=seed).collect()}
                rec.append(len(ids & ex) / k)
                frac.append(ivf_scanned(q, p) / n_vecs)
            res["ivf"][f"n_probe={p}"] = {
                "recall_at_10": round(sum(rec) / len(rec), 3),
                "scan_fraction": round(sum(frac) / len(frac), 4),
                "default": p == 2}
    return res


def _skew_bench(n_edges: int = 4_000_000, hub_frac: float = 0.3,
                n_nodes: int = 1_000_000) -> dict:
    """Skew evidence (r4 verdict item 6): the AQE design for the graph
    path, MEASURED instead of asserted. connected_components (distributed
    large-star/small-star forced via driver_threshold=0) on a hub-heavy
    fixture (one node on ``hub_frac`` of all edges) under the engine's
    default config (broadcast joins + AQE skew-join splits) vs a forced
    plain sort-merge-join config (autoBroadcastJoinThreshold=-1, skewJoin
    off) — the star rounds join the full edge set on ``src``, where the
    hub key lands in one reducer without mitigation.

    Plus the ISOLATED mechanism measurement: the large-star shape's
    ``edges ⋈ per-src-mins`` join on a 48M-row fixture whose hub
    partition (~600 MB) crosses AQE's default 256 MB skew threshold,
    broadcast disabled on BOTH sides so only skewJoin.enabled differs —
    below that size the single-JVM local mode absorbs the straggler and
    the toggle is noise (measured: ±10% at 4-16M rows), which is itself
    worth knowing: the CC end-to-end total at this scale is dominated by
    the dedup distincts, not the skewed join.

    Each measurement best-of-2 interleaved (this host's documented
    run-to-run variance). The fixture spans every session, so it lives
    in one temp dir removed on exit."""
    from pyspark.sql import functions as F

    from shacl_dqa_prototype_spark.operators.connected_components import (
        connected_components,
    )

    with tempfile.TemporaryDirectory(prefix="bench_skew_",
                                     ignore_cleanup_errors=True) as fixture:
        epath = os.path.join(fixture, "edges")
        hub_pct = int(hub_frac * 100)

        with _session("skew-gen") as spark:
            spark.range(n_edges).select(
                F.when(F.pmod(F.xxhash64("id"), F.lit(100)) < hub_pct,
                       F.lit("HUB"))
                .otherwise(F.concat(F.lit("n"), F.pmod(
                    F.xxhash64("id", F.lit(1)), F.lit(n_nodes)))
                ).alias("src"),
                F.concat(F.lit("n"), F.pmod(
                    F.xxhash64("id", F.lit(2)), F.lit(n_nodes))).alias("dst"),
            ).write.mode("overwrite").parquet(epath)

        res: dict = {
            "n_edges": n_edges, "hub_fraction": hub_frac, "n_nodes": n_nodes,
        }

        # isolated skewed-join mechanism: hub partition must EXCEED AQE's
        # default skewedPartitionThresholdInBytes (256 MB) to be split
        n_big = 48_000_000
        with _session("skew-gen2") as spark:
            big = spark.range(n_big).select(
                F.when(F.pmod(F.xxhash64("id"), F.lit(100)) < 50,
                       F.lit("HUB"))
                .otherwise(F.concat(F.lit("n"), F.pmod(
                    F.xxhash64("id", F.lit(1)), F.lit(2_000_000)))
                ).alias("src"),
                F.concat(F.lit("n"), F.pmod(
                    F.xxhash64("id", F.lit(2)), F.lit(2_000_000))
                ).alias("dst"))
            big.write.mode("overwrite").parquet(os.path.join(fixture, "big"))
            spark.read.parquet(os.path.join(fixture, "big")).groupBy(
                "src").agg(F.min("dst").alias("mn")).write.mode(
                "overwrite").parquet(os.path.join(fixture, "mins"))

        def star_join_run(skew_on: bool) -> float:
            with _session(f"skewjoin-{skew_on}", extra_conf={
                    "spark.sql.autoBroadcastJoinThreshold": "-1",
                    "spark.sql.adaptive.skewJoin.enabled":
                        str(skew_on).lower()}) as spark:
                e = spark.read.parquet(os.path.join(fixture, "big"))
                mins = spark.read.parquet(os.path.join(fixture, "mins"))
                t0 = time.time()
                e.join(mins, "src").select(
                    F.xxhash64("dst", "mn").alias("h")
                ).write.format("noop").mode("overwrite").save()
                return time.time() - t0

        sj = {True: [], False: []}
        for _ in range(2):
            for on in (True, False):
                sj[on].append(star_join_run(on))
        res["star_join_48m_half_hub"] = {
            "sec_skewjoin_on": round(min(sj[True]), 2),
            "sec_skewjoin_off": round(min(sj[False]), 2),
            "speedup": round(min(sj[False]) / min(sj[True]), 2),
        }
        configs = {
            "mitigated": {},
            "plain_smj": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                          "spark.sql.adaptive.skewJoin.enabled": "false"},
        }
        times = {k: [] for k in configs}
        for _ in range(2):  # interleaved: a load spike can't bias one config
            for label, conf in configs.items():
                with _session(f"skew-{label}", extra_conf=conf) as spark:
                    edges = spark.read.parquet(epath)
                    t0 = time.time()
                    mapping = connected_components(edges, driver_threshold=0)
                    n_mapped = mapping.count()
                    times[label].append(time.time() - t0)
        for label, ts in times.items():
            res[f"cc_sec_{label}"] = round(min(ts), 2)
        res["cc_nodes_mapped"] = n_mapped
        res["cc_speedup_from_mitigation"] = round(
            res["cc_sec_plain_smj"] / res["cc_sec_mitigated"], 2)
        return res


# flag → (JSON key, mode), in run order
MODES = {
    "--dqa-throughput": ("dqa_throughput", _dqa_throughput),
    "--streaming": ("streaming_dqa", _streaming),
    "--novelty-stream": ("novelty_stream", _novelty_stream),
    "--curate": ("curate", _curate),
    "--incremental": ("incremental", _incremental),
    "--weak-scaling": ("weak_scaling", _weak_scaling),
    "--ann-recall": ("ann_recall", _ann_recall),
    "--skew": ("skew", _skew_bench),
    "--scaling": ("scaling", _scaling),
}


def main() -> None:
    # The scaling/throughput modes run an 8M-doc (~29M-triple) end-to-end
    # job; at the library's 8g default heap that job is memory-MARGINAL —
    # depending on task scheduling it either GC-thrashes (one 2026-08-20
    # run measured the hi config 26% slow purely from eviction pressure)
    # or dies outright (java.lang.OutOfMemoryError, log retained in
    # bench_r5_scaling9b.json). An OOM-thrashing JVM measures the
    # collector, not the engine, so the big modes get a corpus-sized heap.
    # Must be decided BEFORE the first session: local-mode pyspark
    # launches ONE JVM per python process, and later spark.driver.memory
    # configs are silently ignored.
    if any(m in sys.argv for m in ("--scaling", "--weak-scaling",
                                   "--dqa-throughput")):
        os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    # The triple store is PERSISTENT across bench runs: a real deployment
    # holds the KG as a materialized table — rebuilding it per benchmark
    # run is a harness artifact, not engine work. First run builds (cost
    # reported in setup_sec + store_cached=false); later runs read it
    # back and setup is the violations compile alone. The content key
    # (view text + input identity) lives in entrymod._triple_store_path,
    # so ANY caller of _triples gets the same stale/foreign-store
    # invalidation, not just this harness.
    store_base = os.environ.setdefault(
        "SPARK_GRAFT_TRIPLE_STORE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_logs", "store_cache"))
    store_cached = os.path.exists(os.path.join(
        entrymod._triple_store_path(store_base, SF_DIR), "_SUCCESS"))
    with _session("queries") as spark:
        times, samples, setup = _run_queries(spark)
    # headline value = one-time setup + the suite at its per-query
    # medians (NOT raw wall across all interleaved passes — that would
    # triple-count every query)
    total = round(setup + sum(times.values()), 3)

    # Construction throughput on a pre-materialized corpus.
    n_docs = int(100000 * max(sf / 0.1, 0.05))
    with _corpus(n_docs) as corpus:
        c = _construction_run(CPUS, corpus)

    out = {
        "metric": "headline suite wall time (setup + per-query medians, "
                  "3 interleaved passes)",
        "value": total,
        "unit": "sec",
        "queries": times,
        # the floor attributable to the engine, beside the median
        "query_min": {n: min(v) for n, v in samples.items()},
        "query_samples": samples,
        "setup_sec": setup,
        "store_cached": store_cached,
        "sf": sf,
        "construction": {
            "n_docs": n_docs,
            "n_triples": c["n_triples"],
            "sec": round(c["sec"], 2),
            "triples_per_sec": round(c["n_triples"] / c["sec"], 1),
        },
        "fingerprint_longdoc": _fingerprint_micro(),
    }
    for flag, (key, mode) in MODES.items():
        if flag in sys.argv:
            out[key] = mode()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
