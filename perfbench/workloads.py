"""The benchmark workloads: seeded fixtures, the timed op, and the
correctness check that runs after each op, outside the timer.

Each workload is a class with the same steps:

- ``prepare(spark)``: build the seeded inputs once per run (untimed);
- ``op(i)``: one timed operation;
- ``check(i)``: verify the op's output, raising on a wrong result, and
  set ``triples`` (what the op processed) and ``counters``;
- ``finish()``: checks that need the whole run (incremental only).

Inputs come only from the benchmark seed; the engine receives the
generated tables, never the seed. README.md says why each was chosen.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from __spark_entry__ import ENTRY_CFG, ENTRY_DISJOINT, ENTRY_VOCAB, TRIPLES_SQL
from shacl_dqa_prototype_spark.datagen import (
    P_SAME_AS,
    GenConfig,
    entity_dictionary,
    expected_triples,
    generate_documents,
)
from shacl_dqa_prototype_spark.plans.construction import run_construction
from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa
from shacl_dqa_prototype_spark.plans.incremental import (
    IncrementalDQAState,
    apply_delta,
    score_from_state,
)
from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
from shacl_dqa_prototype_spark.sources import sinks

# Input sizes, fixed so that every run of a workload does the same work.
# They are scaled down from the issue's probes (200k docs, sf0.1) so that
# the whole series of runs the benchmark is judged by fits its time budget
# on 4 cores; see README.md.
CONSTRUCT_DOCS = 5_000
TPCH_SF = 0.005         # 55,862 triples through TRIPLES_SQL
TPCH_SEED = 42          # table content is fixed; the run seed reorders it
INC_BASE_PCT = 90       # base share, folded by the warm-up op
INC_DELTA_PCT = 1       # each op folds one 1 % delta
SLOT_SALT = 1           # fixes which triples fall in which 1 % slot

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# batch reports the incremental check compares against, kept between runs
REFERENCE_DIR = os.path.join(ROOT, ".perfbench_work", "reference")

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def tpch_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables with the row counts of scale factor ``sf``,
    holding exactly the columns TRIPLES_SQL reads."""
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    days = rng.integers(0, 6 * 365, n_orders)
    per_order = rng.integers(1, 8, n_orders)
    return {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32), "n_name": NATIONS,
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64)}),
        "orders": pd.DataFrame({
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, n_cust + 1, n_orders),
            "o_orderdate": (np.datetime64("1992-01-01")
                            + days.astype("timedelta64[D]")
                            ).astype("datetime64[us]")}),
        "lineitem": pd.DataFrame({
            "l_orderkey": np.repeat(okeys, per_order),
            "l_suppkey": rng.integers(1, n_supp + 1, int(per_order.sum()))}),
    }


def _clean(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _source_digest() -> str:
    """Hash of the engine's sources and of this file: a kept reference is
    only reused by the code that computed it."""
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(ROOT, "shacl_dqa_prototype_spark",
                                          "**", "*.py"), recursive=True))
    for path in [*paths, os.path.join(ROOT, "__spark_entry__.py"),
                 os.path.join(ROOT, "entry_ext.py"), os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _report_rows(path: str) -> list[tuple]:
    """Rows of a report written by ``sinks.write_report_json``, sorted."""
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            for line in f:
                r = json.loads(line)
                rows.append((r.get("target"), r.get("dimension"),
                             r["metric"], r.get("item"), r["score_kind"],
                             round(r["measure"], 9), r["num_violations"],
                             r.get("violations")))
    return sorted(rows, key=repr)


class Workload:
    name = ""
    why = ""
    warmup_ops = 1      # untimed ops before timing starts; the first is cold
    timed_ops = 1       # least number of timed ops in an untraced run
    max_ops = 10 ** 9

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.triples = 0
        self.counters: dict[str, float] = {}

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> None:
        raise NotImplementedError

    def finish(self, tracer=None) -> None:
        pass


class Construct(Workload):
    name = "construct"
    why = ("extract, link, canonicalize and materialize do all the work and "
           "the DQA layers none; a hot entity (5 % of docs) and ambiguous "
           "aliases (30 %) skew the link join")
    # ops still speed up for a few ops after the cold one, and a shared
    # host slows single ops by up to 50 %: the median of two timed ops is
    # steadier than a second warm-up and one timed op, at the same cost
    timed_ops = 2

    def prepare(self, spark) -> None:
        self.spark = spark
        self.cfg = GenConfig(n_docs=CONSTRUCT_DOCS, seed=self.seed,
                             n_entities=max(100, CONSTRUCT_DOCS // 20))
        fx = os.path.join(self.work, "fixture")
        generate_documents(spark, self.cfg).write.mode("overwrite").parquet(
            _clean(os.path.join(fx, "documents")))
        entity_dictionary(spark, self.cfg).write.mode("overwrite").parquet(
            _clean(os.path.join(fx, "dictionary")))
        self.docs = spark.read.parquet(os.path.join(fx, "documents"))
        self.dictionary = spark.read.parquet(os.path.join(fx, "dictionary"))
        truth = expected_triples(spark, self.cfg).select("s", "p", "o")
        self.truth = set(truth.distinct().toPandas().itertuples(
            index=False, name=None))

    def _wd(self, i: int) -> str:
        return os.path.join(self.work, f"op{i}")

    def op(self, i: int) -> None:
        self.result = run_construction(self.spark, self.docs, self.dictionary,
                                       _clean(self._wd(i)))

    def check(self, i: int) -> None:
        """P/R >= 0.95 of the linked triples against the generator's truth,
        and the same triple count on every op. The outputs are read with
        pyarrow, which costs no Spark job."""
        wd = self._wd(i)
        linked = ds.dataset(os.path.join(wd, "linked_triples.parquet"))
        got = set(linked.to_table(columns=["s", "p", "o"]).to_pandas()
                  .itertuples(index=False, name=None))
        tp = len(got & self.truth)
        precision, recall = tp / max(1, len(got)), tp / max(1, len(self.truth))
        if precision < 0.95 or recall < 0.95:
            raise AssertionError(f"construct P/R {precision:.3f}/{recall:.3f}")
        n = ds.dataset(self.result.triples_path,
                       partitioning="hive").count_rows()
        if self.triples and n != self.triples:
            raise AssertionError(f"triple count {n} != {self.triples}")
        self.triples = n
        with open(os.path.join(wd, "manifest.jsonl")) as f:
            rows = {r["stage"]: r["rows"] for r in map(json.loads, f)}
        self.counters = {
            "docs": CONSTRUCT_DOCS, "mentions": rows["extract"],
            "linked": rows["link"], "triples": n,
            "edges": sum(1 for t in got if t[1] == P_SAME_AS),
        }
        shutil.rmtree(wd, ignore_errors=True)


class Incremental(Workload):
    """The TRIPLES_SQL view over TPC-H-shaped tables, split into 100 slots
    of 1 % and written in a seed-permuted row order: the first
    ``INC_BASE_PCT`` slots form the base, each later one a delta. Which
    triples fall in which slot does not depend on the seed, so the batch
    report the final check compares against is the same for every seed
    and is computed once per version of the code (see ``finish``)."""

    name = "incremental"
    why = ("every constraint family maintained through snapshot-state "
           "commits: each op folds a 1 % delta with apply_delta and "
           "re-scores from state, so writes run beside reads")
    # op 0, the warm-up, folds the base into the empty state; every later
    # op folds one delta. Folding the base once and copying it into each
    # run saved nothing: a cold delta fold took as long as a cold base fold
    max_ops = 1 + (100 - INC_BASE_PCT) // INC_DELTA_PCT

    def prepare(self, spark) -> None:
        """The triple view is built by DuckDB, which runs TRIPLES_SQL
        verbatim, so that the fixture costs no Spark job; one parquet
        directory per 1 % slot lets an op read only its own delta."""
        import duckdb

        self.spark = spark
        self.delta_dir = _clean(os.path.join(self.work, "fixture", "slots"))
        os.makedirs(os.path.dirname(self.delta_dir), exist_ok=True)
        con = duckdb.connect()
        try:
            for name, pdf in tpch_tables(TPCH_SF, TPCH_SEED).items():
                con.register(name, pdf)
            # slots are dealt round-robin in a fixed hash order, so every
            # delta holds the same triples on every seed
            con.execute(
                f"COPY (SELECT *, (row_number() OVER (ORDER BY hash(s, p, o, "
                f"{SLOT_SALT}))) % 100 AS slot FROM ({TRIPLES_SQL})"
                f" ORDER BY hash(s, p, o, {self.seed}))"
                f" TO '{self.delta_dir}' (FORMAT PARQUET, PARTITION_BY (slot))")
            self.delta_rows = dict(con.execute(
                f"SELECT slot, count(*) FROM read_parquet("
                f"'{self.delta_dir}/*/*.parquet', hive_partitioning = true)"
                f" GROUP BY slot").fetchall())
        finally:
            con.close()
        self.state_dir = _clean(os.path.join(self.work, "state"))
        self.state = IncrementalDQAState.open(spark, self.state_dir)
        self.applied = 0
        self.state_files: dict[str, tuple[int, int]] = {}
        self.last_report = None

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"report{i}")

    def _slot_dirs(self, lo: int, hi: int) -> list[str]:
        return [os.path.join(self.delta_dir, f"slot={k}")
                for k in range(lo, hi)]

    def _read(self, lo: int, hi: int):
        return self.spark.read.schema(TRIPLES_SCHEMA).parquet(
            *self._slot_dirs(lo, hi))

    def op(self, i: int) -> None:
        """One user refresh: fold the next delta into the state, re-score
        from state and write the report."""
        lo = self.applied
        self.applied = INC_BASE_PCT if i == 0 else lo + INC_DELTA_PCT
        apply_delta(self.state, self._read(lo, self.applied), ENTRY_CFG,
                    ENTRY_VOCAB, delta_id=f"d{lo}")
        report = score_from_state(self.state, ENTRY_VOCAB, ENTRY_CFG,
                                  disjoint_pairs=ENTRY_DISJOINT)
        sinks.write_report_json(report, _clean(self._out(i)))

    def check(self, i: int) -> None:
        lo = 0 if i == 0 else self.applied - INC_DELTA_PCT
        self.triples = sum(self.delta_rows[k] for k in range(lo, self.applied))
        rows = _report_rows(self._out(i))
        shutil.rmtree(self._out(i), ignore_errors=True)
        if not rows or (self.last_report is not None
                        and len(rows) != len(self.last_report)):
            raise AssertionError(f"report has {len(rows)} rows")
        self.last_report = rows
        # what the commits wrote: files that are new or rewritten since the
        # previous op, not the net growth of the state directory
        before, after = self.state_files, _files(self.state_dir)
        written = [v for p, v in after.items() if before.get(p) != v]
        self.state_files = after
        delta_bytes = sum(v[0] for d in self._slot_dirs(lo, self.applied)
                          for v in _files(d).values())
        self.counters = {
            "state_bytes": sum(v[0] for v in after.values()),
            "written_bytes": sum(v[0] for v in written),
            "written_files": len(written),
            "delta_bytes": delta_bytes,
            "report_rows": len(rows),
        }

    def finish(self, tracer=None) -> None:
        """The state-derived report after the last delta must equal a
        batch ``run_data_dqa`` over base plus every applied delta. The
        batch report is kept in ``REFERENCE_DIR`` under the hash of the
        sources, so only the first run of a checkout pays for it; a traced
        run always runs it, traced as the run ``<workload>/batch``."""
        if self.last_report is None:
            return
        ref = os.path.join(REFERENCE_DIR, f"incremental_{TPCH_SF}_"
                           f"{self.applied}_{_source_digest()}.json")
        if tracer or not os.path.exists(ref):
            out = _clean(os.path.join(self.work, "batch_report"))
            sofar = self._read(0, self.applied)
            self.spark.catalog.clearCache()
            run = f"{self.name}/batch"
            with tracer.op(run) if tracer else contextlib.nullcontext():
                sinks.write_report_json(run_data_dqa(
                    sofar, ENTRY_VOCAB, ENTRY_DISJOINT, ENTRY_CFG), out)
            if tracer:
                tracer.probe_parts(run)
            batch = json.loads(json.dumps(_report_rows(out)))
            os.makedirs(REFERENCE_DIR, exist_ok=True)
            with open(ref + f".{os.getpid()}", "w") as f:
                json.dump(batch, f)
            os.replace(ref + f".{os.getpid()}", ref)
        else:
            with open(ref) as f:
                batch = json.load(f)
        state = json.loads(json.dumps(self.last_report))
        if batch != state:
            diff = set(map(repr, batch)) ^ set(map(repr, state))
            raise AssertionError(f"state report != batch report: "
                                 f"{sorted(diff)[:4]}")


WORKLOADS = {w.name: w for w in (Construct, Incremental)}
