"""Spans around calls into the engine's layers, recorded from the
benchmark's own files, and the per-layer metrics derived from them.

``Tracer.install()`` wraps the public functions listed in ``LAYERS``, in
their defining module and in every module that bound them by name, so the
engine itself is unchanged. Inside ``with tracer.op(run):`` each call
becomes a ``Span``: name (``<layer>:<function>``), start, end, thread and
the run id it belongs to; the ``with`` block itself is the run's root span
(layer ``perfbench``). A span's parent is found when the run ends: the
innermost span on the same thread that contains it, or else the innermost
one on the root's thread (``apply_delta`` folds its tables in a thread
pool, whose calls have no caller span on their own thread).

The construction stages run their operator's lazy DataFrame at the stage's
parquet write, after ``extract_mentions`` or ``link_mentions`` returned.
So each stage is also a span of its operator's layer, from the end of the
previous stage's manifest commit to the end of its own.

Self time: a run's wall time is cut at every span boundary, and each piece
goes to the open spans that have no open child, split evenly when several
threads hold one. The self times of the layers plus the benchmark's own
glue therefore add up to the run's wall time. Task metrics come from
Spark's event log (eventlog.py): a job goes to the innermost span open at
its submission time. Plans are lazy, so a constraint's jobs run inside the
``score_plan`` span that consumes it; ``probe_parts`` times each constraint
branch on its own to split that cost by family.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass

from eventlog import Totals, attribute, read_tasks

PKG = "shacl_dqa_prototype_spark"
CORES = 4

# layer -> (module, public callable) pairs whose calls are spans of it
LAYERS: dict[str, list[tuple[str, str]]] = {
    "session": [("session", "get_spark")],
    "operators.extract": [("operators.extract", "extract_mentions")],
    "operators.link": [("operators.link", "link_mentions"),
                       ("operators.link", "mentions_to_triples")],
    "operators.connected_components": [
        ("operators.connected_components", "connected_components"),
        ("operators.connected_components", "canonicalize_triples")],
    "sources.sinks": [("sources.sinks", "write_triples"),
                      ("sources.sinks", "write_report_json")],
    "plans.profile": [("plans.profile", "profile_graph")],
    "plans.constraints": [("plans.constraints", "compile_data_constraints")],
    "plans.scoring": [("plans.scoring", "score_plan")],
    "plans.incremental": [("plans.incremental", "apply_delta"),
                          ("plans.incremental", "score_from_state")],
    "sources.snapshots": [
        ("sources.snapshots", f"SnapshotTable.{m}")
        for m in ("commit_append", "commit_overwrite",
                  "commit_merge_buckets", "read", "read_buckets")],
}
# construction stage (manifest name) -> the layer whose DataFrame it writes
STAGE_LAYER = {"extract": "operators.extract", "link": "operators.link",
               "canonicalize": "operators.connected_components",
               "materialize": "operators.connected_components"}
GLUE = "perfbench"        # a run's own code, outside every layer call
# the fields every layer an op calls reports per op; spill reads 0 at the
# benchmark's input sizes and is left out
FIELDS = {"busy_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
          "shuffle_write_mb": "MB", "jobs": "count", "util": "ratio"}
# layers the batch DQA run (the incremental workload's final check) calls
BATCH_LAYERS = ("plans.profile", "plans.constraints", "plans.scoring",
                "sources.sinks")
# the branches compile_data_constraints builds for the entry vocabulary:
# one per family, named after its metric, and two fused scans (per subject
# and per triple) named after the first metric they emit; a branch a later
# compiler adds is summed under ``other``
PARTS = ("AsymmetricProperty", "CorrectRange", "EntitiesDisjointClasses",
         "FunctionalProperty", "InverseFunctionalPropertyUniqueness",
         "MisplacedProperties", "SchemaCompletenessClassUsage",
         "fused_BlankNodesUsageEntities", "fused_CorrectRange", "other")
MB = 2 ** 20


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    thread: int
    run: str
    parent: int | None = None
    rows: int | None = None

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


def _dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class Tracer:
    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.spans: list[Span] = []
        self.plans: dict[str, list] = {}   # run -> ConstraintPlans compiled
        self.sink_files: dict[str, int] = {}
        self._run: str | None = None
        self._stage_mark = 0.0
        self._lock = threading.Lock()

    # -- recording ---------------------------------------------------------

    def _open(self, name: str, start: float | None = None) -> Span:
        span = Span(name, time.time() if start is None else start, None,
                    threading.get_ident(), self._run)
        with self._lock:
            self.spans.append(span)
        return span

    def _wrap(self, fn, name: str):
        tracer = self
        layer = name.split(":", 1)[0]

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._run is None:
                return fn(*args, **kwargs)
            span = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.time()
            if layer == "sources.sinks":
                path = args[1] if len(args) > 1 else kwargs["path"]
                with tracer._lock:
                    tracer.sink_files[span.run] = (
                        tracer.sink_files.get(span.run, 0) + _dir_files(path))
            elif layer == "plans.constraints":
                with tracer._lock:
                    tracer.plans.setdefault(span.run, []).append(out)
            return out

        return traced

    def _hook_construction(self) -> None:
        """Stage spans, bounded by run_construction's entry and the
        manifest commit that ends each stage."""
        tracer = self
        construction = importlib.import_module(f"{PKG}.plans.construction")
        sinks = importlib.import_module(f"{PKG}.sources.sinks")
        run_construction = construction.run_construction
        commit = sinks.Manifest.commit

        @functools.wraps(run_construction)
        def traced_run(*args, **kwargs):
            tracer._stage_mark = time.time()
            return run_construction(*args, **kwargs)

        @functools.wraps(commit)
        def traced_commit(manifest, stage, *args, **kwargs):
            out = commit(manifest, stage, *args, **kwargs)
            if tracer._run is not None and stage in STAGE_LAYER:
                span = tracer._open(f"{STAGE_LAYER[stage]}:stage.{stage}",
                                    start=tracer._stage_mark)
                span.end = tracer._stage_mark = time.time()
            return out

        self._rebind(run_construction, traced_run)
        sinks.Manifest.commit = traced_commit

    @staticmethod
    def _rebind(orig, new) -> None:
        """Point every loaded name bound to ``orig`` at ``new``."""
        for mod in list(sys.modules.values()):
            if mod is None or not (mod.__name__.startswith(PKG) or
                                   mod.__name__ in ("workloads", "run",
                                                    "__main__")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    def install(self) -> None:
        """Wrap every call in ``LAYERS``. Call it after the modules that
        bind those names (the workloads) are imported."""
        for layer, calls in LAYERS.items():
            for mod_name, qual in calls:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                name = f"{layer}:{qual.rsplit('.', 1)[-1]}"
                if "." in qual:
                    cls_name, meth = qual.split(".")
                    cls = getattr(mod, cls_name)
                    setattr(cls, meth, self._wrap(getattr(cls, meth), name))
                else:
                    orig = getattr(mod, qual)
                    self._rebind(orig, self._wrap(orig, name))
        self._hook_construction()

    class _Root:
        def __init__(self, tracer: Tracer, run: str):
            self.tracer, self.run = tracer, run

        def __enter__(self):
            self.tracer._run = self.run
            self.span = self.tracer._open(f"{GLUE}:{self.run}")
            return self

        def __exit__(self, *exc):
            self.span.end = time.time()
            self.tracer._run = None
            return False

    def op(self, run: str) -> _Root:
        """Trace everything called inside ``with tracer.op(run_id):``."""
        return self._Root(self, run)

    def probe_parts(self, run: str) -> None:
        """Materialise each branch of the plans compiled in ``run`` alone,
        outside the run, as spans of the run ``probe/<run>`` named after
        the metric the branch emits."""
        with self.op(f"probe/{run}"):
            for plan in self.plans.get(run, []):
                for part, metrics in zip(plan.parts, plan.part_metrics):
                    ms = sorted(metrics)
                    key = ms[0] if len(ms) == 1 else f"fused_{ms[0]}"
                    span = self._open(f"plans.constraints:part.{key}")
                    span.rows = part.count()
                    span.end = time.time()

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # -- analysis ----------------------------------------------------------

    def _link_parents(self) -> None:
        by_run: dict[str, list[int]] = {}
        for k, s in enumerate(self.spans):
            by_run.setdefault(s.run, []).append(k)
        for ks in by_run.values():
            root = self.spans[ks[0]]
            for k in ks[1:]:
                s = self.spans[k]
                best = None
                for j in ks:
                    c = self.spans[j]
                    if j == k or c.thread not in (s.thread, root.thread):
                        continue
                    if not (c.start <= s.start and s.end <= c.end):
                        continue
                    if (c.start, c.end) == (s.start, s.end) and j > k:
                        continue  # identical interval: earlier one is outer
                    rank = (c.thread == s.thread, -(c.end - c.start))
                    if best is None or rank > best[0]:
                        best = (rank, j)
                s.parent = ks[0] if best is None else best[1]

    def self_times(self, run: str) -> dict[str, float]:
        """Layer -> self seconds within one run; sums to the run's wall."""
        ks = [k for k, s in enumerate(self.spans) if s.run == run]
        root = self.spans[ks[0]]
        points = sorted({min(max(t, root.start), root.end)
                         for k in ks for t in (self.spans[k].start,
                                               self.spans[k].end)})
        out: dict[str, float] = {}
        for a, b in zip(points, points[1:]):
            live = [k for k in ks if self.spans[k].start <= a
                    and self.spans[k].end >= b]
            parents = {self.spans[k].parent for k in live}
            leaves = [k for k in live if k not in parents]
            for k in leaves:
                layer = self.spans[k].layer
                out[layer] = out.get(layer, 0.0) + (b - a) / len(leaves)
        return out

    def _wall(self, run: str) -> float:
        root = next(s for s in self.spans if s.run == run)
        return root.end - root.start

    def _task_totals(self, runs: list[str]) -> dict[str, dict[str, Totals]]:
        """run -> layer -> task metrics of the jobs submitted in its spans."""
        idx = [k for k, s in enumerate(self.spans) if s.run in runs]
        idx.sort(key=lambda k: (self.spans[k].start, -self.spans[k].end))
        # the event log has millisecond times: widen each span to them
        bounds = [(int(self.spans[k].start * 1000) / 1000.0,
                   -int(-self.spans[k].end * 1000) / 1000.0) for k in idx]
        per_span, _ = attribute(read_tasks(self.log_dir), bounds)
        out: dict[str, dict[str, Totals]] = {}
        for pos, tot in per_span.items():
            s = self.spans[idx[pos]]
            out.setdefault(s.run, {}).setdefault(s.layer, Totals()).merge(tot)
        return out

    def layer_metrics(self, ops: list[dict], batch_run: str
                      ) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of the traced ops in ``ops`` (see run.py),
        averaged per op, plus the batch DQA run ``batch_run`` if it ran,
        and the tracing overhead against the untraced ops of the same
        process. Every metric is reported on every workload; a layer a
        workload never calls reads 0. Call after the session stopped, so
        that the event log is complete."""
        self._link_parents()
        has_batch = any(s.run == batch_run for s in self.spans)
        traced = [op for op in ops if op["traced"] and op["ok"]]
        plain = [op for op in ops if not op["traced"] and op["ok"]]
        runs = [op["run"] for op in traced]
        n = len(runs)
        extra = ["setup"] + ([batch_run] if has_batch else [])
        tasks = self._task_totals(runs + extra)

        busy: dict[str, float] = {}
        per_layer: dict[str, Totals] = {}
        for run in runs:
            st = self.self_times(run)
            if abs(sum(st.values()) - self._wall(run)) > 0.01:
                raise AssertionError(f"self times of {run} do not add up "
                                     f"to its wall time")
            for layer, sec in st.items():
                busy[layer] = busy.get(layer, 0.0) + sec
            for layer, tot in tasks.get(run, {}).items():
                per_layer.setdefault(layer, Totals()).merge(tot)

        out: dict[str, tuple[float, str]] = {}
        setup = [s for s in self.spans if s.run == "setup"
                 and s.layer == "session"]
        out["session.start_s"] = (sum(s.end - s.start for s in setup), "s")
        for layer in LAYERS:
            if layer in ("session", "plans.profile"):
                continue    # called only in set-up and in the batch run
            t = per_layer.get(layer, Totals())
            b = busy.get(layer, 0.0) / n
            vals = {"busy_s": b, "task_s": t.task_s / n,
                    "cpu_s": t.cpu_s / n, "gc_s": t.gc_s / n,
                    "shuffle_write_mb": t.shuffle_write / MB / n,
                    "jobs": len(t.jobs) / n,
                    "util": t.task_s / n / (b * CORES) if b else 0.0}
            for f, unit in FIELDS.items():
                out[f"{layer}.{f}"] = (vals[f], unit)

        def dur(name: str) -> float:
            return sum(s.end - s.start for s in self.spans
                       if s.run in runs and s.name == name) / n

        def counter(key: str) -> float:
            vals = [op["counters"][key] for op in traced
                    if key in op["counters"]]
            return statistics.median(vals) if vals else 0.0

        cc = per_layer.get("operators.connected_components", Totals())
        sinks = per_layer.get("sources.sinks", Totals())
        docs, mentions = counter("docs"), counter("mentions")
        delta_bytes = counter("delta_bytes")
        out.update({
            "operators.extract.mentions_per_doc": (
                mentions / docs if docs else 0.0, "ratio"),
            "operators.link.triples_per_mention": (
                counter("linked") / mentions if mentions else 0.0, "ratio"),
            "operators.connected_components.driver_result_mb": (
                cc.result / MB / n, "MB"),
            "operators.connected_components.edges": (counter("edges"),
                                                     "count"),
            "sources.sinks.bytes_written_mb": (sinks.written / MB / n, "MB"),
            "sources.sinks.files": (
                sum(self.sink_files.get(r, 0) for r in runs) / n, "count"),
            "plans.incremental.fold_busy_s": (
                dur("plans.incremental:apply_delta"), "s"),
            "plans.incremental.rescore_busy_s": (
                dur("plans.incremental:score_from_state"), "s"),
            "sources.snapshots.bytes_written_per_delta_byte": (
                counter("written_bytes") / delta_bytes if delta_bytes
                else 0.0, "ratio"),
            "sources.snapshots.state_mb": (counter("state_bytes") / MB, "MB"),
            "sources.snapshots.files_per_delta": (counter("written_files"),
                                                  "count"),
            "plans.scoring.report_rows": (counter("report_rows"), "count"),
        })

        # the batch DQA run and its constraint branches, each timed alone
        batch = self.self_times(batch_run) if has_batch else {}
        batch_tasks = tasks.get(batch_run, {})
        out["batch.wall_s"] = (self._wall(batch_run) if has_batch else 0.0,
                               "s")
        for layer in BATCH_LAYERS:
            out[f"batch.{layer}.busy_s"] = (batch.get(layer, 0.0), "s")
            out[f"batch.{layer}.task_s"] = (
                batch_tasks.get(layer, Totals()).task_s, "s")
        parts = {key: 0.0 for key in PARTS}
        rows = 0
        for s in self.spans:
            if s.run == f"probe/{batch_run}":
                if s.layer == GLUE:
                    continue
                key = s.name.split(":part.", 1)[1]
                key = key if key in parts else "other"
                parts[key] += s.end - s.start
                rows += s.rows
        out["plans.constraints.violation_rows"] = (rows, "count")
        for key in PARTS:
            out[f"plans.constraints.{key}.busy_s"] = (parts[key], "s")

        glue = per_layer.get(GLUE, Totals())
        out["op.wall_s"] = (sum(self._wall(r) for r in runs) / n, "s")
        out["op.glue_s"] = (busy.get(GLUE, 0.0) / n, "s")
        out["op.unattributed_task_s"] = (glue.task_s / n, "s")
        out["tracing.overhead_s"] = (
            statistics.median(op["wall"] for op in traced)
            - statistics.median(op["wall"] for op in plain)
            if plain else 0.0, "s")
        return out
