"""Benchmark of the KG construction and incremental DQA engine on ``local[4]``.

    python3 perfbench/run.py --workload {construct,incremental,all}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One client drives the engine in a closed
loop: the next op starts only after the previous one has finished and
been checked. The first ops are untimed warm-ups, the first of them
cold; timed ops follow until they add up to ``--seconds`` (at least the
workload's ``timed_ops`` of them, two in a traced run). With
``--trace 0`` the last output line is a JSON object with the end-to-end
metrics; with ``--trace 1`` it holds the per-layer metrics of a traced
run, in which every second timed op is traced (see tracing.py). ``--workload
all`` runs both workloads in one process and prefixes each metric with
its workload name. README.md says why each workload and metric was chosen.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("construct", "incremental")
CORES = 4
MB = 2 ** 20


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (parent pid, start ticks, RSS pages, state) of every
    process, from /proc."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(pid)] = (int(fields[1]), int(fields[19]), int(fields[21]),
                         fields[0])
    return out


def descendants(table: dict, root: int) -> list[int]:
    """Pids of every process below ``root`` in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """High-water RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc since ``reset()``."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        table = proc_table()
        return self._page * sum(table[pid][2] for pid in
                                [os.getpid(), *descendants(table, os.getpid())])

    def reset(self) -> None:
        self.peak = self._tree_rss()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()


def stop_engine(spark) -> None:
    """Stop the session, then the driver JVM and every process started
    under this one (the Python workers), and wait until each has ended,
    so that nothing of a run outlives it."""
    try:
        if spark is not None:
            spark.stop()
    finally:
        from pyspark import SparkContext

        table = proc_table()
        started = {pid: table[pid][1]
                   for pid in descendants(table, os.getpid())}
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end_processes(started)


def end_processes(started: dict[int, int], grace: float = 10.0) -> None:
    """SIGTERM, then after ``grace`` seconds SIGKILL, each process of
    ``started`` (pid -> start ticks) that still runs, until none does."""
    sig, deadline = signal.SIGTERM, time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        table = proc_table()
        alive = [pid for pid, ticks in started.items()
                 if pid in table and table[pid][1] == ticks
                 and table[pid][3] not in "ZX"]
        if not alive:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, signalled = signal.SIGKILL, set()
        for pid in alive:
            if pid not in signalled:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                signalled.add(pid)
        time.sleep(0.05)


def start_session(work: str, trace_dir: str | None):
    """The session the engine's users get, plus one trivial pandas-UDF job
    so that the JVM and the Python workers are both up."""
    from shacl_dqa_prototype_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": trace_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.range(CORES, numPartitions=CORES).mapInPandas(
        lambda batches: batches, "id long").collect()
    return spark


def run_workload(spark, name: str, seed: int, seconds: float, work: str,
                 tracer, rss: RssSampler) -> dict:
    """Prepare, warm up, then run timed ops until they add up to
    ``seconds``. A traced run traces every second timed op."""
    from workloads import WORKLOADS

    rss.reset()
    w = WORKLOADS[name](seed, os.path.join(work, name))
    t0 = time.perf_counter()
    w.prepare(spark)
    prepare_s = time.perf_counter() - t0

    ops: list[dict] = []
    warmup_s: list[float] = []
    warmup_failed = 0
    i = measured = 0
    min_ops = w.timed_ops if tracer is None else 2
    while i < w.max_ops and (i < w.warmup_ops + min_ops
                             or measured < seconds):
        # nothing carries between ops: no cached result, and no garbage of
        # the previous op left for a collection inside this op's timer
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        run = f"{name}/op{i}"
        # plain, traced, ...: the plain op of each pair gives the
        # untraced time the tracing overhead is measured against
        traced = tracer is not None and (i - w.warmup_ops) % 2 == 1
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.op(run):
                    w.op(i)
            else:
                w.op(i)
            wall = time.perf_counter() - t0
            w.check(i)
            ok = True
        except Exception:  # an op that raises counts as failed
            wall = time.perf_counter() - t0
            print(f"[{name}] op {i} failed:", file=sys.stderr)
            traceback.print_exc()
            ok = False
        if i < w.warmup_ops:
            warmup_s.append(round(wall, 3))
            warmup_failed += not ok
        else:
            measured += wall
            ops.append({"i": i, "run": run, "traced": traced, "ok": ok,
                        "wall": wall, "triples": w.triples,
                        "counters": dict(w.counters)})
        i += 1
    final_ok = True
    t0 = time.perf_counter()
    try:
        w.finish(tracer)
    except Exception:
        print(f"[{name}] final check failed:", file=sys.stderr)
        traceback.print_exc()
        final_ok = False
    finish_s = time.perf_counter() - t0
    shutil.rmtree(w.work, ignore_errors=True)
    return {"name": name, "why": w.why, "ops": ops, "final_ok": final_ok,
            "prepare_s": prepare_s, "finish_s": finish_s,
            "warmup_s": warmup_s,
            "warmup_failed": warmup_failed,
            "peak_rss": rss.peak}


def failed_ops(res: dict) -> int:
    """Ops, the warm-up included, that raised or failed their check; a
    failed final check fails every op of the run."""
    if not res["final_ok"]:
        return len(res["ops"]) + len(res["warmup_s"])
    return sum(not op["ok"] for op in res["ops"]) + res["warmup_failed"]


def end_to_end(res: dict, setup_s: float) -> dict[str, tuple[float, str]]:
    ok = [op for op in res["ops"] if op["ok"]]
    out = {"setup_s": (setup_s, "s")}
    if ok:
        op_s = statistics.median(op["wall"] for op in ok)
        triples = statistics.median(op["triples"] for op in ok)
        out["op_p50_s"] = (op_s, "s")
        out["triples_per_s"] = (triples / op_s, "triples/s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "shacl_dqa_prototype_spark")):
        print("engine sources not found next to the benchmark; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # pandas-UDF workers inherit the environment of the JVM started below
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")

    tracer = None
    if args.trace:
        import workloads  # noqa: F401  (bind the names install() rewraps)
        from tracing import Tracer

        tracer = Tracer(os.path.join(work, "eventlog"))
        tracer.install()
    # sampling /proc competes with the driver for a core: only traced runs
    # report memory
    rss = RssSampler()
    if tracer:
        rss.start()
    # a driver that stops the run with SIGTERM still gets the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark, stopped = None, False
    try:
        t_start = process_start_epoch()
        if tracer:
            with tracer.op("setup"):
                spark = start_session(work, tracer.log_dir)
        else:
            spark = start_session(work, None)
        setup_s = time.time() - t_start

        names = WORKLOAD_NAMES if args.workload == "all" else [args.workload]
        results = [run_workload(spark, n, args.seed, args.seconds, work,
                                tracer, rss) for n in names]
        rss.stop()
        stopped = True
        stop_engine(spark)

        metrics: dict[str, dict] = {}
        attempted = failed = 0
        for res in results:
            n_failed = failed_ops(res)
            n_ops = len(res["ops"]) + len(res["warmup_s"])
            attempted += n_ops
            failed += n_failed
            print(f"[{res['name']}] {res['why']}")
            print(f"[{res['name']}] n={len(res['ops'])} "
                  f"failed_ops_frac={n_failed / n_ops} "
                  f"warmup_s={res['warmup_s']} "
                  f"op_s={[round(op['wall'], 3) for op in res['ops']]} "
                  f"prepare_s={res['prepare_s']:.3f} "
                  f"finish_s={res['finish_s']:.3f}")
            if tracer and any(op["traced"] and op["ok"] for op in res["ops"]):
                vals = tracer.layer_metrics(res["ops"], f"{res['name']}/batch")
                vals["process.peak_rss_mb"] = (res["peak_rss"] / MB, "MB")
            elif tracer:
                vals = {}
            else:
                vals = end_to_end(res, setup_s)
            prefix = f"{res['name']}." if args.workload == "all" else ""
            for k, (v, unit) in vals.items():
                metrics[prefix + k] = {"value": v, "unit": unit}
        if tracer:
            tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                     f"spans_{args.workload}_{args.seed}.jsonl"))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        rss.stop()
        if not stopped:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
