"""Unit test of the event-log reader on a small synthetic rolling log.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import attribute, log_files, read_tasks  # noqa: E402

APP = "local-1700000000000"


def job_start(job: int, t_ms: int, stages: list[int]) -> dict:
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t_ms, "Stage IDs": stages}


def task_end(stage: int, run_ms: int, *, cpu_ns: int = 0, gc_ms: int = 0,
             shuffle: int = 0, spill: int = 0, result: int = 0,
             written: int = 0, launch_ms: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Result Size": result,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": written},
        },
    }


class EventLogTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        app = os.path.join(self.tmp.name, f"eventlog_v2_{APP}")
        os.makedirs(app)
        # rolled files must be read in numeric order: 2 before 10
        files = {
            1: [job_start(0, 1_000, [0]),
                task_end(0, 500, cpu_ns=400_000_000, gc_ms=20)],
            2: [job_start(1, 2_500, [1, 2]),
                task_end(1, 300, shuffle=1_000, spill=64),
                task_end(2, 200, result=4_096)],
            10: [job_start(2, 9_000, [2, 3]),   # stage 2 skipped here
                 task_end(3, 700, written=2_048),
                 task_end(99, 50, launch_ms=20_000)],  # unknown stage
        }
        for n, events in files.items():
            with open(os.path.join(app, f"events_{n}_{APP}"), "w") as f:
                f.write("\n".join(json.dumps(e) for e in events) + "\n")
        open(os.path.join(app, f"appstatus_{APP}"), "w").close()
        open(os.path.join(app, f".appstatus_{APP}.crc"), "w").close()

    def tearDown(self):
        self.tmp.cleanup()

    def test_rolling_layout(self):
        names = [os.path.basename(p) for p in log_files(self.tmp.name)]
        self.assertEqual(names, [f"events_{n}_{APP}" for n in (1, 2, 10)])

    def test_tasks_carry_their_jobs_submission_time(self):
        tasks = read_tasks(self.tmp.name)
        self.assertEqual([t.job for t in tasks], [0, 1, 1, 2, -1])
        self.assertEqual([t.submitted for t in tasks],
                         [1.0, 2.5, 2.5, 9.0, 20.0])
        self.assertAlmostEqual(tasks[0].cpu_s, 0.4)
        self.assertAlmostEqual(tasks[0].gc_s, 0.02)

    def test_attribute_innermost_span(self):
        tasks = read_tasks(self.tmp.name)
        # span 0 holds span 1; span 2 is a later sibling
        spans = [(0.5, 3.0), (2.0, 3.0), (8.0, 10.0)]
        per_span, outside = attribute(tasks, spans)
        self.assertAlmostEqual(per_span[0].task_s, 0.5)
        self.assertAlmostEqual(per_span[1].task_s, 0.5)
        self.assertEqual(per_span[1].shuffle_write, 1_000)
        self.assertEqual(per_span[1].spill, 64)
        self.assertEqual(per_span[1].result, 4_096)
        self.assertEqual(per_span[1].jobs, {1})
        self.assertEqual(per_span[2].written, 2_048)
        self.assertAlmostEqual(outside.task_s, 0.05)


if __name__ == "__main__":
    unittest.main()
