"""Self-tests for the event-log reader, the span arithmetic and the tail
percentile. Run with ``python3 -m pytest perfbench/tests`` or
``python3 -m unittest discover -s perfbench/tests``."""

from __future__ import annotations

import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog as el  # noqa: E402
from run import tail  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.json")

# an iteration (0) holding a call (1, jobs 0 and 1) and an action (2, job 2);
# job 3 in the fixture belongs to no span
SPANS = [
    {"id": 0, "name": "iteration", "parent": None, "iteration": 1, "start": 999.9, "end": 1001.5},
    {"id": 1, "name": "operators.staypoints", "parent": 0, "iteration": 1, "start": 1000.0, "end": 1000.7},
    {"id": 2, "name": "result.staypoints", "parent": 0, "iteration": 1, "start": 1000.75, "end": 1001.05},
]


class ReaderTest(unittest.TestCase):
    def setUp(self):
        self.parsed = el.parse(el.read_events(FIXTURE))

    def test_jobs_map_to_spans_by_job_group(self):
        spans = {j: job["span"] for j, job in self.parsed["jobs"].items()}
        self.assertEqual(spans, {0: 1, 1: 1, 2: 2, 3: None})
        self.assertAlmostEqual(self.parsed["jobs"][1]["start"], 1000.3)
        self.assertAlmostEqual(self.parsed["jobs"][1]["end"], 1000.6)

    def test_task_metrics_summed_per_stage(self):
        st = self.parsed["stages"][0]
        self.assertEqual(st["tasks"], 2)
        self.assertAlmostEqual(st["wall_s"], 0.38)
        self.assertAlmostEqual(st["executor_run_s"], 0.45)
        self.assertAlmostEqual(st["executor_cpu_s"], 0.3)
        self.assertAlmostEqual(st["shuffle_write_bytes"], 5120)
        self.assertAlmostEqual(st["spill_bytes"], 512)
        py = self.parsed["stages"][1]
        self.assertAlmostEqual(py["shuffle_read_bytes"], 3072)
        self.assertAlmostEqual(py["python_bytes_sent"], 700)
        self.assertAlmostEqual(py["python_bytes_received"], 300)  # written as a string in the log

    def test_attribution_per_span(self):
        a = el.attribute(SPANS, self.parsed)
        call = a[1]
        self.assertEqual((call["own_jobs"], call["jobs"], call["stages"], call["tasks"]), (2, 2, 2, 3))
        self.assertAlmostEqual(call["stage_s"], 0.68)
        self.assertAlmostEqual(call["job_s"], 0.6)  # overlapping jobs count once
        self.assertAlmostEqual(call["driver_gap_s"], 0.1)
        self.assertAlmostEqual(call["executor_run_s"], 0.7)
        self.assertAlmostEqual(call["gc_s"], 0.01)
        # duration minus deserialize, run and result-serialize time: 34 + 64 + 44 ms
        self.assertAlmostEqual(call["scheduler_delay_s"], 0.142)
        action = a[2]
        self.assertEqual(action["jobs"], 1)
        self.assertAlmostEqual(action["driver_gap_s"], 0.1)
        root = a[0]  # inclusive of both children, and not of job 3
        self.assertEqual((root["own_jobs"], root["jobs"], root["tasks"]), (0, 3, 4))
        self.assertAlmostEqual(root["job_s"], 0.8)
        self.assertAlmostEqual(root["driver_gap_s"], 0.8)
        self.assertAlmostEqual(root["executor_run_s"], 0.88)

    def test_jobs_of_a_listed_group_belong_to_the_span(self):
        spans = SPANS[:2] + [dict(SPANS[2], groups=["stream-run-7"])]
        parsed = el.parse(el.read_events(FIXTURE))
        parsed["jobs"][3]["group"] = "stream-run-7"
        parsed["jobs"][3]["start"], parsed["jobs"][3]["end"] = 1000.9, 1001.0
        a = el.attribute(spans, parsed)
        self.assertEqual((a[2]["own_jobs"], a[0]["jobs"]), (2, 4))

    def test_rolling_log_directory_is_read_in_write_order(self):
        with tempfile.TemporaryDirectory() as d:
            sub = os.path.join(d, "eventlog_v2_app")
            os.makedirs(sub)
            for n in ("events_10_app", "events_2_app", "events_1_app", "appstatus_app"):
                with open(os.path.join(sub, n), "w") as fh:
                    if n.startswith("events_"):
                        fh.write('{"Event": "E%s"}\n' % n.split("_")[1])
            self.assertEqual([e["Event"] for e in el.read_events(d)], ["E1", "E2", "E10"])


class SpanArithmeticTest(unittest.TestCase):
    def test_self_time_subtracts_child_coverage(self):
        st = el.self_times(SPANS)
        self.assertAlmostEqual(st[0], 1.6 - 0.7 - 0.3)
        self.assertAlmostEqual(st[1], 0.7)
        self.assertAlmostEqual(st[2], 0.3)

    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
            {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at the parent's end
        ]
        self.assertAlmostEqual(el.self_times(spans)[0], 10.0 - 4.0 - 1.0)

    def test_union_length(self):
        self.assertAlmostEqual(el.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(el.union_length([(0, 2), (1, 3)], lo=1.5, hi=2.5), 1.0)
        self.assertAlmostEqual(el.union_length([(3, 1), (None, 2)]), 0.0)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        self.assertEqual(tail([float(x) for x in range(100)]), (89.0, 90))
        self.assertEqual(tail([float(x) for x in range(20)]), (9.0, 50))
        self.assertEqual(tail([float(x) for x in range(11)]), (0.0, 9))

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100))


if __name__ == "__main__":
    unittest.main()
