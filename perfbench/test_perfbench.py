#!/usr/bin/env python3
"""Tests of the benchmark's own rules.

    python3 perfbench/test_perfbench.py

The event-generator test builds the benchmark (as a run does) and runs the
Scala checks in perfbench/scala/SelfTest.scala; the others need no JVM.
"""
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import diff  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)

    def test_tail_keeps_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p91 only 9
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90, 90))
        # 30 samples: the highest level with 10 above is p66 (rank 20)
        p, v = metrics.tail_percentile(list(range(1, 31)))
        self.assertEqual((p, v), (66, 20))
        self.assertEqual(sum(1 for x in range(1, 31) if x > v), 10)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail_percentile(list(range(15))))

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)


class CallSiteAttribution(unittest.TestCase):
    SITE = "\n".join([
        "graft.operators.Hierarchy$.closure(Hierarchy.scala:131)",
        "graft.sources.EtlPipeline$.run(EtlPipeline.scala:88)",
        "graft.Main$.run(Main.scala:165)",
        "perfbench.EtlClosure$.runMode(EtlClosure.scala:120)",
    ])

    def test_first_graft_frame_wins(self):
        self.assertEqual(metrics.graft_file(self.SITE), "Hierarchy.scala")

    def test_frames_outside_graft_are_skipped(self):
        site = "perfbench.QueryLoop$.sample(QueryLoop.scala:130)\n" + \
               "graft.sources.ParquetUpsertSink$.upsert(ParquetUpsertSink.scala:90)"
        self.assertEqual(metrics.graft_file(site), "ParquetUpsertSink.scala")

    def test_class_loader_prefix(self):
        site = "app//graft.sources.ExtractBookmark$.extractSince(ExtractBookmark.scala:64)"
        self.assertEqual(metrics.graft_file(site), "ExtractBookmark.scala")

    def test_no_graft_frame(self):
        self.assertIsNone(metrics.graft_file("perfbench.BenchMain$.main(BenchMain.scala:3)"))
        self.assertIsNone(metrics.graft_file(""))
        self.assertIsNone(metrics.graft_file(None))

    def test_jobs_attributed_in_per_layer(self):
        raw = traced_raw()
        m = metrics.per_layer(raw)
        self.assertEqual(m["hierarchy.rounds"], 4)
        self.assertAlmostEqual(m["hierarchy.job_s"], 0.5)
        self.assertEqual(m["hierarchy.shuffle_bytes"], 310)
        self.assertEqual(m["sink.job_s"], 0.5)
        # the set-up job is not part of the measured run
        self.assertEqual(m["exec.jobs"], 5)
        # stage 2 is listed again by job 3 (skipped there): counted once
        self.assertEqual(m["exec.stages"], 5)
        self.assertEqual(m["exec.tasks"], 20)


class ErrorAccounting(unittest.TestCase):
    def test_failures_and_mismatches_count(self):
        raw = {"samples": [
            {"kind": "query", "ok": True, "check": True},
            {"kind": "query", "ok": False, "check": None},    # raised
            {"kind": "query", "ok": True, "check": False},    # wrong answer
            {"kind": "batch", "ok": True},                    # a unit, not an op
            {"kind": "mode", "ok": True},
        ], "checks": [{"name": "a", "ok": True}, {"name": "b", "ok": False}]}
        self.assertEqual(metrics.error_counts(raw), (6, 3))

    def test_clean_run(self):
        raw = {"samples": [{"kind": "mode", "ok": True}], "checks": [{"ok": True}]}
        self.assertEqual(metrics.error_counts(raw), (2, 0))


class CounterDiff(unittest.TestCase):
    def result(self, **over):
        layers = {k: 10 for k in metrics.EXACT_COUNTERS}
        layers["plan.s"] = 1.0
        layers.update(over)
        return {"workload": "w", "seed": 1, "per_layer": layers}

    def test_identical_counters(self):
        lines, changed = diff.compare(self.result(), self.result(**{"plan.s": 2.0}))
        self.assertFalse(changed)
        self.assertIn("no plan change", lines[0])

    def test_counter_change_is_a_plan_change(self):
        lines, changed = diff.compare(self.result(), self.result(**{"exec.stages": 11}))
        self.assertTrue(changed)
        self.assertTrue(any("PLAN CHANGE" in l and "exec.stages" in l for l in lines))


class EventGenerator(unittest.TestCase):
    def test_scala_checks(self):
        classes = run.build()
        cmd = ["java", "-XX:-UsePerfData", "-cp", "%s:%s/*" % (classes, run.spark_jars()),
               "perfbench.SelfTest"]
        p = subprocess.run(cmd, capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])


def traced_raw():
    """A traced record: Hierarchy jobs (two found through their SQL
    execution), a sink job and a set-up job."""
    def stage(i, tasks, shuffle):
        return {"id": i, "tasks": tasks, "run_ms": 100, "shuffle_read": shuffle,
                "shuffle_write": 0, "shuffle_write_records": 1, "spill": 0,
                "task_max_ms": 10, "task_med_ms": 5}
    return {
        "workload": "etl-closure", "cores": 4,
        "sites": ["graft.operators.Hierarchy$.closure(Hierarchy.scala:131)",
                  "graft.sources.ParquetUpsertSink$.upsert(ParquetUpsertSink.scala:90)",
                  "org.apache.spark.sql.execution.SQLExecution$.withThreadLocalCaptured(SQLExecution.scala:329)"],
        "jobs": [
            {"id": 0, "site": 1, "span": "setup/main.closure", "t0": 0, "t1": 900, "stages": [0]},
            {"id": 1, "site": 0, "span": "batch/main.closure", "t0": 1000, "t1": 1100, "stages": [1]},
            {"id": 2, "site": 0, "span": "batch/main.closure", "t0": 1100, "t1": 1300, "stages": [2]},
            {"id": 3, "site": 1, "span": "batch/main.closure", "t0": 1300, "t1": 1800, "stages": [2, 3]},
            # query stages run on Spark's threads: their own call sites have
            # no engine frame, the action that started SQL execution 7 does
            {"id": 4, "site": 2, "sql": "7", "span": "batch/main.closure", "t0": 1800, "t1": 1900, "stages": [4]},
            {"id": 5, "site": 2, "sql": "7", "span": "batch/main.closure", "t0": 1900, "t1": 2000, "stages": [5]},
        ],
        "sql_sites": {"7": 0},
        "stages": [stage(0, 4, 50), stage(1, 4, 100), stage(2, 4, 200), stage(3, 4, 0),
                   stage(4, 4, 10), stage(5, 4, 0)],
        "spans": [], "samples": [{"kind": "batch", "t0": 1000, "s": 1.0, "ok": True}],
        "checks": [], "phases": {}, "counters": {},
    }


if __name__ == "__main__":
    unittest.main()
