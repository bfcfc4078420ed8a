"""Unit tests of the benchmark's own arithmetic and result check.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_stay_above_the_reported_one(self):
        xs = list(range(1, 22))  # 21 samples, 1..21
        value, pct, n = metrics.tail(reversed(xs))
        self.assertEqual(value, 11)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 11 / 21)
        self.assertEqual(n, 21)

    def test_twenty_samples_give_the_median_rank(self):
        value, pct, _ = metrics.tail(range(20))
        self.assertEqual(value, 9)
        self.assertAlmostEqual(pct, 50.0)

    def test_fewer_than_twenty_fall_back_to_the_median(self):
        # the rule's percentile would sit below the median
        self.assertEqual(metrics.tail([5, 1, 3]), (3, 50.0, 3))
        self.assertEqual(metrics.tail(range(19))[:2], (9, 50.0))
        self.assertEqual(metrics.tail(range(10))[:2], (4.5, 50.0))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end):
        return dict(id=id, parent=parent, start=start, end=end)

    def test_overlapping_children_count_once(self):
        spans = [self.span("q", None, 0, 100),
                 self.span("a", "q", 10, 30),
                 self.span("b", "q", 20, 50),
                 self.span("c", "q", 70, 80)]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs["q"], 100 - 50)
        self.assertEqual(selfs["a"], 20)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span("q", None, 0, 100),
                 self.span("late", "q", 90, 130),
                 self.span("early", "q", -20, 5)]
        self.assertEqual(metrics.self_times(spans)["q"], 100 - 15)

    def test_grandchildren_do_not_count_against_the_grandparent(self):
        spans = [self.span("q", None, 0, 100),
                 self.span("job", "q", 0, 40),
                 self.span("stage", "job", 0, 40)]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs["q"], 60)
        self.assertEqual(selfs["job"], 0)


def traced_pass():
    """A traced pass of one query: two construct jobs, from Tables.load and
    from Staging.stageToDisk, then one execute job."""
    def stage(id, job, submit, complete, **kw):
        st = dict(id=id, attempt=0, job=job, submit=submit, complete=complete,
                  tasks=2, failed=0, cpu_ns=0, run_ms=0,
                  run_max_ms=0, run_median_ms=0, queue_ms=0, result_bytes=0,
                  shuffle_read=0, shuffle_write=0, input=0, spill=0)
        st.update(kw)
        return st
    return {
        "index": 3, "kind": "T", "cpu_s": 5.0, "gc_s": 0.1,
        "heap_peak_mb": 100.0,
        "funnel_builds": 1, "fit_builds": 0, "shared_builds": 1,
        "queries": [{"name": "q_x", "c0": 1000.0, "c1": 1400.0, "s1": 2000.0,
                     "err": None}],
        "trace": {
            "jobs": [
                {"id": 1, "start": 1010.0, "end": 1110.0, "query": "3:q_x",
                 "phase": "construct", "frame": "graft.sources.Tables$.load(Tables.scala:50)"},
                {"id": 2, "start": 1200.0, "end": 1300.0, "query": "3:q_x",
                 "phase": "construct",
                 "frame": "graft.ops.Staging$.stageToDisk(Staging.scala:46)"},
                {"id": 3, "start": 1500.0, "end": 1900.0, "query": "3:q_x",
                 "phase": "execute", "frame": ""},
                # a job of another pass is not counted
                {"id": 4, "start": 1500.0, "end": 1600.0, "query": "2:q_x",
                 "phase": "execute", "frame": ""},
            ],
            "stages": [
                stage(1, 1, 1010.0, 1110.0, result_bytes=1048576),
                stage(2, 2, 1200.0, 1300.0),
                stage(3, 3, 1500.0, 1700.0, run_ms=600, run_max_ms=400,
                      run_median_ms=200, cpu_ns=500000000, queue_ms=10,
                      shuffle_write=2097152),
                stage(4, 3, 1700.0, 1900.0, run_ms=400, run_max_ms=200,
                      run_median_ms=200, cpu_ns=300000000, shuffle_read=2097152),
            ],
            "plans": [{"phases": {
                "analysis": [1400.0, 1410.0], "optimization": [1410.0, 1440.0],
                "planning": [1440.0, 1450.0]}}],
            "stored_bytes": 3145728,
        },
    }


class AttributionTest(unittest.TestCase):
    def test_layer_of_first_graft_frame(self):
        self.assertEqual(metrics.layer_of("graft.sources.Tables$.load(Tables.scala:50)"),
                         "sources")
        self.assertEqual(metrics.layer_of(
            "graft.ops.Staging$.stageToDisk(Staging.scala:46)"), "ops")
        self.assertEqual(metrics.layer_of(
            "graft.ml.Clustering$.fitPredict(Clustering.scala:82)"), "ml")
        self.assertEqual(metrics.layer_of(
            "graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:70)"), "entry")
        self.assertEqual(metrics.layer_of(""), "entry")

    def test_construct_jobs_are_charged_to_their_layer(self):
        m, spans, selfs = metrics.layer_metrics(traced_pass(), cores=4)
        self.assertEqual(m["sources.jobs"], 1)
        self.assertAlmostEqual(m["sources.busy_s"], 0.1)
        self.assertEqual(m["ops.staging_jobs"], 1)
        self.assertEqual(m["ml.jobs"], 0)
        self.assertEqual(m["entry.construct_jobs"], 2)
        self.assertEqual(m["entry.construct_stages"], 2)
        self.assertAlmostEqual(m["entry.construct_s"], 0.4)
        # 400 ms of construct, 200 ms of it under a job
        self.assertAlmostEqual(m["entry.no_job_s"], 0.2)
        self.assertAlmostEqual(m["entry.collect_mb"], 1.0)
        self.assertAlmostEqual(m["ops.staged_mb"], 3.0)

    def test_execute_phase(self):
        m, spans, _ = metrics.layer_metrics(traced_pass(), cores=4)
        self.assertAlmostEqual(m["plan.plan_s"], 0.05)
        self.assertAlmostEqual(m["exec.exec_s"], 0.55)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertAlmostEqual(m["exec.task_cpu_s"], 0.8)
        self.assertAlmostEqual(m["exec.task_run_s"], 1.0)
        self.assertAlmostEqual(m["exec.core_util"], 1.0 / (0.55 * 4))
        self.assertAlmostEqual(m["exec.shuffle_read_mb"], 2.0)
        self.assertAlmostEqual(m["exec.task_skew"], (600 * 2 + 400 * 1) / 1000.0)
        self.assertAlmostEqual(m["jvm.non_task_cpu_s"], 5.0 - 0.8)
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents["p3:q_x/job3"], "p3:q_x/execute")
        self.assertEqual(parents["p3:q_x/stage4.0"], "p3:q_x/job3")
        self.assertNotIn("p3:q_x/job4", parents)


class VerdictTest(unittest.TestCase):
    def test_verdicts(self):
        a = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(a, a, 0.1, True)[0], "unchanged")
        self.assertEqual(compare.verdict(a, [x * 0.8 for x in a], 0.1, True)[:2],
                         ("improved", 10))
        self.assertEqual(compare.verdict(a, [x * 1.2 for x in a], 0.1, True)[0], "worse")
        noisy = [5.0, 15.0] * 5
        self.assertEqual(compare.verdict(a, noisy, 0.1, True)[0], "unresolved")
        # higher is better: a drop is a loss
        self.assertEqual(compare.verdict(a, [x * 0.8 for x in a], 0.1, False)[0], "worse")


class CheckTest(unittest.TestCase):
    def test_a_changed_value_or_row_fails_the_check(self):
        import tempfile
        import pandas as pd
        want = pd.DataFrame({"b": [1.5, 2.5], "a": ["x", "y"]})
        rows, sha = oracle.digest(want)
        expected = {"q_same": {"rows": rows, "sha256": sha},
                    "q_value": {"rows": rows, "sha256": sha},
                    "q_rows": {"rows": rows, "sha256": sha}}
        with tempfile.TemporaryDirectory() as d:
            def dump(q, df):
                os.makedirs(os.path.join(d, q))
                df.to_parquet(os.path.join(d, q, "part-0.parquet"))
            # row order and column order do not matter
            dump("q_same", pd.DataFrame({"a": ["y", "x"], "b": [2.5, 1.5]}))
            dump("q_value", pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.5000001]}))
            dump("q_rows", want.head(1))
            fails = oracle.check(d, expected, ["q_same", "q_value", "q_rows", "q_none"])
        self.assertEqual(sorted(fails), ["q_none", "q_rows", "q_value"])
        self.assertEqual(fails["q_value"], "value mismatch")


if __name__ == "__main__":
    unittest.main()
