"""Self-tests of the benchmark harness's rules.

Run from the repository root:  python3 -m unittest discover perfbench/tests

All but the last test need no JVM; `test_failing_op_counts_in_fail_ratio`
builds the harness (as `perfbench/run.py` does) and runs its Spark-free
self-test main.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def span(sid, start, end, parent=None, layer="ops.Test", name=None):
    return {"id": sid, "name": name or sid, "layer": layer,
            "trace": "t/p0", "parent": parent, "start_ms": start,
            "end_ms": end}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = list(range(1, 101))          # 100 samples
        self.assertEqual(metrics.tail_percentile(vals), (90, 90, 100))
        vals = list(range(1, 41))           # 40 samples: p75 has 10 beyond
        self.assertEqual(metrics.tail_percentile(vals), (75, 30, 40))

    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)

    def test_nearest_rank_median(self):
        self.assertEqual(metrics.nearest_rank([5, 1, 3], 50), 3)
        self.assertEqual(metrics.nearest_rank([4, 1, 3, 2], 50), 2)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [span("p", 0, 100, layer="pass", name="pass0"),
                 span("a", 10, 50, "p"), span("b", 30, 70, "p"),
                 span("c", 60, 65, "b")]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["p"], 100 - 60)   # children cover 10..70
        self.assertAlmostEqual(st["a"], 40)
        self.assertAlmostEqual(st["b"], 40 - 5)
        self.assertAlmostEqual(st["c"], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [span("p", 0, 10), span("a", 5, 20, "p")]
        self.assertAlmostEqual(metrics.self_times(spans)["p"], 5)


class Attribution(unittest.TestCase):
    def test_local_property_and_closed_span(self):
        spans = [span("s1", 100, 200), span("s2", 200, 300)]
        stages = [
            {"stage": 1, "span": "s1", "submit_ms": 150, "run_ms": 7},
            # names s1, which closed at 200: a thread that outlived its
            # caller submitted it
            {"stage": 2, "span": "s1", "submit_ms": 250, "run_ms": 5},
            {"stage": 3, "span": None, "submit_ms": 250, "run_ms": 3},
            {"stage": 4, "span": "gone", "submit_ms": 250, "run_ms": 2},
            {"stage": 5, "span": "s2", "submit_ms": 260, "run_ms": 11},
        ]
        owned, lost = metrics.attribute(stages, spans, "submit_ms")
        self.assertEqual([s["stage"] for s in owned["s1"]], [1])
        self.assertEqual([s["stage"] for s in owned["s2"]], [5])
        self.assertEqual(sorted(s["stage"] for s in lost), [2, 3, 4])
        self.assertEqual(sum(s["run_ms"] for s in lost), 10)


class FailRatio(unittest.TestCase):
    def record(self):
        return {"calls": [
            {"pass": 0, "name": "a", "ok": True},
            {"pass": 0, "name": "b", "ok": False},
            {"pass": 1, "name": "a", "ok": True},
            {"pass": 1, "name": "b", "ok": False}],
            "failures": [
                {"phase": "pass", "name": "b"}, {"phase": "pass", "name": "b"},
                {"phase": "pass", "name": "newSession conf x"}],
            "checks": [{"name": "a", "ok": True}, {"name": "b", "ok": False}]}

    def test_counts(self):
        # 4 calls + 2 checks + 1 pass-level step; 2 failed calls, the
        # conf step, and one output mismatch
        self.assertEqual(metrics.fail_counts(self.record()), (7, 4))

    def test_failing_op_counts_in_fail_ratio(self):
        import run
        classes = run.build()
        out = subprocess.run(
            ["java", "-cp", classes + os.pathsep
             + os.path.join(run.SPARK_JARS, "*"), "perfbench.SelfTest"],
            check=True, stdout=subprocess.PIPE).stdout.decode()
        rec = json.loads(out.strip().splitlines()[-1])
        self.assertEqual([f["class"] for f in rec["failures"]],
                         ["java.lang.IllegalStateException"])
        self.assertEqual(rec["failures"][0]["name"], "boom")
        self.assertEqual(metrics.fail_counts(rec), (3, 1))
        # the failure did not stop the pass: the next call still ran
        self.assertEqual([c["name"] for c in rec["calls"]],
                         ["ok_before", "boom", "ok_after"])


if __name__ == "__main__":
    unittest.main()
