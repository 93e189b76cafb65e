"""Tests for tools/merge_sweep.py on small in-test sweep logs.

    python3 -m unittest tools/test_sweep.py            # from the repo root
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import merge_sweep  # noqa: E402

LOG_A = """\
== sweep sf=/tmp/sf10 reps=2 commit=abc1234 date=2026-01-02T03:04:05Z
== batch: q_fast,q_slow
[timeone] q_fast rep1 2.500 s
[timeone] q_fast rep2 2.100 s
[timeone] q_slow rep1 9.000 s
[timeone] q_slow rep2 8.000 s
== exit 0
== batch: q_oom,q_after
[timeone] q_oom rep1 30.000 s
Exception in thread "main" java.lang.OutOfMemoryError: Java heap space
== exit 1
== done
"""

LOG_B = """\
== sweep sf=/tmp/sf10 reps=2 commit=def5678 date=2026-01-03T00:00:00Z
== batch: q_fast,q_new
[timeone] q_fast rep1 1.900 s
[timeone] q_fast rep2 2.300 s
[timeone] q_new rep1 4.000 s
[timeone] q_new rep2 5.000 s
== exit 0
== done
"""


class MergeSweepTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def _log(self, name, text):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            f.write(text)
        return path

    def test_min_over_reps(self):
        rec = merge_sweep.merge([self._log("a.log", LOG_A)])
        self.assertEqual(rec["queries"]["q_fast"], 2.1)
        self.assertEqual(rec["queries"]["q_slow"], 8.0)
        self.assertEqual(rec["sf"], "/tmp/sf10")
        self.assertEqual(rec["commit"], "abc1234")
        self.assertEqual(rec["date"], "2026-01-02T03:04:05Z")

    def test_several_logs_merge(self):
        rec = merge_sweep.merge([self._log("a.log", LOG_A),
                                 self._log("b.log", LOG_B)])
        self.assertEqual(rec["queries"]["q_fast"], 1.9)
        self.assertEqual(rec["queries"]["q_new"], 4.0)
        self.assertEqual(rec["queries"]["q_slow"], 8.0)
        self.assertEqual(rec["n_queries"], 3)
        self.assertEqual(rec["value"], 13.9)
        self.assertEqual(rec["commit"], "abc1234,def5678")
        self.assertEqual(rec["date"], "2026-01-03T00:00:00Z")

    def test_error_line_marks_the_running_query_failed(self):
        rec = merge_sweep.merge([self._log("a.log", LOG_A)])
        self.assertNotIn("q_oom", rec["queries"])
        self.assertIn("OutOfMemoryError", rec["failed"]["q_oom"])
        # the batch's JVM died before the next query ran: failed, not dropped
        self.assertNotIn("q_after", rec["queries"])
        self.assertEqual(rec["failed"]["q_after"], "0/2 reps timed")

    def test_mixed_sf_logs_are_refused(self):
        other = LOG_B.replace("sf=/tmp/sf10", "sf=/tmp/sf100")
        with self.assertRaises(SystemExit):
            merge_sweep.merge([self._log("a.log", LOG_A),
                               self._log("b.log", other)])

    def test_slope_against_a_second_record(self):
        base = {"sf": "/tmp/sf1", "queries": {"q_fast": 0.21, "q_slow": 0.8}}
        base_path = self._log("base.json", json.dumps(base))
        out = os.path.join(self.dir.name, "rec.json")
        merge_sweep.main([self._log("a.log", LOG_A), "-o", out,
                          "--vs", base_path])
        with open(out) as f:
            rec = json.load(f)
        self.assertEqual(rec["slopes"], {"q_fast": 10.0, "q_slow": 10.0})
        self.assertEqual(rec["slope_unit"], "x/decade")
        self.assertEqual(rec["slopes_vs"], "/tmp/sf1")

    def test_slope_is_per_decade_across_two_decades(self):
        rec = {"sf": "/tmp/sf100", "queries": {"q": 40.0}}
        slopes, unit = merge_sweep.slopes(rec, {"sf": "/tmp/sf1",
                                                "queries": {"q": 0.4}})
        self.assertEqual(slopes, {"q": 10.0})
        self.assertEqual(unit, "x/decade")


if __name__ == "__main__":
    unittest.main()
