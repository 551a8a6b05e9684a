"""Self-test of tools/profile_diff.py on two tiny fixture profiles.
Run: python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import profile_diff  # noqa: E402

BEFORE = os.path.join(HERE, "fixtures", "profile_before.jsonl")
AFTER = os.path.join(HERE, "fixtures", "profile_after.jsonl")


class ProfileDiffTest(unittest.TestCase):
    def setUp(self):
        self.before, self.bfail = profile_diff.load(BEFORE)
        self.after, self.afail = profile_diff.load(AFTER)
        self.rows = {(r[0], r[1]): r for r in profile_diff.diff(self.before, self.after)}

    def test_load_takes_the_median_over_reps_and_counts_failures(self):
        self.assertEqual(self.before["qa"]["construct"]["s"], 2.0)
        self.assertEqual(self.before["qa"]["construct"]["cpu_s"], 3.0)
        self.assertEqual((self.bfail, self.afail), (0, 1))
        self.assertEqual(self.after["qb"]["construct"]["s"], 0.25)

    def test_per_query_phase_deltas(self):
        # (query, phase, before s, after s, Δs, Δjobs, Δstages, Δtasks, Δcpu_s)
        self.assertEqual(self.rows[("qa", "construct")], ("qa", "construct", 2.0, 1.5, -0.5, -1, -1, -2, -2.0))
        self.assertEqual(self.rows[("qa", "exec")], ("qa", "exec", 2.0, 2.5, 0.5, 0, 1, 0, 0.5))
        self.assertEqual(self.rows[("qb", "exec")][4:], (0.0, 0, 0, 0, 0.0))
        self.assertNotIn(("qgone", "exec"), self.rows)

    def test_totals_cover_queries_in_both_files(self):
        self.assertEqual(self.rows[("TOTAL", "construct")],
                         ("TOTAL", "construct", 2.5, 1.75, -0.75, -1, -1, -2, -2.0))
        self.assertEqual(self.rows[("TOTAL", "exec")][4:], (0.5, 0, 1, 0, 0.5))

    def test_main_prints_table_and_one_sided_queries(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            profile_diff.main(["profile_diff.py", BEFORE, AFTER])
        text = out.getvalue()
        self.assertIn("only in before: qgone", text)
        self.assertIn("failed reps: before 0, after 1", text)
        self.assertEqual(sum(line.startswith("TOTAL") for line in text.splitlines()), 3)


if __name__ == "__main__":
    unittest.main()
