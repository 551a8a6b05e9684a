"""Self-test of tools/gate_literals.py on a fixture registry.
Run: python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gate_literals  # noqa: E402

ROOT = os.path.join(HERE, "fixtures", "gate_literals")
SOURCE = "src/main/scala/graft/SparkEntry.scala"


class GateLiteralsTest(unittest.TestCase):
    def setUp(self):
        self.hits = gate_literals.scan(ROOT)

    def test_literals_passed_to_object_calls_are_hits(self):
        self.assertEqual(self.hits, [
            (SOURCE, 8, "Pipeline.run", "2000L"),
            (SOURCE, 9, "Tier.pairs", "0.95"),
            (SOURCE, 19, "Oracle.q2", "0x10"),
            (SOURCE, 22, "Oracle.q4", "1e6"),
        ])

    def test_constants_strings_comments_and_lowercase_calls_are_not_hits(self):
        lits = {h[3] for h in self.hits}
        # Pipeline.Rows / Pipeline.Parts, the SQL text, `// ... 7`, lit(3),
        # helper(s, 9) and limit(5) all pass no literal to an object call
        for quiet in ("7", "3", "9", "5", "40", "1", "2"):
            self.assertNotIn(quiet, lits)

    def test_entry_and_code_outside_the_registry_are_not_scanned(self):
        calls = {h[2] for h in self.hits}
        lines = {h[1] for h in self.hits}
        self.assertNotIn(4, lines)      # entry's Pipeline.run(spark, 5000L)
        self.assertNotIn("Oracle.q9", calls)  # the private val before oracleSql

    def test_main_exits_1_on_a_hit(self):
        with contextlib.redirect_stdout(io.StringIO()) as out:
            self.assertEqual(gate_literals.main(ROOT), 1)
        self.assertIn("4 gate literal(s)", out.getvalue())


if __name__ == "__main__":
    unittest.main()
