"""Self-test of tools/reach.py on a small fixture tree.
Run: python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import reach  # noqa: E402

ROOT = os.path.join(HERE, "fixtures", "reach")


class ReachTest(unittest.TestCase):
    def setUp(self):
        self.hits = reach.scan(ROOT)
        self.names = {h[2] for h in self.hits}

    def test_dead_def_is_a_hit_though_a_comment_names_it(self):
        self.assertIn(("src/main/scala/app/Core.scala", 6, "dead"), self.hits)

    def test_def_only_specs_call_is_a_hit(self):
        self.assertIn("onlySpecs", self.names)
        self.assertNotIn("used", self.names)
        self.assertNotIn("live", self.names)

    def test_override_and_main_object_are_not_hits(self):
        self.assertNotIn("toString", self.names)
        self.assertNotIn("Main", self.names)
        self.assertNotIn("Harness", self.names)
        self.assertEqual(self.names, {"dead", "onlySpecs", "kept"})

    def test_kept_entry_is_not_reported(self):
        unlisted, stale = reach.check(self.hits, {"kept": "why", "dead": "why", "onlySpecs": "why"})
        self.assertEqual((unlisted, stale), ([], []))
        unlisted, _ = reach.check(self.hits, {"dead": "why", "onlySpecs": "why"})
        self.assertEqual([h[2] for h in unlisted], ["kept"])

    def test_stale_keep_entry_is_reported(self):
        keep = {"kept": "why", "dead": "why", "onlySpecs": "why", "used": "no longer a hit"}
        self.assertEqual(reach.check(self.hits, keep), ([], ["used"]))


if __name__ == "__main__":
    unittest.main()
