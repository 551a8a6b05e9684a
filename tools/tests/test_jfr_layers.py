"""Self-test of tools/jfr_layers.py on a fixture in `jfr print --json`'s
layout. Run: python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import jfr_layers  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "jfr_print.json")


class JfrLayersTest(unittest.TestCase):
    def setUp(self):
        with open(FIXTURE, encoding="utf-8") as fh:
            self.layers, self.alloc = jfr_layers.split(fh)

    def test_events_streams_every_event_of_the_document(self):
        with open(FIXTURE, encoding="utf-8") as fh:
            whole = json.load(fh)["recording"]["events"]
        with open(FIXTURE, encoding="utf-8") as fh:
            self.assertEqual(list(jfr_layers.events(fh)), whole)

    def test_executor_samples_go_to_the_innermost_named_layer(self):
        self.assertEqual(self.layers, {"ray-cast": 2, "PIP probe": 1, "tile encode": 1,
                                       "geotag/derive": 1, "hash aggregation": 2, "other": 3})

    def test_allocation_weight_by_class_counts_executor_threads_only(self):
        self.assertEqual(self.alloc, {"scala.Tuple2$mcDD$sp": 4 * 2**20, "[B": 2**20})

    def test_main_reports_counts_and_shares(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            jfr_layers.main(["jfr_layers.py", FIXTURE])
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0], "executor samples: 10")
        self.assertEqual(lines[1].split(), ["ray-cast", "2", "20.0", "%"])
        self.assertEqual(lines[3].split(), ["tile", "encode", "1", "10.0", "%"])
        self.assertEqual(lines[7], "executor allocation weight: 5.0 MiB")
        self.assertEqual(lines[8].split()[:2], ["scala.Tuple2$mcDD$sp", "4.0"])


if __name__ == "__main__":
    unittest.main()
