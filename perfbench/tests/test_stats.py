"""Self-tests for the benchmark's arithmetic: run with
`python3 -m unittest discover -s perfbench/tests` from the repository root."""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        p, v, n = stats.tail_percentile(list(range(11)))
        self.assertEqual((v, n), (0, 11))  # only the minimum has ten above it

    def test_exactly_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        p, v, n = stats.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90.0, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_order_free_and_highest(self):
        xs = [5.0] * 30 + [1.0] * 30
        p, v, _ = stats.tail_percentile(list(reversed(xs)))
        self.assertEqual(p, 83)  # ceil(0.83*60)=50 -> 10 beyond; p84 -> 51 -> 9 beyond
        self.assertEqual(v, 5.0)

    def test_every_answer_has_ten_beyond_and_next_does_not(self):
        for n in (11, 20, 37, 99, 250):
            xs = list(range(n))
            p, v, _ = stats.tail_percentile(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10)
            if p < 99:
                import math
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e, layer="call", name="x"):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e,
                "layer": layer, "name": name}

    def test_children_subtracted_once_when_overlapping(self):
        spans = [self.span(1, -1, 0, 100, "pass"),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60), self.span(4, 1, 80, 90)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 10))
        self.assertEqual(st[2], 30)

    def test_grandchildren_do_not_count_against_grandparent(self):
        spans = [self.span(1, -1, 0, 100, "pass"), self.span(2, 1, 0, 50),
                 self.span(3, 2, 0, 40, "exec")]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 10, 40))

    def test_child_clipped_to_parent(self):
        st = stats.self_times([self.span(1, -1, 10, 20, "pass"), self.span(2, 1, 0, 15)])
        self.assertEqual(st[1], 5)

    def test_layer_totals_sum_to_root(self):
        spans = [self.span(1, -1, 0, 1_000_000_000, "workload"),
                 self.span(2, 1, 0, 600_000_000, "pass"),
                 self.span(3, 2, 100_000_000, 500_000_000, "call", "q1"),
                 self.span(4, 3, 100_000_000, 400_000_000, "exec")]
        by = stats.layer_self_seconds(spans)
        self.assertAlmostEqual(sum(by.values()), 1.0)
        self.assertAlmostEqual(by["call:q1"], 0.1)
        self.assertAlmostEqual(by["exec"], 0.3)


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
