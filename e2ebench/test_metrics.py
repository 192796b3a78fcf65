"""Tests of the pure metric helpers: python3 -m unittest discover -s e2ebench -p 'test_*.py'"""

import unittest

import metrics as M


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_beyond(self):
        self.assertEqual(M.min_samples(0.95), 200)
        xs = list(range(1, 201))  # 200 samples: rank 190, ten above it
        self.assertEqual(M.percentile(xs, 0.95), 190)
        with self.assertRaises(ValueError):
            M.percentile(xs[:199], 0.95)

    def test_median_rank_and_order(self):
        xs = [5, 1, 4, 2, 3] * 5  # 25 samples
        self.assertEqual(M.percentile(xs, 0.5), 3)
        self.assertEqual(M.percentile(sorted(xs), 0.5), M.percentile(xs, 0.5))

    def test_empty(self):
        with self.assertRaises(ValueError):
            M.percentile([], 0.5)


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # Two requests due at 0 and 10 ms; the loop was busy until 30 ms,
        # picked both up then and finished at 50 ms.
        lat, queue = M.open_loop([(0, 30_000_000, 50_000_000),
                                  (10_000_000, 30_000_000, 50_000_000)])
        self.assertEqual(lat, [50.0, 40.0])
        self.assertEqual(queue, [30.0, 20.0])

    def test_lateness_of_idle_wakes(self):
        self.assertEqual(M.lateness([(100, 2_000_100), (5, 5)]), [2.0, 0.0])
        self.assertEqual(M.lateness([(10, 5)]), [0.0])  # early wake is not late


class SpanSelfTime(unittest.TestCase):
    def span(self, name, s, e, parent=-1):
        return {"name": name, "start_ns": s, "end_ns": e, "parent": parent, "req": -1}

    def test_self_time_subtracts_covered_children(self):
        spans = [self.span("pass", 0, 100),
                 self.span("query", 10, 60, 0),
                 self.span("query", 50, 90, 0),  # overlaps the first child
                 self.span("build", 20, 30, 1)]
        st = M.self_times(spans)
        self.assertEqual(st["pass"], 100 - 80)  # children cover 10..90
        self.assertEqual(st["query"], (50 - 10) + 40)
        self.assertEqual(st["build"], 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span("a", 0, 10), self.span("b", 5, 20, 0)]
        self.assertEqual(M.self_times(spans)["a"], 5)

    def test_union_and_clip(self):
        self.assertEqual(M.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(M.clip([(0, 5), (6, 9), (20, 30)], 2, 8), [(2, 5), (6, 8)])


if __name__ == "__main__":
    unittest.main()
