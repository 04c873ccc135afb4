"""Self-tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PermuteTest(unittest.TestCase):
    names = [f"q{i}" for i in range(40)]

    def test_same_seed_same_order(self):
        self.assertEqual(metrics.permute(self.names, 7),
                         metrics.permute(list(reversed(self.names)), 7))

    def test_order_is_a_permutation(self):
        self.assertEqual(sorted(metrics.permute(self.names, 3)), sorted(self.names))

    def test_seeds_differ(self):
        self.assertNotEqual(metrics.permute(self.names, 1),
                            metrics.permute(self.names, 2))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        # 96 samples: p89 leaves 10.56 beyond, p90 only 9.6
        self.assertEqual(metrics.tail_percentile(96), 89)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(10))
        p, v = metrics.tail([1.0, 2.0, 3.0])
        self.assertEqual((p, v), (50, 2.0))

    def test_value_has_ten_beyond(self):
        xs = [float(i) for i in range(1, 41)]
        p, v = metrics.tail(xs)
        self.assertEqual(p, 75)
        self.assertGreaterEqual(sum(x > v for x in xs), 10)

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(metrics.percentile([0.0, 10.0], 25), 2.5)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="s"):
        return {"id": i, "parent": parent, "name": name,
                "start_ms": start, "end_ms": end}

    def test_children_subtracted_once_when_overlapping(self):
        spans = [self.span(1, 0, 0, 100, "query"),
                 self.span(2, 1, 10, 40, "job"),
                 self.span(3, 1, 30, 60, "job"),
                 self.span(4, 1, 80, 90, "job")]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 50)]
        self.assertEqual(metrics.self_times(spans)[1], 5)

    def test_by_name_sums_seconds(self):
        spans = [self.span(1, 0, 0, 1000, "pass"),
                 self.span(2, 1, 0, 400, "query"),
                 self.span(3, 1, 400, 1000, "query")]
        by = metrics.self_time_by_name(spans)
        self.assertAlmostEqual(by["pass"], 0.0)
        self.assertAlmostEqual(by["query"], 1.0)


class CheckTest(unittest.TestCase):
    rec = {"rows": 3, "digest": "3:a:b:c"}

    def test_digest_and_rows(self):
        self.assertIsNone(metrics.check_output(
            self.rec, {"check": "digest", "rows": 3, "digest": "3:a:b:c"}))
        self.assertIsNotNone(metrics.check_output(
            self.rec, {"check": "digest", "rows": 3, "digest": "3:a:b:d"}))
        self.assertIsNone(metrics.check_output(
            self.rec, {"check": "rows", "rows": 3, "digest": "other"}))
        self.assertIsNotNone(metrics.check_output(
            self.rec, {"check": "rows", "rows": 4, "digest": ""}))
        self.assertIsNotNone(metrics.check_output(self.rec, None))


if __name__ == "__main__":
    unittest.main()
