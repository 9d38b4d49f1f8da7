"""The benchmark's own checks. Run: python3 -m unittest discover -s perfbench"""
import unittest

import stats


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10_000), 99.9)
        self.assertEqual(stats.tail_percentile(1_000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(5), 50.0)
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (50.0, 2.0, 3))

    def test_tail_reports_value_and_sample_count(self):
        values = [float(i) for i in range(1, 101)]
        p, v, n = stats.tail(values)
        self.assertEqual((p, n), (90.0, 100))
        self.assertAlmostEqual(v, 90.1)
        self.assertGreaterEqual(sum(x > v for x in values), 10)

    def test_percentile_and_median(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50), 3.0)
        self.assertEqual(stats.percentile([1.0, 2.0], 100), 2.0)
        with self.assertRaises(ValueError):
            stats.median([])


class Digest(unittest.TestCase):
    COLS = ["z", "a"]

    def test_row_order_does_not_matter(self):
        rows = [(0.1, "x"), (2.5, None), (1e16, "y")]
        self.assertEqual(stats.digest_rows(self.COLS, rows),
                         stats.digest_rows(self.COLS, list(reversed(rows))))

    def test_column_order_does_not_matter(self):
        self.assertEqual(
            stats.digest_rows(["z", "a"], [(1.5, "x")]),
            stats.digest_rows(["a", "z"], [("x", 1.5)]))

    def test_floats_in_repr_form(self):
        self.assertEqual(stats.canon_float(0.1), "0.1")
        self.assertEqual(stats.canon_float(1e16), "1e+16")
        self.assertEqual(stats.canon_float(1e15), "1000000000000000.0")
        self.assertEqual(stats.canon_float(1.5e-5), "1.5e-05")
        self.assertEqual(stats.canon_float(2), "2.0")
        lines = stats.canon_rows(["v", "b"], [(1.0 / 3, True), (None, False)])
        self.assertEqual(lines, ["b\x01v", "false\x01None", "true\x010.3333333333333333"])

    def test_a_changed_value_changes_the_digest(self):
        a = stats.digest_rows(self.COLS, [(0.1, "x"), (0.2, "y")])
        b = stats.digest_rows(self.COLS, [(0.1, "x"), (0.20000000000000004, "y")])
        self.assertEqual(a[0], b[0])
        self.assertNotEqual(a[1], b[1])


class FailedFrac(unittest.TestCase):
    OPS = [["q1", 10.0, True], ["q2", 12.0, True], ["q3", 9.0, False]]

    def test_errors_and_failed_checks_count(self):
        attempted, failed, msgs = stats.count_failures(self.OPS, 2, {}, {})
        self.assertEqual((attempted, failed, msgs), (3, 3, []))
        self.assertEqual(stats.failed_frac(attempted, failed), 1.0)

    def test_a_wrong_result_is_a_failure(self):
        expected = {"q1": [5, "aa"], "q2": [7, "bb"]}
        got = {"q1": [5, "aa"], "q2": [7, "cc"]}
        attempted, failed, msgs = stats.count_failures(self.OPS[:2], 0, expected, got)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertIn("q2", msgs[0])

    def test_a_missing_result_is_a_failure(self):
        attempted, failed, _ = stats.count_failures([], 0, {"q1": [1, "a"]}, {})
        self.assertEqual((attempted, failed), (1, 1))

    def test_clean_run_is_zero(self):
        self.assertEqual(stats.failed_frac(*stats.count_failures(self.OPS[:2], 0, {}, {})[:2]), 0.0)

    def test_bounds(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(2, 3)


if __name__ == "__main__":
    unittest.main()
