"""The benchmark's own tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import unittest

import pandas as pd

import stats


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_picks_highest_percentile_with_ten_beyond(self):
        samples = [float(x) for x in range(100, 0, -1)]  # unsorted input
        value, pct, n = stats.tail(samples)
        self.assertEqual(value, 90.0)
        self.assertEqual(sum(1 for x in samples if x > value), 10)
        self.assertEqual((pct, n), (90.0, 100))

    def test_grows_with_the_sample_count(self):
        self.assertLess(stats.tail(list(range(40)))[1], stats.tail(list(range(1000)))[1])


class FailureCounting(unittest.TestCase):
    def test_hash_failures_add_to_jvm_failures(self):
        self.assertEqual(stats.outcome(50, 2, ["q1"], 4), (54, 3))

    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(*stats.outcome(50, 0, [], 4)), 0.0)
        self.assertEqual(stats.failed_frac(*stats.outcome(6, 1, ["a"], 2)), 0.25)
        self.assertEqual(stats.failed_frac(0, 0), 1.0)


class ResultHash(unittest.TestCase):
    frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.25], "s": ["a", "b", None],
                          "t": pd.to_datetime(["2024-01-01", "2024-01-02", None])})

    def test_ignores_row_and_column_order(self):
        shuffled = self.frame.iloc[[2, 0, 1]][["t", "v", "s", "k"]]
        self.assertEqual(stats.frame_hash(self.frame), stats.frame_hash(shuffled))

    def test_ignores_integer_width(self):
        narrow = self.frame.astype({"k": "int32"})
        self.assertEqual(stats.frame_hash(self.frame), stats.frame_hash(narrow))

    def test_detects_a_wrong_output(self):
        expected = {"q": stats.frame_hash(self.frame)}
        wrong = self.frame.copy()
        wrong.loc[1, "k"] = 7
        self.assertEqual(stats.hash_verdicts(expected, {"q": stats.frame_hash(self.frame)}), [])
        self.assertEqual(stats.hash_verdicts(expected, {"q": stats.frame_hash(wrong)}), ["q"])
        self.assertEqual(stats.hash_verdicts(expected, {"q": stats.frame_hash(self.frame.iloc[:2])}), ["q"])
        self.assertEqual(stats.hash_verdicts(expected, {}), ["q"])

    def test_float_digits_matter(self):
        nudged = self.frame.copy()
        nudged.loc[0, "v"] = 0.5 + 1e-15
        self.assertNotEqual(stats.frame_hash(self.frame), stats.frame_hash(nudged))


class DriverTime(unittest.TestCase):
    def test_no_jobs_is_all_driver(self):
        self.assertEqual(stats.driver_time(0, 100, []), 100)

    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.driver_time(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)

    def test_jobs_are_clipped_to_the_span(self):
        self.assertEqual(stats.driver_time(50, 100, [(0, 60), (90, 200), (300, 400)]), 30)

    def test_nested_and_touching_jobs(self):
        self.assertEqual(stats.driver_time(0, 10, [(1, 9), (2, 3), (9, 10)]), 1)

    def test_job_covering_the_span(self):
        self.assertEqual(stats.driver_time(5, 6, [(0, 10)]), 0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [{"id": 0, "parent": -1, "start_us": 0, "end_us": 100},
                 {"id": 1, "parent": 0, "start_us": 10, "end_us": 40},
                 {"id": 2, "parent": 0, "start_us": 30, "end_us": 50},
                 {"id": 3, "parent": 1, "start_us": 15, "end_us": 20}]
        self.assertEqual(stats.self_times(spans), {0: 60, 1: 25, 2: 20, 3: 5})


if __name__ == "__main__":
    unittest.main()
