"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_count_takes_the_middle(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)

    def test_even_count_averages_the_two_middles(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_tail(self):
        xs = [float(i) for i in range(1, 26)]  # 1..25, shuffled below
        xs = xs[::2] + xs[1::2]
        value, rank, n = stats.tail(xs)
        self.assertEqual((value, rank, n), (15.0, 15, 25))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_eleven_samples_give_the_minimum(self):
        value, rank, n = stats.tail([float(i) for i in range(11)])
        self.assertEqual((value, rank, n), (0.0, 1, 11))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([2.0, 9.0, 4.0]), (9.0, 3, 3))
        self.assertEqual(stats.tail([1.0] * 10), (1.0, 10, 10))

    def test_ties_count_as_samples(self):
        value, rank, n = stats.tail([1.0] * 12 + [7.0] * 10)
        self.assertEqual((value, rank, n), (1.0, 12, 22))


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(stats.union_length([(0, 1), (3, 5)]), 3)

    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (5, 7)]), 7)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_inverted_intervals_cover_nothing(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (4, 2)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_not_double_counted(self):
        # Jobs summing to more wall than their parent span, as under AQE:
        # 6 + 6 + 3 = 15 of job time inside a 10-long span.
        children = [(0, 6), (2, 8), (7, 10)]
        self.assertEqual(stats.self_time((0, 10), children), 0)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((10, 20), [(5, 12), (18, 30)]), 6)

    def test_no_children_means_all_self(self):
        self.assertEqual(stats.self_time((1, 4), []), 3)


def span(kind, name, start, end, **kw):
    s = {"kind": kind, "name": name, "start_ms": start, "end_ms": end,
         "trace": "t", "pass": 1}
    s.update(kw)
    return s


class LayersTest(unittest.TestCase):
    def test_one_traced_pass(self):
        spans = [
            span("query", "q", 0, 1000, span="t"),
            span("phase", "construct", 0, 600, span="t/construct"),
            span("phase", "plan", 600, 700, span="t/plan"),
            span("phase", "exec", 700, 990, span="t/exec"),
            span("job", "construct", 100, 400, parent="t/construct",
                 tasks=4, task_s=0.8, input_rows=10, output_mb=0.5),
            span("job", "construct", 300, 500, parent="t/construct",
                 tasks=2, task_s=0.2),
            span("job", "exec", 700, 990, parent="t/exec",
                 tasks=4, task_s=0.58, input_rows=5),
        ]
        out = stats.pass_layers(spans, cores=2)
        self.assertAlmostEqual(out["construct.s"], 0.6)
        self.assertAlmostEqual(out["construct.self_s"], 0.2)
        self.assertEqual(out["construct.jobs"], 2)
        self.assertEqual(out["construct.tasks"], 6)
        self.assertAlmostEqual(out["construct.ms_per_job"], 300)
        self.assertAlmostEqual(out["exec.utilization"], 0.58 / (0.29 * 2))
        self.assertAlmostEqual(out["exec.self_s"], 0)
        self.assertEqual(out["tables.input_rows"], 15)
        self.assertEqual(out["sinks.output_mb"], 0.5)
        self.assertAlmostEqual(out["trace.phase_coverage"], 0.99)

    def test_overhead_is_traced_minus_untraced_median(self):
        passes = [{"pass": 0, "traced": False, "wall_s": 4.0},
                  {"pass": 1, "traced": True, "wall_s": 4.5},
                  {"pass": 2, "traced": False, "wall_s": 4.2}]
        spans = [span("query", "q", 0, 10, span="t")]
        out = stats.layer_metrics(spans, passes, cores=1)
        self.assertAlmostEqual(out["trace.overhead_s"], 0.4)


class CheckTest(unittest.TestCase):
    def test_mismatch_and_exception_are_reported_by_name(self):
        expected = {"a": {"rows": 2, "fingerprint": "ff"},
                    "b": {"rows": 1, "fingerprint": "01"}}
        checks = [
            {"name": "a", "rows": 2, "fingerprint": "fe", "error": None},
            {"name": "b", "rows": -1, "fingerprint": None,
             "error": "java.lang.IllegalStateException: boom"},
        ]
        bad = stats.check_results(checks, expected)
        self.assertEqual([b[0] for b in bad], ["a", "b"])
        self.assertIn("fingerprint fe", bad[0][1])
        self.assertIn("boom", bad[1][1])

    def test_matching_results_pass(self):
        expected = {"a": {"rows": 2, "fingerprint": "ff"}}
        checks = [{"name": "a", "rows": 2, "fingerprint": "ff",
                   "error": None}]
        self.assertEqual(stats.check_results(checks, expected), [])


if __name__ == "__main__":
    unittest.main()
