"""Unit tests for the benchmark's statistics.

  python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        p, v, n, beyond = stats.percentile_rule(list(range(1, 201)))
        self.assertEqual((p, v, n, beyond), (95, 190, 200, 10))

    def test_falls_back_to_the_highest_qualifying_percentile(self):
        p, v, n, beyond = stats.percentile_rule(list(range(1, 101)))
        self.assertEqual((p, v, beyond), (90, 90, 10))
        p, v, n, beyond = stats.percentile_rule(list(range(1, 161)))
        self.assertEqual((p, beyond), (93, 11))

    def test_none_when_too_few_samples(self):
        self.assertEqual(stats.percentile_rule(list(range(15)))[:2], (None, None))

    def test_ties_at_the_value_are_not_beyond(self):
        # 190 distinct values, then 10 copies of the top one: nothing is
        # strictly beyond a percentile that lands on the copies
        xs = list(range(190)) + [999] * 10
        p, v, n, beyond = stats.percentile_rule(xs)
        self.assertEqual(beyond, 10)
        self.assertLess(v, 999)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 40
        self.assertEqual(stats.percentile_rule(xs), stats.percentile_rule(sorted(xs)))

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([3, 1, 2], 50), 2)
        self.assertEqual(stats.nearest_rank([3, 1, 2], 95), 3)
        self.assertEqual(stats.nearest_rank([7], 1), 7)


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.2]
        q1, q2, q3, spread = stats.quartile_spread(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(spread, (q3 - q1) / q2)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([4.0] * 10)[3], 0.0)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70),
                 span(4, 1, 80, 90)]
        # children cover [10, 70) and [80, 90): 70 of the parent's 100
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 10), span(2, 1, -5, 4), span(3, 1, 8, 30)]
        self.assertEqual(stats.self_times(spans)[1], 4)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 0, 60)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (40, 0, 60))
        self.assertEqual(sum(st.values()), 100)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(3, 1)]), 0.0)


class JobAttribution(unittest.TestCase):
    spans = [span(1, 0, 0, 100, "pass"), span(2, 1, 0, 50, "gate.g"),
             span(3, 2, 0, 20, "gate.g.construct"), span(4, 0, 100, 200, "pass")]

    def test_job_maps_to_its_span_and_top_level_span(self):
        jobs = [{"id": 7, "span": "3"}, {"id": 8, "span": "4"}]
        self.assertEqual(stats.attribute_jobs(jobs, self.spans),
                         {7: (3, 1), 8: (4, 4)})

    def test_jobs_outside_any_span_are_unattributed(self):
        jobs = [{"id": 1, "span": ""}, {"id": 2, "span": "99"}, {"id": 3}]
        self.assertEqual(stats.attribute_jobs(jobs, self.spans),
                         {1: (None, None), 2: (None, None), 3: (None, None)})

    def test_job_overhead_is_wall_not_covered_by_tasks(self):
        job = {"start": 0, "end": 100}
        tasks = [{"launch": 10, "finish": 40}, {"launch": 30, "finish": 60},
                 {"launch": 90, "finish": 120}]
        # tasks cover [10, 60) and [90, 100) inside the job
        self.assertEqual(stats.job_overhead(job, tasks), 40)
        self.assertEqual(stats.job_overhead(job, []), 100)


if __name__ == "__main__":
    unittest.main()
