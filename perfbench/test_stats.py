"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailPercentileTest(unittest.TestCase):
    def test_ten_samples_beyond_the_chosen_rank(self):
        xs = list(range(1, 101))  # 1..100
        pct, value, n = stats.tail_percentile(xs)
        self.assertEqual((pct, value, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        pct, value, n = stats.tail_percentile(xs)
        self.assertEqual((pct, n), (60, 25))
        self.assertEqual(value, sorted(xs)[14])

    def test_percentile_rounds_down(self):
        # 32 samples: rank 22, 100 * 22 / 32 = 68.75 -> p68
        pct, value, _ = stats.tail_percentile(range(32))
        self.assertEqual((pct, value), (68, 21))

    def test_twenty_samples_reach_the_median_rank(self):
        pct, value, n = stats.tail_percentile(range(1, 21))
        self.assertEqual((pct, value, n), (50, 10, 20))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile([4, 1, 3]), (50, 3, 3))
        self.assertEqual(stats.tail_percentile(range(1, 20)), (50, 10, 19))
        self.assertEqual(stats.tail_percentile([2.0] * 10), (50, 2.0, 10))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile([])


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (3, 5)]), 6)

    def test_touching_intervals_merge(self):
        self.assertEqual(stats.union_length([(0, 2), (2, 3)]), 3)

    def test_unsorted_input(self):
        self.assertEqual(stats.union_length([(10, 12), (0, 1), (11, 15)]), 6)

    def test_clipped_to_the_query_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], lo=0, hi=10), 4)

    def test_empty_inverted_and_outside_intervals_count_zero(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(stats.union_length([(20, 30)], lo=0, hi=10), 0)


def run(name, build_s, action_s, start, end, jobs=(), counts=None, residue=0):
    return {"name": name, "build_s": build_s, "action_s": action_s, "start_ms": start,
            "end_ms": end, "error": None, "residue": residue, "jobs": list(jobs),
            "counts": counts or {}}


class LayerValuesTest(unittest.TestCase):
    def test_driver_gap_is_query_time_not_covered_by_jobs(self):
        p = {"queries": [
            run("a", 0.5, 0.5, 0, 1000, jobs=[(100, 300), (200, 400), (900, 1200)]),
            run("b", 1.0, 1.0, 2000, 4000, jobs=[(2000, 4000)]),
        ]}
        v = stats.layer_values(p, wall=3.0)
        # a: union [100, 400] + [900, 1000] = 400 ms; b: 2000 ms
        self.assertAlmostEqual(v["sched.job_s"], 2.4)
        self.assertAlmostEqual(v["sched.driver_gap_s"], 0.6)
        self.assertAlmostEqual(v["entry.build_s"], 1.5)
        self.assertAlmostEqual(v["action.exec_s"], 1.5)

    def test_counts_sum_over_queries_and_scale_units(self):
        p = {"queries": [
            run("a", 1, 1, 0, 10, counts={"sched.jobs": 3, "task.run_ms": 3000,
                                           "shuffle.write_b": stats.MB}, residue=2),
            run("b", 1, 1, 10, 20, counts={"sched.jobs": 4, "task.run_ms": 1000}, residue=1),
        ]}
        v = stats.layer_values(p, wall=2.0)
        self.assertEqual(v["sched.jobs"], 7)
        self.assertAlmostEqual(v["task.run_s"], 4.0)
        self.assertAlmostEqual(v["task.cores_busy"], 2.0)
        self.assertAlmostEqual(v["shuffle.write_mb"], 1.0)
        self.assertEqual(v["blocks.residue"], 3)
        self.assertEqual(v["stream.batches"], 0)


class EndToEndTest(unittest.TestCase):
    def test_warm_metrics_use_untraced_warm_passes_only(self):
        def pss(kind, traced, lat):
            return {"kind": kind, "traced": traced,
                    "queries": [run(f"q{i}", x, 0.0, 0, 1) for i, x in enumerate(lat)]}
        result = {
            "setup_s": 9.0,
            "setup_restarts_s": [2.0, 3.0],
            "rss_peak_mb": 1000.0,
            "passes": [pss("cold", False, [5.0] * 12),
                       pss("warm", False, [1.0] * 12),
                       pss("warm", True, [100.0] * 12),
                       pss("warm", False, [2.0] * 12)],
        }
        m, info = stats.end_to_end(result)
        self.assertEqual(m["setup_s"], 9.0)  # the cold set-up, not a restart
        self.assertEqual(m["cold_pass_s"], 60.0)
        self.assertEqual(m["pass_s"], 18.0)  # 12 queries, each median 1.5
        self.assertEqual(m["query_p50_s"], 1.5)
        self.assertEqual((info["samples"], info["warm_passes"]), (24, 2))
        self.assertEqual((info["tail_percentile"], info["query_tail_s"]), (58, 2.0))
        self.assertGreaterEqual(info["query_tail_s"], m["query_p50_s"])

    def test_pass_is_built_from_each_querys_median(self):
        def warm(a, b):
            return {"kind": "warm", "traced": False,
                    "queries": [run("a", a, 0.0, 0, 1), run("b", b, 0.0, 0, 1)]}
        result = {"setup_s": 1.0, "rss_peak_mb": 1.0,
                  "passes": [{"kind": "cold", "traced": False, "queries": []},
                             warm(1.0, 9.0), warm(5.0, 2.0), warm(2.0, 3.0)]}
        m, _ = stats.end_to_end(result)
        # pass sums are 10, 7 and 5 (median 7); per-query medians 2 + 3
        self.assertEqual(m["pass_s"], 5.0)
        self.assertEqual(m["cold_pass_s"], 0)


if __name__ == "__main__":
    unittest.main()
