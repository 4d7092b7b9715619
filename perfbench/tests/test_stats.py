"""Tests for the benchmark's statistics: python3 -m unittest discover -s perfbench/tests"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402


def req(name, start, latency, error=None, rnd=0):
    return dict(name=name, round=rnd, client=0, key=name, start=start, built=start,
                end=start + latency, error=error)


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]  # 40 samples
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 30.0)
        self.assertEqual(pct, 75.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_hundred_samples_is_p90(self):
        value, pct, beyond = stats.tail(list(range(100, 0, -1)))
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_few_samples_fall_back_to_median(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0]
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct), (6.5, 50.0))
        self.assertEqual(beyond, 6)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([3, 1, 2] * 10), stats.tail(sorted([3, 1, 2] * 10)))


class FailedTest(unittest.TestCase):
    def run_out(self, reqs, walls=(10.0,)):
        return dict(requests=reqs, launch=0.0, timed_start=5.0, timed_end=5.0 + sum(walls),
                    round_walls=list(walls), rss_peak_mb=100.0)

    def test_injected_failure_counts_and_leaves_latencies(self):
        reqs = [req(f"q{i}", 5.0 + i, 1.0) for i in range(9)]
        reqs.append(req("q9", 14.0, 0.001, error="java.lang.RuntimeException: boom"))
        e2e, tail_info, failed = stats.end_to_end(self.run_out(reqs), set())
        self.assertEqual(failed, 1)
        self.assertAlmostEqual(e2e["ok_frac"], 0.9)
        self.assertEqual(tail_info["samples"], 9)
        self.assertAlmostEqual(e2e["latency_p50_s"], 1.0)  # the fast failure is not a sample

    def test_wrong_result_fails_every_request_of_the_query(self):
        reqs = [req("a", 5.0, 1.0), req("b", 6.0, 2.0), req("a", 8.0, 1.0), req("b", 9.0, 2.0)]
        e2e, _, failed = stats.end_to_end(self.run_out(reqs), {"a"})
        self.assertEqual(failed, 2)
        self.assertEqual(e2e["ok_frac"], 0.5)
        self.assertEqual(e2e["latency_p50_s"], 2.0)

    def test_one_slow_round_does_not_move_wall(self):
        reqs = [req("a", 0.0, 1.0, rnd=0), req("a", 0.0, 5.0, rnd=1), req("a", 0.0, 1.2, rnd=2)]
        e2e, _, _ = stats.end_to_end(self.run_out(reqs, walls=(1.0, 5.0, 1.2)), set())
        self.assertAlmostEqual(e2e["wall_s"], 3 * 1.2)
        self.assertAlmostEqual(e2e["latency_p50_s"], 1.2)

    def test_no_requests_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.ok_frac(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_union_of_children(self):
        span = dict(start=0.0, end=10.0, children=[
            dict(start=1.0, end=3.0), dict(start=2.0, end=5.0), dict(start=8.0, end=9.0)])
        self.assertAlmostEqual(stats.self_time(span), 10.0 - 4.0 - 1.0)

    def test_children_are_clipped_to_parent(self):
        span = dict(start=0.0, end=4.0, children=[dict(start=-1.0, end=1.0), dict(start=3.0, end=9.0)])
        self.assertAlmostEqual(stats.self_time(span), 2.0)

    def test_leaf_is_its_duration(self):
        self.assertAlmostEqual(stats.self_time(dict(start=2.0, end=2.5)), 0.5)

    def test_layer_self_times_fold_plan_phases(self):
        roots = stats.spans(
            [dict(name="q", client=0, key="c0-0", start=0.0, built=1.0, end=4.0, error=None)],
            {"c0-0|sink": [["analysis", 1000, 1000], ["optimization", 1000, 1200],
                           ["planning", 1200, 1500]]}, [], {"c0-0|sink": {"jobs": 2}})
        self.assertEqual(roots[0]["events"], {"sink": {"jobs": 2}})
        selfs = stats.layer_self_times(roots)
        self.assertAlmostEqual(selfs["queries"], 1.0)
        self.assertAlmostEqual(selfs["plans"], 0.5)
        self.assertAlmostEqual(selfs["exec"], 2.5)
        self.assertAlmostEqual(selfs["request"], 0.0)


class EdgeSortTest(unittest.TestCase):
    def test_plan_without_root_sort_is_zero(self):
        self.assertEqual(stats.edge_sort([dict(name="q", sorted=False)], {}), (0, 0, 0, 0))

    def test_sorted_plan_is_sink_minus_body(self):
        entries = [dict(name="q", sorted=True, sink_s=3.0, body_s=1.0, sink_key="e|sink",
                        body_key="eb|sink"), dict(name="r", sorted=False)]
        counters = {"e|sink": {"jobs": 3}, "eb|sink": {"jobs": 1}}
        self.assertEqual(stats.edge_sort(entries, counters), (3.0, 1.0, 2.0, 2))

    def test_harness_finds_root_sorts(self):
        """The harness's own plan check: only a global Sort at the root
        (through projections) counts. Needs a finished build."""
        classes = os.path.join(build.build_dir(), "graft-" + build.source_digest(), "classes")
        if not os.path.exists(os.path.join(classes, "BUILT")):
            self.skipTest("no build of these sources; run the benchmark once")
        jars = build.spark_jars()
        p = subprocess.run(build.java_cmd(classes, jars, "512m", classes) + ["perfbench.PlanCheck"],
                           capture_output=True, text=True, timeout=120)
        got = dict(line.split() for line in p.stdout.splitlines())
        self.assertEqual(got, {"relation": "unsorted", "project": "unsorted",
                               "local_sort": "unsorted", "root_sort": "sorted",
                               "project_over_sort": "sorted"})


if __name__ == "__main__":
    unittest.main()
