"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repo root.
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import schedule  # noqa: E402
import tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        self.assertEqual(schedule.build(7, 10.0), schedule.build(7, 10.0))

    def test_other_seed_changes_keys_mix_and_arrivals(self):
        a, b = schedule.build(7, 10.0), schedule.build(8, 10.0)
        self.assertNotEqual([x[0] for x in a], [x[0] for x in b])
        self.assertNotEqual([x[1] for x in a], [x[1] for x in b])
        self.assertNotEqual([x[2] for x in a], [x[2] for x in b])

    def test_schedule_shape(self):
        s = schedule.build(1, 30.0)
        self.assertTrue(all(0 <= d < 30.0 for d, _, _ in s))
        self.assertEqual([d for d, _, _ in s], sorted(d for d, _, _ in s))
        self.assertEqual(len(s), round(30.0 * schedule.RATE_PER_S))
        counts = schedule.route_counts(len(s))
        self.assertEqual(sum(counts), len(s))
        for (route, share), c in zip(schedule.MIX, counts):
            self.assertEqual(sum(1 for _, r, _ in s if r == route), c)
            self.assertLess(abs(c - share * len(s)), 1)
        # point keys stay on grid coordinates the server snaps to exactly
        for _, r, p in s:
            if r == "point":
                la = float(re.search(r"lat=([^&]+)", p).group(1))
                self.assertIn(la, [schedule.lat(i) for i in range(schedule.NLAT)])

    def test_fixed_share_of_keyed_requests_repeat(self):
        for seed in (1, 2, 3):
            s = schedule.build(seed, 16.0)
            for route in ("point", "metric"):
                paths = [p for _, r, p in s if r == route]
                self.assertEqual(len(paths) - len(set(paths)),
                                 round(schedule.HIT_SHARE * len(paths)))

    def test_key_universe_is_four_times_the_cache(self):
        keys = schedule.KEY_UNIVERSE * (1 + len(schedule.POINT_METRICS))
        self.assertEqual(keys, 4 * schedule.CACHE_ENTRIES)


class TailRuleTest(unittest.TestCase):
    def test_p99_when_ten_lie_beyond(self):
        self.assertEqual(schedule.tail(range(1, 1001)), (99.0, 990, 10))

    def test_lower_percentile_when_sample_is_small(self):
        pct, value, beyond = schedule.tail(range(1, 501))
        self.assertEqual((pct, value, beyond), (98.0, 490, 10))
        pct, value, beyond = schedule.tail(range(1, 101))
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))

    def test_too_few_samples_reports_the_max(self):
        self.assertEqual(schedule.tail([5, 1, 3]), (100.0, 5, 0))


class SloTest(unittest.TestCase):
    def test_refused_and_errored_requests_miss(self):
        for status in (None, -1, 404, 422, 500, 503):
            self.assertTrue(schedule.slo_miss(status, 10.0), status)

    def test_slow_requests_miss_fast_ones_do_not(self):
        self.assertTrue(schedule.slo_miss(200, 2000.0))
        self.assertFalse(schedule.slo_miss(200, 1999.9))


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units(self):
        for name, unit in list(run.END_TO_END.items()) + list(run.per_layer_units().items()):
            self.assertRegex(name, NAME)
            self.assertRegex(unit, UNIT)

    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.per_layer_units())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


class SelfTimeTest(unittest.TestCase):
    def test_self_times_partition_the_root(self):
        ms = 1000000
        spans = [
            {"id": 1, "parent": 0, "layer": "bench", "start_ns": 0, "end_ns": 100 * ms},
            {"id": 2, "parent": 1, "layer": "queries", "start_ns": 10 * ms, "end_ns": 90 * ms},
            {"id": 3, "parent": 2, "layer": "plans", "start_ns": 20 * ms, "end_ns": 30 * ms},
            # two overlapping jobs and one outside its span: 30..70 counts once
            {"id": 4, "parent": 2, "layer": "spark", "start_ns": 30 * ms, "end_ns": 60 * ms},
            {"id": 5, "parent": 2, "layer": "spark", "start_ns": 50 * ms, "end_ns": 70 * ms},
        ]
        selfs = schedule.self_times(spans)
        self.assertAlmostEqual(selfs["spark"], 0.04)
        self.assertAlmostEqual(selfs["plans"], 0.01)
        self.assertAlmostEqual(selfs["queries"], 0.03)
        self.assertAlmostEqual(selfs["bench"], 0.02)
        self.assertAlmostEqual(sum(selfs.values()), 0.1)

    def test_uncovered_wall_time_shows_in_the_accounted_ratio(self):
        ms = 1000000
        # spans cover 60 ms of an untraced run that took 100 ms
        spans = [
            {"id": 1, "parent": 0, "layer": "queries", "start_ns": 0, "end_ns": 40 * ms},
            {"id": 2, "parent": 0, "layer": "queries", "start_ns": 50 * ms, "end_ns": 70 * ms},
        ]
        self_s = sum(schedule.self_times(spans).values())
        self.assertAlmostEqual(schedule.accounted_ratio(self_s, 0.1), 0.6)
        self.assertAlmostEqual(schedule.accounted_ratio(0.1, 0.1), 1.0)


class InputsTest(unittest.TestCase):
    def test_tables_are_fixed(self):
        a, b = tables.build(0.001), tables.build(0.001)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


if __name__ == "__main__":
    unittest.main()
