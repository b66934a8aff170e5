"""Self-tests for the benchmark's arithmetic: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 1001))              # 1000 samples
        self.assertEqual(stats.tail(xs), (99, 990))   # 10 samples above 990

    def test_fewer_samples_lower_the_percentile(self):
        xs = list(range(1, 101))               # 100 samples: p90 leaves 10 beyond
        self.assertEqual(stats.tail(xs), (90, 90))
        # 80 samples: p87 has rank 70 and 10 beyond; p88 would leave 9
        self.assertEqual(stats.tail(list(range(1, 81))), (87, 70))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (50, 2.0))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 40.0},
            {"id": 3, "parent": 1, "start": 30.0, "end": 60.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 80.0, "end": 90.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 100.0 - (50.0 + 10.0))
        self.assertAlmostEqual(st[2], 30.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [{"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "start": 5.0, "end": 25.0}]
        self.assertAlmostEqual(stats.self_times(spans)[1], 5.0)

    def test_nested_grandchildren_do_not_reduce_the_root_twice(self):
        spans = [{"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "start": 0.0, "end": 8.0},
                 {"id": 3, "parent": 2, "start": 1.0, "end": 7.0}]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 6.0)


class SchedGapTest(unittest.TestCase):
    def test_wall_minus_task_time_over_cores(self):
        self.assertAlmostEqual(stats.sched_gap_s(2.0, 4.0, 4), 1.0)

    def test_fully_busy_cores_leave_no_gap(self):
        self.assertAlmostEqual(stats.sched_gap_s(1.5, 6.0, 4), 0.0)


class FamilyTest(unittest.TestCase):
    def test_family_is_the_leading_letters(self):
        self.assertEqual(stats.family("dd34_substring_scrub_cjk"), "dd")
        self.assertEqual(stats.family("f_map_struct"), "f")
        self.assertEqual(stats.family("sim3_lsh_ann"), "sim")

    def test_rollup_sums_seconds_per_family(self):
        r = stats.family_rollup([("a1_x", 1000.0), ("a10_y", 500.0),
                                 ("dd2_z", 250.0), ("d1_w", 100.0)])
        self.assertEqual(r, {"a": 1.5, "dd": 0.25, "d": 0.1})


class ForeignShareTest(unittest.TestCase):
    # cpu line fields: user nice system idle iowait irq softirq steal
    def test_other_processes_and_steal_count_as_foreign(self):
        p0 = {"host": [100, 0, 50, 1000, 0, 0, 0, 0], "self": 60}
        p1 = {"host": [300, 0, 100, 1500, 0, 0, 0, 100], "self": 210}
        # deltas: user 200, system 50, idle 500, steal 100 -> total 850;
        # busy 250, of which 150 our own
        self.assertAlmostEqual(stats.foreign_cpu_share(p0, p1), (250 - 150 + 100) / 850)

    def test_a_quiet_machine_reads_zero(self):
        p0 = {"host": [0, 0, 0, 0, 0, 0, 0, 0], "self": 0}
        p1 = {"host": [80, 0, 20, 300, 0, 0, 0, 0], "self": 100}
        self.assertAlmostEqual(stats.foreign_cpu_share(p0, p1), 0.0)

    def test_phases_weigh_by_their_jiffies(self):
        quiet = ({"host": [0] * 8, "self": 0},
                 {"host": [100, 0, 0, 100, 0, 0, 0, 0], "self": 100})
        loaded = ({"host": [0] * 8, "self": 0},
                  {"host": [200, 0, 0, 0, 0, 0, 0, 0], "self": 100})
        self.assertAlmostEqual(stats.phases_foreign_share([quiet, loaded]), 100 / 400)


if __name__ == "__main__":
    unittest.main()
