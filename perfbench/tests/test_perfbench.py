"""Tests of the benchmark's own machinery.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402


def scratch():
    os.makedirs(build.build_dir(), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.build_dir())


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        with scratch() as d:
            for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.write_interactions(os.path.join(d, sub), seed, 3000, 200, 100, 5)
            names = sorted(os.listdir(os.path.join(d, "a")))
            self.assertEqual(len(names), 5)
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "b"), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "c"), names, shallow=False)
            self.assertTrue(mismatch)

    def test_windows_ascend_in_ts_and_mtime(self):
        with scratch() as d:
            gen.write_interactions(d, 3, 2000, 100, 50, 4)
            last_ts, last_mtime = -1, -1
            for name in sorted(os.listdir(d)):
                path = os.path.join(d, name)
                ts = [int(line.split(",")[2]) for line in open(path)]
                self.assertEqual(ts, sorted(ts))
                self.assertGreater(ts[0], last_ts)
                self.assertGreater(os.path.getmtime(path), last_mtime)
                last_ts, last_mtime = ts[-1], os.path.getmtime(path)

    def test_maint_plan_is_seeded_and_survivors_exclude_erased(self):
        with scratch() as d:
            for sub in ("a", "b"):
                gen.write_maint_plan(os.path.join(d, sub), 5, 4, 500, 100, 50, 2, 2, 10)
            for f in ("plan.txt", "surviving.csv", "b0000.csv"):
                self.assertTrue(filecmp.cmp(os.path.join(d, "a", f), os.path.join(d, "b", f),
                                            shallow=False))
            plan = open(os.path.join(d, "a", "plan.txt")).read().split("\n")
            self.assertEqual([p for p in plan if p][-1], "serve")
            erased = {int(u) for p in plan if p.startswith("erase ") for u in p.split()[1:]}
            # the first erasure follows batch 2; batches 0-1 keep none of its users
            first = {int(u) for u in next(p for p in plan if p.startswith("erase ")).split()[1:]}
            early = [line for b in ("b0000.csv", "b0001.csv")
                     for line in open(os.path.join(d, "a", b))]
            surviving = set(open(os.path.join(d, "a", "surviving.csv")))
            self.assertTrue(erased)
            for line in early:
                if int(line.split(",")[0]) in first:
                    self.assertNotIn(line, surviving)

    def test_interleave_keeps_maint_order_and_every_query(self):
        maint = ["ingest a", "serve", "ingest b"]
        qs = [f"query q{i}" for i in range(7)]
        plan = gen.interleave(maint, qs, 3)
        self.assertEqual([p for p in plan if not p.startswith("query")], maint)
        self.assertEqual(sorted(p for p in plan if p.startswith("query")), sorted(qs))
        self.assertEqual(plan, gen.interleave(maint, qs, 3))


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        p, v, n = spans.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_small_sample_picks_a_lower_percentile(self):
        values = list(range(24))
        p, v, n = spans.tail_percentile(values)
        self.assertEqual((p, n), (58, 24))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(spans.tail_percentile([5, 1, 3]), (50, 3, 3))


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(spans.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(spans.union_length([(0, 10), (2, 3), (3, 4)]), 10)
        self.assertEqual(spans.union_length([]), 0)

    def test_overlapping_jobs_do_not_make_the_gap_negative(self):
        # two concurrent jobs inside a 10s span: summing gives 12s of jobs
        # and -2s outside them; the union gives 8s and 2s outside
        jobs = [(1, 7), (3, 9)]
        self.assertEqual(10 - spans.union_length(jobs), 2)

    def test_self_time_subtracts_the_union_of_children(self):
        s = [
            {"id": 1, "parent": -1, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 50},
            {"id": 3, "parent": 1, "start_us": 40, "end_us": 70},   # overlaps 2
            {"id": 4, "parent": 3, "start_us": 45, "end_us": 60},
            {"id": 5, "parent": 1, "start_us": 90, "end_us": 130},  # outlives 1
        ]
        st = spans.self_times(s)
        self.assertEqual(st[1], 100 - (60 + 10))
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 30 - 15)
        self.assertEqual(st[4], 15)


class FailureCountTest(unittest.TestCase):
    cols = ["item", "rnk", "other", "score"]
    rows = [(1, 1, 2, 3.5), (1, 2, 3, 1.25), (2, 1, 1, 3.5)]

    def test_equal_output_passes_in_any_row_order(self):
        self.assertIsNone(checks.compare(self.cols, self.rows, self.cols, self.rows[::-1]))

    def test_wrong_output_is_a_failed_op(self):
        wrong = [self.rows[0], (1, 2, 3, 1.2501), self.rows[2]]
        why = checks.compare(self.cols, self.rows, self.cols, wrong)
        self.assertIn("differ", why)
        ops = [{"id": 1, "ok": True}, {"id": 2, "ok": True}, {"id": 3, "ok": False}]
        self.assertEqual(checks.tally(ops, {2} if why else set()), (3, 2))

    def test_int_versus_float_is_a_mismatch(self):
        as_float = [(1.0, 1, 2, 3.5), (1, 2, 3, 1.25), (2, 1, 1, 3.5)]
        self.assertIsNotNone(checks.compare(self.cols, self.rows, self.cols, as_float))

    def test_missing_row_is_a_mismatch(self):
        self.assertIn("rowcount", checks.compare(self.cols, self.rows, self.cols, self.rows[:2]))


if __name__ == "__main__":
    unittest.main()
