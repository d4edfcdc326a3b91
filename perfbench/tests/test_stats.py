"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import os
import sys
import tempfile
import unittest
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import lake  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(range(99), 0.9))
        self.assertAlmostEqual(stats.percentile(range(100), 0.9), 89.1)

    def test_p50_with_few_samples(self):
        self.assertIsNone(stats.percentile([1, 2, 3], 0.5))
        self.assertEqual(stats.percentile(range(21), 0.5), 10)


class IntervalTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        op = (0, 100)
        jobs = [(10, 30), (20, 40), (60, 70)]
        # the sum of job durations is 50; the union is 40
        self.assertEqual(stats.driver_gap(op, jobs), 60)

    def test_driver_gap_clips_jobs_to_the_op(self):
        self.assertEqual(stats.driver_gap((50, 100), [(0, 60), (90, 200)]), 30)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)


class AccountingTest(unittest.TestCase):
    def test_space_amp(self):
        self.assertEqual(stats.space_amp([300, 100], [100, 100]), 2.0)

    def test_error_rate(self):
        self.assertEqual(stats.error_rate(8, 2), 0.25)
        self.assertEqual(stats.error_rate(8, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


class OlapCheckTest(unittest.TestCase):
    @staticmethod
    def result(**cols):
        return stats.canonical(pa.table(cols))

    def test_equal_results_pass_after_normalisation(self):
        a = self.result(k=[1, 2], total=pa.array([decimal.Decimal("2.5"), None],
                                                 pa.decimal128(10, 2)),
                        v=[float("nan"), 1.0])
        b = stats.canonical(pa.table({"v": [float("nan"), 1.0], "total": [2.5, None],
                                      "k": pa.array([1, 2], pa.int32())}))
        self.assertTrue(stats.same_result(a, b))

    def test_row_order_and_values_matter(self):
        a = self.result(k=[1, 2], s=["x", "y"])
        self.assertFalse(stats.same_result(a, self.result(k=[2, 1], s=["y", "x"])))
        self.assertFalse(stats.same_result(a, self.result(k=[1, 2], s=["x", "z"])))
        self.assertFalse(stats.same_result(a, self.result(k=[1], s=["x"])))
        self.assertFalse(stats.same_result(a, self.result(k=[1, 2], t=["x", "y"])))

    def test_list_columns_compare_by_value(self):
        a = self.result(v=[[1.0, 2.0], [3.0]])
        self.assertTrue(stats.same_result(a, self.result(v=[[1.0, 2.0], [3.0]])))
        self.assertFalse(stats.same_result(a, self.result(v=[[1.0, 2.0], [4.0]])))

    def test_corrupted_expected_result_fails_the_key_s_ops(self):
        got = {"q1": self.result(k=[1, 2], total=[2.5, 3.5]),
               "q2": self.result(x=[1])}
        expected = dict(got)
        self.assertEqual(run.failed_keys(["q1", "q2"], expected, got, set()), set())
        expected["q1"] = self.result(k=[1, 2], total=[2.5, 3.25])
        bad = run.failed_keys(["q1", "q2"], expected, got, set())
        self.assertEqual(bad, {"q1"})
        ops = ["q1", "q2", "q1", "q2"]
        failed = sum(1 for k in ops if k in bad)
        self.assertGreater(stats.error_rate(len(ops), failed), 0)

    def test_warm_failure_fails_the_key(self):
        got = {"q1": self.result(x=[1])}
        self.assertEqual(run.failed_keys(["q1"], dict(got), got, {"q1"}), {"q1"})


class LakeCheckTest(unittest.TestCase):
    def replay(self, inputs, plan):
        """What a correct engine returns for each plan line."""
        models = {t: lake.Table() for t in lake.TABLES}
        out = []
        for line in plan:
            _, t, op, *args = line.split("|")
            m = models[t]
            if op in ("point", "range", "tt"):
                lo = int(args[0])
                hi = int(args[1]) if op != "point" else lo
                if op == "tt":
                    v = max(0, m.version - int(args[2]))
                    out.append((True, f"v{v}|" + m.read(lo, hi, v)))
                else:
                    out.append((True, m.read(lo, hi)))
            else:
                batch = None
                if op in ("base", "append", "merge"):
                    batch = lake.read_batch(os.path.join(inputs, args[0]), op == "merge")
                m.apply(op, args, batch)
                m.commit(m.version + 1)
                out.append((True, f"v{m.version}"))
        final = {t: lake.digest(m.rows.items()) for t, m in models.items()}
        return out, final

    def test_correct_results_pass_and_a_corrupted_read_fails(self):
        with tempfile.TemporaryDirectory() as d:
            plan = lake.generate(d, 7, 2, base_rows=400)
            results, final = self.replay(d, plan)
            flags, final_ok, _ = lake.check(d, plan, results, final)
            self.assertTrue(all(flags) and final_ok)
            i = next(i for i, l in enumerate(plan) if l.split("|")[2] == "range")
            n, s = results[i][1].split(":")
            results[i] = (True, f"{n}:{int(s) + 1}")
            flags, final_ok, _ = lake.check(d, plan, results, final)
            self.assertEqual([j for j, f in enumerate(flags) if not f], [i])
            self.assertGreater(stats.error_rate(len(flags), flags.count(False)), 0)

    def test_lost_update_fails_the_final_snapshot(self):
        with tempfile.TemporaryDirectory() as d:
            plan = lake.generate(d, 8, 1, base_rows=400)
            results, final = self.replay(d, plan)
            final["mor"] = "0:0"
            _, final_ok, _ = lake.check(d, plan, results, final)
            self.assertFalse(final_ok)


class ExpectedCacheTest(unittest.TestCase):
    def test_edited_oracle_query_is_run_afresh(self):
        with tempfile.TemporaryDirectory() as d:
            inputs = os.path.join(d, "sf01")
            os.makedirs(inputs)
            for t in gen.TABLES:
                pq.write_table(pa.table({"x": [1]}), os.path.join(inputs, f"{t}.parquet"))
            with mock.patch.dict(os.environ, {"CARGO_TARGET_DIR": os.path.join(d, "build")}):
                first = run.expected_results(inputs, ["k"], {"k": "SELECT 1 AS v"})
                edited = run.expected_results(inputs, ["k"], {"k": "SELECT 2 AS v"})
                again = run.expected_results(inputs, ["k"], {"k": "SELECT 1 AS v"})
        self.assertEqual(first["k"].column("v").to_pylist(), [1])
        self.assertEqual(edited["k"].column("v").to_pylist(), [2])
        self.assertEqual(again["k"].column("v").to_pylist(), [1])


if __name__ == "__main__":
    unittest.main()
