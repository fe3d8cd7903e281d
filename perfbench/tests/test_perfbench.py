"""Self-tests of the benchmark's own arithmetic.

Run from the checkout root: python3 -m unittest discover perfbench/tests
"""
import datetime
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import compare  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import plan  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90, 90))
        self.assertEqual(metrics.tail_percentile(range(1, 37)), (72, 26))

    def test_order_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 1.1, 1.2, 1.3, 1.4, 1.5,
              1.6, 1.7, 1.8, 1.9, 2.0]
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))
        self.assertEqual(metrics.tail_percentile(xs), (50, 1.0))

    def test_ties_are_not_beyond(self):
        # the low percentiles land on the tied 1.0s, which have only 9 samples above
        xs = [1.0, 1.0, 1.0] + [float(i) for i in range(2, 11)]
        self.assertEqual(metrics.tail_percentile(xs), (50, 4.5))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0]), (50, 2.0))


class SeededPlan(unittest.TestCase):
    NAMES = [f"q{i}_x" for i in range(40)]

    def test_pass_order_is_deterministic_and_a_permutation(self):
        a = plan.pass_order(7, 0, self.NAMES)
        self.assertEqual(a, plan.pass_order(7, 0, list(reversed(self.NAMES))))
        self.assertEqual(sorted(a), sorted(self.NAMES))
        self.assertNotEqual(a, plan.pass_order(8, 0, self.NAMES))
        self.assertNotEqual(a, plan.pass_order(7, 1, self.NAMES))

    def test_ingest_plan_is_deterministic(self):
        self.assertEqual(plan.ingest_plan(3, 8), plan.ingest_plan(3, 8))
        self.assertNotEqual(plan.ingest_plan(3, 8), plan.ingest_plan(4, 8))

    def test_ingest_plan_is_well_formed(self):
        for seed in range(20):
            p = plan.ingest_plan(seed, 8)
            self.assertEqual(sorted(p["slices"]), list(range(plan.MAX_DAYS)))
            self.assertEqual(p["drop_mult"] % 2, 1)
            self.assertTrue(0 <= p["drop_add"] < p["drop_mod"])
            # drops cycle through every residue, so consecutive drops are disjoint
            self.assertEqual(sorted(p["drop_res"][:plan.DROP_MOD]), list(range(plan.DROP_MOD)))
            self.assertEqual((p["reads"], p["read_rounds"]), (list(plan.READS), 8))


class ReadLatency(unittest.TestCase):
    def test_kind_median_averages_each_kinds_median(self):
        reads = [{"name": n, "wall_s": w} for n, w in
                 [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 10.0), ("b", 30.0)]]
        self.assertAlmostEqual(metrics.kind_median(reads), (2.0 + 20.0) / 2)

    def test_kind_median_does_not_sit_between_kinds(self):
        # the pooled median of two equal-sized kinds is their boundary, which
        # jumps with one sample; the per-kind figure moves by that sample only
        cheap = [{"name": "a", "wall_s": 1.0 + i / 100} for i in range(6)]
        dear = [{"name": "b", "wall_s": 3.0 + i / 100} for i in range(6)]
        slower = dear[:-1] + [{"name": "b", "wall_s": 9.0}]
        self.assertAlmostEqual(metrics.kind_median(cheap + dear),
                               metrics.kind_median(cheap + slower))


class Compare(unittest.TestCase):
    LOWER = {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}
    HIGHER = {"name": "success_rate", "unit": "ratio", "better": "higher", "bound": 0.01}

    def test_every_metric_is_held_to_its_spread_and_median_bounds(self):
        steady = [10.0, 10.1, 9.9, 10.0, 10.2]
        self.assertEqual(compare.flags(self.LOWER, steady, steady), [])
        self.assertEqual(compare.flags(self.LOWER, steady, [13.0, 13.1, 12.9, 13.0, 13.2]),
                         ["B worse by 30.0% > 25%"])
        self.assertEqual(compare.flags(self.LOWER, [5.0, 10.0, 15.0, 20.0], steady),
                         ["spread A > bound"])

    def test_zero_medians_are_flagged_not_divided_by(self):
        self.assertEqual(compare.flags(self.HIGHER, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
                         ["median A is 0"])
        self.assertEqual(compare.flags(self.HIGHER, [0.0, 0.0, 1.0, 0.0], [0.0] * 4),
                         ["spread A > bound"])
        self.assertEqual(compare.flags(self.HIGHER, [1.0] * 4, [0.0] * 4),
                         ["B worse by 100.0% > 1%"])


class SelfTimes(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30), (21, 22)]), 25)
        self.assertEqual(metrics.union_length([(5, 5), (7, 3)]), 0)

    def test_split_accounts_for_the_whole_op(self):
        t = metrics.self_times(construct=(0, 100), sink=(100, 1000),
                               phases=[(100, 150), (140, 200)],
                               jobs=[(180, 500), (600, 900), (950, 1200)])
        self.assertAlmostEqual(t["construct_s"], 100e-6)
        self.assertAlmostEqual(t["catalyst_s"], 100e-6)  # 100..200
        self.assertAlmostEqual(t["job_s"], 650e-6)       # 200..500, 600..900, 950..1000
        self.assertAlmostEqual(t["driver_gap_s"], 150e-6)
        self.assertAlmostEqual(sum(t.values()), 1000e-6)

    def test_spans_attribute_unlabelled_jobs_by_time(self):
        spans = [
            {"kind": "op", "op": 1, "t0": 0, "t1": 1000, "name": "batch", "module": "ingest",
             "op_kind": "batch", "parent": -1},
            {"kind": "op", "op": 2, "t0": 100, "t1": 400, "name": "q73", "module": "relational",
             "op_kind": "read", "parent": 1},
            {"kind": "construct", "op": 2, "t0": 100, "t1": 150},
            {"kind": "sink", "op": 2, "t0": 150, "t1": 400},
            {"kind": "catalyst", "func": "save", "ok": True,
             "phases": {"analysis": [150, 160], "planning": [160, 200]}},
            # a job without the op property: attributed to the innermost op by time
            {"kind": "job", "op": -1, "job": 9, "t0": 210, "t1": 380},
            {"kind": "stage", "stage": 4, "job": 9, "t0": 210, "t1": 380, "tasks": 4,
             "busy_ms": 12, "shw_bytes": 100},
        ]
        rows = metrics.analyse_spans(spans)
        q = rows[2]
        self.assertEqual((q["jobs"], q["stages"], q["tasks"], q["busy_ms"]), (1, 1, 4, 12))
        self.assertAlmostEqual(q["catalyst_s"], 50e-6)
        self.assertAlmostEqual(q["job_s"], 170e-6)
        self.assertAlmostEqual(q["driver_gap_s"], 30e-6)
        self.assertEqual((rows[1]["jobs"], rows[1]["stages"]), (0, 0))


class Fingerprint(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = (["b", "a"], [(1, "x"), (2, "y")])
        b = (["a", "b"], [("y", 2), ("x", 1)])
        self.assertIsNone(oracle.compare(a, oracle.fingerprint(*b)))

    def test_numbers_compare_by_value_and_floats_exactly(self):
        self.assertIsNone(oracle.compare((["v"], [(3,)]), oracle.fingerprint(["v"], [(3.0,)])))
        self.assertEqual(oracle.compare((["v"], [(0.1,)]), oracle.fingerprint(["v"], [(0.1000001,)])),
                         "values differ")
        self.assertIsNone(oracle.compare((["v"], [(float("nan"),)]), oracle.fingerprint(["v"], [(math.nan,)])))

    def test_mismatches_name_their_kind(self):
        self.assertTrue(oracle.compare((["a"], [(1,)]), oracle.fingerprint(["b"], [(1,)])).startswith("columns"))
        self.assertTrue(oracle.compare((["a"], [(1,), (1,)]), oracle.fingerprint(["a"], [(1,)])).startswith("rows"))

    def test_duplicates_count(self):
        self.assertEqual(oracle.compare((["a"], [(1,), (1,), (2,)]),
                                        oracle.fingerprint(["a"], [(1,), (2,), (2,)])),
                         "values differ")

    def test_expected_is_memoized_by_sql(self):
        import tempfile
        con = oracle.duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            first = oracle.expected(con, "SELECT 1 AS a UNION ALL SELECT 2", d)
            self.assertEqual(oracle.expected(None, "SELECT 1 AS a UNION ALL SELECT 2", d), first)
        self.assertIsNone(oracle.compare((["a"], [(2,), (1,)]), first))

    def test_canonical_forms(self):
        self.assertEqual(oracle.canon(None), "~")
        self.assertEqual(oracle.canon(datetime.date(2020, 1, 2)),
                         oracle.canon(datetime.datetime(2020, 1, 2)))
        self.assertNotEqual(oracle.canon(datetime.datetime(2020, 1, 2, 3)),
                            oracle.canon(datetime.date(2020, 1, 2)))
        self.assertEqual(oracle.canon({"y": 1, "x": [1.5, None]}), "{x:[1.5,~],y:1}")
        # an instant equals the naive UTC timestamp of the same moment, not another
        utc = datetime.timezone.utc
        naive = datetime.datetime(2024, 1, 1, 3, 30, 4, 729045)
        self.assertEqual(oracle.canon(naive.replace(tzinfo=utc)), oracle.canon(naive))
        plus2 = datetime.timezone(datetime.timedelta(hours=2))
        self.assertEqual(oracle.canon(datetime.datetime(2024, 1, 1, 5, 30, 4, 729045, plus2)),
                         oracle.canon(naive))
        self.assertNotEqual(oracle.canon(naive.replace(tzinfo=plus2)), oracle.canon(naive))
        self.assertNotEqual(oracle.canon("1"), oracle.canon(True))


class SketchBounds(unittest.TestCase):
    def setUp(self):
        self.con = oracle.duckdb.connect()
        self.con.execute("CREATE TABLE orders AS SELECT CASE WHEN i % 3 = 0 THEN 'F' ELSE 'O' END "
                         "AS o_orderstatus, i % 200 AS o_custkey FROM range(3000) t(i)")
        self.con.execute("CREATE TABLE lineitem AS SELECT 'A' AS l_returnflag, "
                         "CAST(i % 50 AS DOUBLE) AS l_quantity, CAST(i AS DOUBLE) AS l_extendedprice "
                         "FROM range(1000) t(i)")

    def test_distinct_count_within_relative_error(self):
        cols = ["o_orderstatus", "approx_customers", "n_orders"]
        # exact: 200 distinct customers in each status; F has 1000 orders, O 2000
        self.assertIsNone(oracle.check_sketch(
            self.con, "q10b_approx_distinct", (cols, [("F", 190, 1000), ("O", 229, 2000)])))
        self.assertIn("approx_customers", oracle.check_sketch(
            self.con, "q10b_approx_distinct", (cols, [("F", 240, 1000), ("O", 200, 2000)])))
        self.assertIn("n_orders", oracle.check_sketch(
            self.con, "q10b_approx_distinct", (cols, [("F", 200, 999), ("O", 200, 2000)])))

    def test_percentiles_within_rank_error(self):
        cols = ["l_returnflag", "median_qty", "p90_price", "n_items"]
        # n = 1000, B = 1000: one n/B unit is one rank
        self.assertIsNone(oracle.check_sketch(
            self.con, "q29b_approx_percentiles", (cols, [("A", 24.0, 899.0, 1000)])))
        self.assertIsNone(oracle.check_sketch(
            self.con, "q29b_approx_percentiles", (cols, [("A", 24.0, 901.0, 1000)])))
        self.assertIn("p90_price", oracle.check_sketch(
            self.con, "q29b_approx_percentiles", (cols, [("A", 24.0, 903.0, 1000)])))


if __name__ == "__main__":
    unittest.main()
