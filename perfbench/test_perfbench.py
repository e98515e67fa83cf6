"""Tests of the benchmark's own logic: python3 perfbench/test_perfbench.py"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
import workloads  # noqa: E402


class SamplerTest(unittest.TestCase):
    def test_deterministic_per_seed(self):
        pool = {f: [f"{f}_{i}" for i in range(20)] for f in workloads.QUERY_FAMILIES}
        a = workloads.sample_queries(pool, 2, 42)
        self.assertEqual(a, workloads.sample_queries(pool, 2, 42))
        self.assertNotEqual(a, workloads.sample_queries(pool, 2, 43))
        self.assertEqual([workloads.family(q) for q in a],
                         sorted(workloads.family(q) for q in a))

    def test_covers_every_family_equally(self):
        pool = workloads.load_pool()
        for per in (1, 2):
            picked = workloads.sample_queries(pool, per, 7)
            fams = [workloads.family(q) for q in picked]
            for fam in workloads.QUERY_FAMILIES:
                self.assertEqual(fams.count(fam), min(per, len(pool[fam])), fam)
            self.assertEqual(len(fams), sum(fams.count(f)
                                            for f in workloads.QUERY_FAMILIES))
            self.assertEqual(len(set(picked)), len(picked))

    def test_pool_families(self):
        for fam, names in workloads.load_pool().items():
            self.assertTrue(all(workloads.family(n) == fam for n in names))
        self.assertEqual(workloads.family("q10_cleanse"), "q")
        self.assertEqual(workloads.family("stream_join_state"), "stream")


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples: the 90th has 10 beyond it
        self.assertEqual(stats.tail(xs), (90, 90.0, 100))
        self.assertEqual(stats.tail(list(range(11))), (0, 100 / 11, 11))

    def test_order_free(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(stats.tail(xs)[0], stats.tail(sorted(xs))[0])

    def test_too_few_reports_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [dict(id=0, parent=-1, t0=0.0, t1=10.0),
                 dict(id=1, parent=0, t0=1.0, t1=3.0),
                 dict(id=2, parent=0, t0=4.0, t1=8.0),
                 dict(id=3, parent=2, t0=5.0, t1=6.0)]
        self.assertEqual(stats.self_times(spans), {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})


ZERO = dict(no_change=0, update=0, insert=0, reactivate=0, version=0,
            deactivate=0)


def tags(**kw):
    return dict(ZERO, **kw)


# Hand-checked three batches, one day apart.
#  1: A, B, C inserted (updated_at NULL).     rates X, Y inserted.
#  2: A same -> no_change; B changed -> update (stamped day 2); C absent ->
#     carry, never deactivated while its updated_at is NULL; D malformed ->
#     quarantine; E inserted.                 X same, Y changed, Z inserted.
#  3: A absent -> carry (NULL stamp); B absent, stamped before today ->
#     deactivate; C changed -> update; E same -> no_change; D inserted.
#                                             X absent -> carry; Y, Z same.
FEED = [
    ([("A", "10.00"), ("B", "20.00"), ("C", "30.00")],
     [("X", "x", "1.5"), ("Y", "y", "2.0")]),
    ([("A", "10.00"), ("B", "25.00"), ("D", "n/a"), ("E", "5.00")],
     [("X", "x", "1.5"), ("Y", "y", "3.0"), ("Z", "z", "4.0")]),
    ([("C", "31.00"), ("E", "5.00"), ("D", "7.00")],
     [("Y", "y", "3.0"), ("Z", "z", "4.0")]),
]


class ModelTest(unittest.TestCase):
    def test_three_batches(self):
        counters, quarantine, final = workloads.expected_etl(FEED)
        bank = {b: counters[(f"batch-000{b}", "world_bank_data")] for b in (1, 2, 3)}
        rate = {b: counters[(f"batch-000{b}", "exchanges_rates")] for b in (1, 2, 3)}
        self.assertEqual(bank[1], tags(insert=3))
        self.assertEqual(bank[2], tags(no_change=1, update=1, insert=1))
        self.assertEqual(bank[3], tags(no_change=1, update=1, insert=1,
                                       deactivate=1))
        self.assertEqual(rate[1], tags(insert=2))
        self.assertEqual(rate[2], tags(no_change=1, update=1, insert=1))
        self.assertEqual(rate[3], tags(no_change=2))
        self.assertEqual(quarantine, {"batch-0001": 0, "batch-0002": 1,
                                      "batch-0003": 0})
        self.assertEqual(final, dict(active=4, inactive=1, history=0, rates=3))

    def test_return_with_same_cap_reactivates(self):
        counters, _, final = workloads.expected_etl(FEED + [([("B", "25.00")], [])])
        self.assertEqual(counters[("batch-0004", "world_bank_data")],
                         tags(reactivate=1, deactivate=1))  # C, stamped day 3
        self.assertEqual(final, dict(active=4, inactive=1, history=0, rates=3))

    def test_return_with_new_cap_versions(self):
        counters, _, final = workloads.expected_etl(FEED + [([("B", "26.00")], [])])
        self.assertEqual(counters[("batch-0004", "world_bank_data")],
                         tags(version=1, deactivate=1))
        self.assertEqual(final, dict(active=4, inactive=1, history=1, rates=3))

    def test_generator_is_seeded(self):
        sizes = dict(workloads.ETL_SIZES["etl_reference"], batches=16)
        a = workloads.etl_batches(sizes, 3)
        self.assertEqual(a, workloads.etl_batches(sizes, 3))
        self.assertNotEqual(a, workloads.etl_batches(sizes, 4))
        for banks, rates in a:
            self.assertEqual(len(banks), sizes["pages"] * sizes["banks_per_page"])
            self.assertEqual(len(rates), sizes["rates"])
            self.assertEqual(len({n for n, _ in banks}), len(banks))

    def test_check_reports_mismatch(self):
        counters, quarantine, final = workloads.expected_etl(FEED)
        rows = [dict({workloads.COUNTER_COLUMNS[t]: n for t, n in c.items()},
                     batch_id=k[0], table_name=k[1]) for k, c in counters.items()]
        result = {"counters": rows, "quarantine": {"batch-0002": 1},
                  "final": final}
        self.assertEqual(workloads.check_etl(FEED, result), [])
        rows[0]["update_count"] += 1
        result["final"] = dict(final, history=1)
        fails = workloads.check_etl(FEED, result)
        self.assertEqual([bid for bid, _ in fails], ["batch-0001", "batch-0003"])


if __name__ == "__main__":
    unittest.main()
