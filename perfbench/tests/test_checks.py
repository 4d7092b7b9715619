"""Tests for the seeded request lists and the oracle check:
python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True

import duckdb  # noqa: E402

import oracle  # noqa: E402
import workloads  # noqa: E402

REGISTRY = [f"{f}{i:02d}_x" for f in "qjtdesgm" for i in range(1, 41)]


class PlanTest(unittest.TestCase):
    def test_same_seed_same_requests(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan(w, 7, 15, REGISTRY), workloads.plan(w, 7, 15, REGISTRY))
        self.assertNotEqual(workloads.plan("interactive_sf001", 7, 15, REGISTRY),
                            workloads.plan("interactive_sf001", 8, 15, REGISTRY))

    def test_interactive_samples_every_qjt_query_once_at_most(self):
        pool = workloads.pool("interactive_sf001", REGISTRY)
        self.assertEqual(pool, sorted(q for q in REGISTRY if q[0] in "qjt"))
        w = workloads.WORKLOADS["interactive_sf001"]
        drawn = set()
        for seed in range(20):
            distinct, warm, rounds = workloads.plan("interactive_sf001", seed, 5, pool[:100] + ["d01_x"])
            reqs = [q for r in rounds for c in r for q in c]
            self.assertEqual([len(c) for r in rounds for c in r], [w["per_round"] // 2] * 6)
            self.assertTrue(set(reqs) <= set(pool[:100]))
            self.assertEqual(sorted(distinct), sorted(reqs))  # no query twice
            # the warm-up runs each distinct query once
            self.assertEqual(len(warm), w["warm_clients"])
            self.assertEqual(sorted(q for c in warm for q in c), sorted(distinct))
            drawn |= set(reqs)
        self.assertEqual(drawn, set(pool[:100]))

    def test_more_requests_than_queries_is_an_error(self):
        with self.assertRaises(ValueError):
            workloads.plan("interactive_sf001", 1, 60, REGISTRY)

    def test_batch_rounds_ask_for_every_query_once(self):
        w = workloads.WORKLOADS["batch_sf01"]
        distinct, warm, rounds = workloads.plan("batch_sf01", 3, 15, REGISTRY)
        self.assertEqual(len(rounds), 3)
        for r in rounds:
            self.assertEqual(sorted(q for c in r for q in c), sorted(w["queries"]))
        self.assertEqual(sorted(warm[0]), sorted(w["queries"]))


class OracleTest(unittest.TestCase):
    """A two-part result against `SELECT ... ORDER BY` over one table."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        t = self.tmp.name
        self.data = os.path.join(t, "data")
        self.results = os.path.join(t, "results")
        os.makedirs(self.data)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS id, range % 3 AS g FROM range(10)) "
                    f"TO '{self.data}/nums.parquet' (FORMAT parquet)")
        self.con = con

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def write_result(self, name, parts):
        d = os.path.join(self.results, name)
        os.makedirs(d, exist_ok=True)
        for i, (lo, hi) in enumerate(parts):
            self.con.execute(f"COPY (SELECT range AS id, range % 3 AS g FROM range({lo}, {hi}) "
                             f"ORDER BY id) TO '{d}/part-{i:05d}.parquet' (FORMAT parquet)")

    def check(self, name, sql="SELECT g, id FROM nums ORDER BY id"):
        return oracle.check([name], {name: sql}, self.data, self.results,
                            os.path.join(self.tmp.name, "cache"), os.path.join(self.tmp.name, "duck"),
                            1)[name]

    def test_rows_in_order_match(self):
        self.write_result("r", [(0, 4), (4, 10)])
        self.assertIsNone(self.check("r"))
        self.assertIsNone(self.check("r"))  # again, from the cached oracle

    def test_parts_out_of_order_fail_only_an_ordered_oracle(self):
        self.write_result("r", [(4, 10), (0, 4)])
        self.assertIsNone(self.check("r", "SELECT g, id FROM nums"))
        self.assertIn("order", self.check("r"))

    def test_missing_row_fails(self):
        self.write_result("r", [(0, 4), (5, 10)])
        self.assertIn("fingerprint differs", self.check("r", "SELECT g, id FROM nums"))

    def test_only_an_outermost_order_by_counts(self):
        con = duckdb.connect()
        self.assertTrue(oracle.ordered_by(con, "SELECT 1 AS a UNION ALL SELECT 2 ORDER BY a"))
        self.assertTrue(oracle.ordered_by(con, "WITH t AS (SELECT 1 AS a) SELECT a FROM t ORDER BY a DESC LIMIT 1"))
        self.assertFalse(oracle.ordered_by(con, "SELECT a FROM (SELECT 1 AS a ORDER BY a)"))
        self.assertFalse(oracle.ordered_by(con, "SELECT count(*) FROM range(3)"))

if __name__ == "__main__":
    unittest.main()
