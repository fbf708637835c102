"""The benchmark's own tests: seeded plans are reproducible and distinct, and
every workload's output check catches a corrupted output. No JVM needed.

    python3 -m unittest discover -s distbench -p 'test_*.py'
"""
import math
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import plan  # noqa: E402


class PlanTest(unittest.TestCase):
    def test_same_seed_same_calls(self):
        for w in plan.WORKLOADS:
            self.assertEqual(plan.make_plan(w, 7), plan.make_plan(w, 7), w)

    def test_different_seed_different_calls(self):
        for w in plan.WORKLOADS:
            self.assertNotEqual(plan.make_plan(w, 7), plan.make_plan(w, 8), w)

    def test_every_seed_has_the_same_shape(self):
        def shape(passes):
            return [sorted((len(c.get("series", [])), c.get("hi", 0) - c.get("lo", 0)) for c in p)
                    for p in passes]
        for w in plan.WORKLOADS:
            self.assertEqual(len({str(shape(plan.make_plan(w, s))) for s in range(20)}), 1, w)

    def test_ingest_batches_are_contiguous_and_monotone(self):
        calls = [c for p in plan.make_plan("ingest", 3) for c in p]
        self.assertLessEqual(calls[-1]["hi"], plan.INGEST_CORPUS)
        for a, b in zip(calls, calls[1:]):
            self.assertEqual(a["hi"], b["lo"])
            self.assertLess(a["lo"], a["hi"])


def write(path, rows, schema=None):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(path, "part-0.parquet"))


class ExploreCheckTest(unittest.TestCase):
    """rdd.py's doctest column 0..50 plus a null and a NaN (both dropped)."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        values = [float(v) for v in range(51)] + [None, math.nan]
        write(os.path.join(self.tmp.name, "lineitem.parquet"),
              [{"l_quantity": v, "l_returnflag": "A" if i % 2 else "N"} for i, v in enumerate(values)])
        self.con = checks.connect(self.tmp.name, ["lineitem"])

    def tearDown(self):
        self.tmp.cleanup()

    def hist(self, edges, counts):
        return [{"bin_id": i, "bin_lo": lo, "bin_hi": hi, "cnt": c}
                for i, (lo, hi, c) in enumerate(zip(edges, edges[1:], counts))]

    def test_count_bins(self):
        call = {"api": "histogram", "series": [["lineitem", "l_quantity"]], "bins": 2}
        self.assertEqual(checks.check_explore(self.con, call, self.hist([0.0, 25.0, 50.0], [25, 26])), [])
        self.assertTrue(checks.check_explore(self.con, call, self.hist([0.0, 25.0, 50.0], [26, 25])))
        self.assertTrue(checks.check_explore(self.con, call, self.hist([0.0, 24.0, 50.0], [25, 26])))

    def test_explicit_uneven_edges(self):
        edges = [0.0, 5.0, 25.0, 50.0]
        call = {"api": "hist", "series": [["lineitem", "l_quantity"]], "edges": edges}
        rows = [{"bin_id": i, "bin_lo": lo, "bin_hi": hi, "l_quantity_cnt": c}
                for i, (lo, hi, c) in enumerate(zip(edges, edges[1:], [5, 20, 26]))]
        self.assertEqual(checks.check_explore(self.con, call, rows), [])
        rows[2]["l_quantity_cnt"] = 25
        self.assertTrue(checks.check_explore(self.con, call, rows))

    def test_distplot_centers(self):
        call = {"api": "distplot", "series": [["lineitem", "l_quantity"]], "bins": 2}
        rows = [{"bin_id": 0, "bin_center": 12.5, "l_quantity_cnt": 25},
                {"bin_id": 1, "bin_center": 37.5, "l_quantity_cnt": 26}]
        self.assertEqual(checks.check_explore(self.con, call, rows), [])
        rows[1]["bin_center"] = 37.0
        self.assertTrue(checks.check_explore(self.con, call, rows))

    def test_min_equals_max_is_one_closed_bin(self):
        call = {"api": "histogram", "series": [["lineitem", "l_quantity", "l_quantity = 7"]], "bins": 10}
        self.assertEqual(checks.check_explore(self.con, call, self.hist([7.0, 7.0], [1])), [])
        self.assertTrue(checks.check_explore(self.con, call, self.hist([7.0, 7.0], [0])))

    def test_grouped_and_minmax(self):
        call = {"api": "histogramBy", "table": "lineitem", "value": "l_quantity",
                "group": "l_returnflag", "bins": 2}
        # odd values are "A", even values "N"; bins [0, 25) and [25, 50]
        rows = [{"l_returnflag": "A", "bin_id": 0, "cnt": 12}, {"l_returnflag": "A", "bin_id": 1, "cnt": 13},
                {"l_returnflag": "N", "bin_id": 0, "cnt": 13}, {"l_returnflag": "N", "bin_id": 1, "cnt": 13}]
        self.assertEqual(checks.check_explore(self.con, call, rows), [])
        rows[3]["cnt"] = 12
        self.assertTrue(checks.check_explore(self.con, call, rows))
        mm = {"api": "minMax", "table": "lineitem", "cols": ["l_quantity"]}
        self.assertEqual(checks.check_explore(self.con, mm, [{"l_quantity_min": 0.0, "l_quantity_max": math.nan}]), [])
        self.assertTrue(checks.check_explore(self.con, mm, [{"l_quantity_min": 0.0, "l_quantity_max": 50.0}]))


class IngestCheckTest(unittest.TestCase):
    call = {"api": "ingest", "lo": 10, "hi": 13}

    def rows(self, dups):
        return [{"doc_id": i, "dup_of": dups.get(i, (None, None))[0], "jaccard": dups.get(i, (None, None))[1]}
                for i in range(10, 13)]

    def test_batch(self):
        exact = {11, 12}
        self.assertEqual(checks.check_ingest_batch(self.call, self.rows({11: (3, 0.9)}), exact), [])
        self.assertTrue(checks.check_ingest_batch(self.call, self.rows({11: (11, 0.9)}), exact))
        self.assertTrue(checks.check_ingest_batch(self.call, self.rows({11: (3, 0.7)}), exact))
        self.assertTrue(checks.check_ingest_batch(self.call, self.rows({10: (3, 0.9)}), exact))
        self.assertTrue(checks.check_ingest_batch(self.call, self.rows({})[:2], exact))

    def test_registry(self):
        with tempfile.TemporaryDirectory() as tmp:
            reg = [{"band": b, "bh": 100 + b, "rep_id": b} for b in range(4)]
            write(os.path.join(tmp, "a"), reg)
            write(os.path.join(tmp, "b"), reg)
            write(os.path.join(tmp, "c"), reg[:3] + [{"band": 3, "bh": 103, "rep_id": 9}])
            self.assertEqual(checks.check_registry(os.path.join(tmp, "a"), os.path.join(tmp, "b")), [])
            self.assertTrue(checks.check_registry(os.path.join(tmp, "a"), os.path.join(tmp, "c")))


if __name__ == "__main__":
    unittest.main()
