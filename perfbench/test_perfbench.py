"""Tests of the benchmark harness itself (no JVM needed).

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import shutil
import tempfile
import unittest

import gen
import spans
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, seed, star=1, text=1):
        return gen.generate(os.path.join(self.tmp, name), seed, star, text)

    def rows(self, d, table):
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(self.tmp, d, f"{table}.parquet"))
        return sorted(zip(*t.to_pydict().values()))

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.gen("a", 5, 1, 2), self.gen("b", 5, 1, 2))

    def test_other_seed_changes_copies_or_row_order(self):
        a, b = self.gen("a", 5), self.gen("b", 6)
        self.assertNotEqual(a["sha256"]["lineitem"], b["sha256"]["lineitem"])
        # dims are shared by every copy: same rows, seed-picked order
        self.assertEqual(self.rows("a", "nation"), self.rows("b", "nation"))

    def test_copies_are_disjoint_key_shifts_of_the_base(self):
        import pyarrow.parquet as pq
        info = self.gen("a", 3, 2, 3)
        self.assertEqual(len(info["copies"]["star"]), 2)
        self.assertEqual(len(info["copies"]["text"]), 3)
        self.assertIn(0, info["copies"]["text"])
        base = pq.read_table(os.path.join(gen.BASE, "customer.parquet"))
        cust = pq.read_table(os.path.join(self.tmp, "a", "customer.parquet"))
        keys = cust.column("c_custkey").to_pylist()
        self.assertEqual(len(keys), 2 * base.num_rows)
        self.assertEqual(len(set(keys)), len(keys))
        # every order still points at a customer of the same copy
        orders = pq.read_table(os.path.join(self.tmp, "a", "orders.parquet"))
        self.assertTrue(set(orders.column("o_custkey").to_pylist()) <= set(keys))
        docs = pq.read_table(os.path.join(self.tmp, "a", "documents.parquet"))
        self.assertEqual(docs.num_rows, 3 * pq.read_metadata(
            os.path.join(gen.BASE, "documents.parquet")).num_rows)
        vecs = pq.read_table(os.path.join(self.tmp, "a", "embeddings.parquet"))
        self.assertTrue(set(vecs.column("vec_id").to_pylist())
                        <= set(docs.column("doc_id").to_pylist()))

    def test_types_of_the_base_are_kept(self):
        import pyarrow.parquet as pq
        self.gen("a", 1)
        for t in gen.TABLES:
            self.assertEqual(
                pq.read_schema(os.path.join(self.tmp, "a", f"{t}.parquet")).remove_metadata(),
                pq.read_schema(os.path.join(gen.BASE, f"{t}.parquet")).remove_metadata(), t)


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units_are_valid_and_unique(self):
        names = [m[0] for m in wl.END_TO_END] + [m[0] for m in wl.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n, u, *_ in wl.END_TO_END + wl.PER_LAYER:
            self.assertRegex(n, NAME)
            self.assertRegex(u, UNIT)
        self.assertLessEqual(len(wl.PER_LAYER), 128)
        for n, u, better, bound in wl.END_TO_END:
            self.assertIn(better, ("lower", "higher"))
            self.assertTrue(0 < bound <= 0.25)
        setup = [m for m in wl.END_TO_END if m[0] == "setup_s"]
        self.assertEqual(setup[0][1:3], ("s", "lower"))
        self.assertEqual(setup[0][3], max(m[3] for m in wl.END_TO_END))

    def test_benchmark_json_mirrors_the_definitions(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual(b, wl.benchmark_json())

    def test_every_op_has_a_module(self):
        for w in wl.WORKLOADS.values():
            for op in w["ops"]:
                self.assertIn(wl.module_of(op), wl.MODULES + ["sources"])


def span(i, parent, start, end, layer="bench"):
    return {"id": i, "parent": parent, "kind": "k", "name": str(i),
            "layer": layer, "startMs": start, "endMs": end}


class SpanTreeTest(unittest.TestCase):
    TREE = [span(1, 0, 0, 100), span(2, 1, 10, 60, "RefQueries"),
            span(3, 2, 20, 40, "exec"), span(4, 2, 30, 55, "exec"),
            span(5, 1, 50, 90, "planner")]

    def test_self_time_never_exceeds_the_span(self):
        own = spans.self_times(self.TREE)
        for s in self.TREE:
            self.assertGreaterEqual(own[s["id"]], 0)
            self.assertLessEqual(own[s["id"]], s["endMs"] - s["startMs"])
        # 2 covers [10, 60]; its overlapping children cover [20, 55]
        self.assertEqual(own[2], 15)
        # 1 covers [0, 100]; children cover [10, 90]
        self.assertEqual(own[1], 20)

    def test_layer_self_times_group_spans_by_layer(self):
        per_layer = spans.layer_self_s(self.TREE, 1)
        self.assertEqual(set(per_layer), {"bench", "RefQueries", "exec", "planner"})
        self.assertAlmostEqual(per_layer["exec"], 0.02 + 0.025)
        self.assertAlmostEqual(per_layer["RefQueries"], 0.015)
        # the subtree of 2 leaves out its parent and its sibling
        self.assertEqual(set(spans.layer_self_s(self.TREE, 2)), {"RefQueries", "exec"})
        self.assertEqual(spans.check_tree(self.TREE), [])

    def test_malformed_trees_are_reported(self):
        self.assertTrue(spans.check_tree([span(1, 9, 0, 1)]))
        self.assertTrue(spans.check_tree([span(1, 2, 0, 1), span(2, 1, 0, 1)]))

    def test_child_outside_its_parent_is_reported(self):
        # a planner phase that ran in the build, parented to the sink
        op = [span(1, 0, 0, 100), span(2, 1, 0, 60, "RefQueries"),
              span(3, 1, 60, 100, "RefQueries"), span(4, 3, 20, 40, "planner")]
        problems = spans.check_tree(op)
        self.assertEqual(len(problems), 1)
        self.assertIn("span 4", problems[0])
        # parented to the build it lies in, it is well formed
        op[3]["parent"] = 2
        self.assertEqual(spans.check_tree(op), [])
        # a millisecond of clock rounding is tolerated
        self.assertEqual(spans.check_tree([span(1, 0, 10, 20), span(2, 1, 9, 21)]), [])

    def test_covered_merges_overlaps(self):
        self.assertEqual(spans.covered([(0, 5), (3, 8), (10, 12)], 0, 11), 9)


if __name__ == "__main__":
    unittest.main()
