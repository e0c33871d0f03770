"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s kgbench -p 'test_*.py'
"""

import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import stats


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, want in [(19, None), (20, 50), (39, 50), (40, 75), (100, 90),
                        (199, 90), (200, 95), (1000, 99), (10000, 99.9)]:
            got = stats.tail_percentile(list(range(n)))
            self.assertEqual(None if got is None else got[0], want, n)

    def test_value_is_the_interpolated_percentile(self):
        p, v = stats.tail_percentile([float(x) for x in range(1, 101)])
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_jobs(self):
        spans = [{"id": "a", "name": "outer", "parent": None, "start_ms": 0.0, "end_ms": 100.0},
                 {"id": "b", "name": "inner", "parent": "a", "start_ms": 10.0, "end_ms": 40.0}]
        jobs = [
            # inside the child span, charged to it
            {"span": "b", "start_ms": 15.0, "end_ms": 25.0},
            # two jobs of the outer span overlapping each other and the child
            {"span": "a", "start_ms": 30.0, "end_ms": 60.0},
            {"span": "a", "start_ms": 50.0, "end_ms": 70.0},
            # outlives the span: only its part inside counts
            {"span": "a", "start_ms": 90.0, "end_ms": 120.0},
            # never saw its end: covers nothing
            {"span": "a", "start_ms": 80.0, "end_ms": -1.0},
            # another span's job, in the same interval
            {"span": "z", "start_ms": 0.0, "end_ms": 100.0},
        ]
        got = stats.self_times(spans, jobs)
        self.assertAlmostEqual(got["b"], 20.0)          # 30 - 10
        self.assertAlmostEqual(got["a"], 100 - 60 - 10)  # [10,70] and [90,100] busy

    def test_layer_stats_per_call(self):
        spans = [{"id": str(i), "name": "graph.related", "parent": None,
                  "start_ms": 0.0, "end_ms": 10.0 * (i + 1)} for i in range(3)]
        jobs = [{"span": "0", "start_ms": 0.0, "end_ms": 5.0, "shuffle_bytes": 30, "stored_bytes": 6},
                {"span": "1", "start_ms": 0.0, "end_ms": 5.0, "shuffle_bytes": 0, "stored_bytes": 0}]
        plans = [{"span": "0", "plan_ms": 4.0}, {"span": "0", "plan_ms": 2.0}, {"span": None, "plan_ms": 9.0}]
        s = stats.layer_stats(spans, jobs, plans)["graph.related"]
        self.assertEqual(s["calls"], 3)
        self.assertEqual(s["ms"], 20.0)
        self.assertAlmostEqual(s["jobs"], 2 / 3)
        self.assertEqual(s["plan_ms"], 0.0)  # median of 6, 0, 0
        self.assertEqual(s["driver_ms"], 15.0)  # 5, 15, 30
        self.assertAlmostEqual(s["shuffle_bytes"], 10.0)
        self.assertAlmostEqual(s["stored_bytes"], 2.0)


class GeneratorTest(unittest.TestCase):
    def serve(self, seed):
        _, labels, vecs = gen.embeddings(seed)
        return gen.serve_requests(seed, labels, vecs)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.serve(7), self.serve(7))
        self.assertEqual(gen.documents(7), gen.documents(7))
        w1, b1, q1 = gen.ingest_plan(7)
        w2, b2, q2 = gen.ingest_plan(7)
        self.assertEqual((w1, b1), (w2, b2))
        self.assertEqual(q1.tolist(), q2.tolist())

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.serve(7)[1], self.serve(8)[1])
        self.assertNotEqual(gen.documents(7)[1], gen.documents(8)[1])
        self.assertNotEqual(gen.ingest_plan(7)[1], gen.ingest_plan(8)[1])

    def test_mix_shares_hold_in_every_stretch(self):
        cycle = gen.mix_cycle()
        total = sum(gen.SERVE_MIX.values())
        self.assertEqual(len(cycle), total)
        for op, w in gen.SERVE_MIX.items():
            self.assertEqual(cycle.count(op), w)
            for start in range(total):  # any 10 consecutive ops
                window = (cycle * 2)[start:start + 10]
                self.assertLessEqual(abs(window.count(op) - w / 2), 1, (op, start))

    def test_ingest_batches_cover_every_document_once(self):
        warm, batches, q = gen.ingest_plan(3)
        ids = [d for b in batches for d, _ in b]
        self.assertEqual(sorted(ids), sorted("%d" % i for i in range(gen.N_DOCS)))
        self.assertTrue(all(len(b) == gen.BATCH_DOCS for b in batches))
        self.assertEqual(len(q), (len(batches) + 1) * gen.READ_ROUNDS)
        self.assertTrue(all(d.startswith("w") for d, _ in warm))


class ServeOracleTest(unittest.TestCase):
    """A 5-node graph: a-b-c-d as a chain, plus a-e-d."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        ids = ["a", "b", "c", "d", "e"]
        pq.write_table(pa.table({"concept_id": ids, "label": ["L" + x for x in ids],
                                 "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [-1.0, 0.0], [0.5, 0.5]]}),
                       os.path.join(d, "concepts.parquet"))
        edges = [("a", "b", "T1"), ("b", "c", "T1"), ("c", "d", "T2"), ("a", "e", "T2"), ("e", "d", "T2")]
        pq.write_table(pa.table({"src": [e[0] for e in edges], "dst": [e[1] for e in edges],
                                 "rel_type": [e[2] for e in edges]}), os.path.join(d, "edges.parquet"))
        self.o = oracle.ServeOracle(d, [["T1"]])

    def tearDown(self):
        self.dir.cleanup()

    def test_related(self):
        self.assertIsNone(self.o.check(["related", "a"], [["b", 1], ["e", 1], ["c", 2], ["d", 2]]))
        self.assertIsNotNone(self.o.check(["related", "a"], [["b", 1], ["e", 1], ["c", 2]]))
        self.assertIsNone(self.o.check(["related_filtered", "a", "0"], [["b", 1], ["c", 2]]))

    def test_paths(self):
        self.assertIsNone(self.o.check(["find_path", "a", "d"], [[2, ["a", "e", "d"]]]))
        self.assertIsNotNone(self.o.check(["find_path", "a", "d"], [[3, ["a", "b", "c", "d"]]]))
        ok = [[2, ["a", "e", "d"]], [3, ["a", "b", "c", "d"]]]
        self.assertIsNone(self.o.check(["find_paths", "a", "d"], ok))
        self.assertIsNotNone(self.o.check(["find_paths", "a", "d"], ok[:1]))
        self.assertIsNotNone(self.o.check(["find_paths", "a", "d"], [[2, ["a", "c", "d"]]]))

    def test_search_allows_ties_only(self):
        got = [["a", 1.0], ["b", 0.9 / (0.82 ** 0.5)]]
        self.assertIsNone(self.o.check(["search", "1,0"], got + [["e", 0.5 ** 0.5]] + [["c", 0.0], ["d", -1.0]]))
        self.assertIsNotNone(self.o.check(["search", "1,0"], got))


if __name__ == "__main__":
    unittest.main()
