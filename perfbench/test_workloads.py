"""Tests of the benchmark's own logic (no engine, no data files needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import json
import os
import unittest

import oracle
import run
import workloads

DOMAINS = {"customer": list(range(1500)), "supplier": list(range(100)),
           "part": list(range(0, 2000, 7))}
ROWS = [{"o_orderkey": k, "o_custkey": k % 150, "o_orderstatus": "F",
         "o_totalprice": 1000.0 + k, "o_orderdate": datetime.datetime(1996, 1, 1),
         "o_orderpriority": "1-URGENT"} for k in range(500)]


def dump(x):
    return json.dumps(x, sort_keys=True, default=str).encode()


class SeededInputs(unittest.TestCase):
    def lists(self, seed):
        names = [f"q{i}" for i in range(40)]
        writes, _ = workloads.write_ops(seed, 30, ROWS, DOMAINS["customer"])
        return (dump(workloads.read_requests(seed, 50, DOMAINS)), dump(writes),
                dump(workloads.suite_orders(names, seed, 2)))

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.lists(7), self.lists(7))

    def test_other_seed_other_lists(self):
        for a, b in zip(self.lists(7), self.lists(8)):
            self.assertNotEqual(a, b)

    def test_mix_follows_patterns(self):
        reqs = workloads.read_requests(3, 2 * len(workloads.READ_PATTERN), DOMAINS)
        self.assertEqual([r["kind"] for r in reqs], list(workloads.READ_PATTERN) * 2)
        writes, _ = workloads.write_ops(3, 10, ROWS, DOMAINS["customer"])
        self.assertEqual([w["kind"] for w in writes], list(workloads.WRITE_PATTERN) * 2)


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 101))  # 100 samples
        # p90 is the 90th value with 10 above it; p95 would leave only 5
        self.assertEqual(workloads.tail(values), (90, 90, 10))
        # 1000 samples: p99 leaves 10 above it, p99.9 only 1
        self.assertEqual(workloads.tail(list(range(1, 1001))), (99, 990, 10))

    def test_short_window_reports_p90_not_the_median(self):
        self.assertEqual(workloads.tail(list(range(1, 23))), (90, 20, 2))
        self.assertEqual(workloads.tail(list(range(1, 100))), (90, 90, 9))
        self.assertEqual(workloads.tail([]), (90, 0.0, 0))


class MixMean(unittest.TestCase):
    def test_groups_weighted_by_count_at_their_median(self):
        samples = [("a", 1.0), ("a", 2.0), ("a", 90.0), ("b", 10.0)]
        # a: 3 samples at median 2; b: 1 at 10
        self.assertEqual(workloads.mix_mean(samples), (3 * 2.0 + 10.0) / 4)
        self.assertEqual(workloads.mix_mean([]), 0.0)


class SuiteSample(unittest.TestCase):
    def setUp(self):
        with open(run.SAMPLE) as f:
            self.file = json.load(f)

    def test_covers_every_family(self):
        sample = self.file["sample"]
        self.assertEqual(len(sample), workloads.SUITE_SIZE)
        self.assertEqual(len(set(sample)), len(sample))
        self.assertEqual({workloads.family(q) for q in sample},
                         set(workloads.FAMILIES) | {"other"})

    def test_drawn_from_the_measured_pass(self):
        cost = self.file["cost_s"]
        self.assertEqual(len(cost), self.file["pass"]["queries"])
        self.assertEqual(workloads.suite_sample(cost), self.file["sample"])
        self.assertEqual(workloads.compare(cost, self.file["sample"]), self.file["comparison"])

    def test_seats_follow_family_sizes(self):
        self.assertEqual(workloads.allot({"a": 100, "b": 10, "c": 1}, 6), {"a": 4, "b": 1, "c": 1})
        self.assertEqual(workloads.allot({"a": 3, "b": 3}, 4), {"a": 2, "b": 2})

    def test_query_nearest_each_stratum_mean(self):
        cost = {f"agg_{i}": float(i) for i in range(9)} | {"graph_x": 1.0}
        self.assertEqual(workloads.suite_sample(cost, 4), ["agg_1", "agg_4", "agg_7", "graph_x"])
        skewed = {"ts_a": 1.0, "ts_b": 2.0, "ts_c": 3.0, "ts_d": 4.0, "ts_e": 20.0}
        self.assertEqual(workloads.suite_sample(skewed, 1), ["ts_d"])


class WriteModel(unittest.TestCase):
    def test_model_follows_mutations(self):
        ops, after = workloads.write_ops(5, 10, ROWS, DOMAINS["customer"])
        for op, (scan, orders) in zip(ops, after):
            if op["kind"] == "delete":
                self.assertEqual(scan, [])
            else:
                self.assertEqual([r["o_orderkey"] for r in scan], [op["key"]])
            self.assertTrue(all(o["o_custkey"] == op["cust"] for o in orders))
        inserted = [o["key"] for o in ops if o["kind"] == "insert"]
        self.assertEqual(inserted, list(range(500, 500 + len(inserted))))


class Digest(unittest.TestCase):
    def test_order_insensitive(self):
        a = [{"k": 1, "v": [3.5, 1.0]}, {"k": 2, "v": None}]
        b = [{"v": None, "k": 2}, {"v": [1.0, 3.5], "k": 1}]
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        self.assertNotEqual(oracle.digest(a), oracle.digest(a[:1]))

    def test_canonical_values(self):
        self.assertEqual(oracle.canon(1.0), "d:3ff0000000000000")
        self.assertEqual(oracle.canon(datetime.datetime(1970, 1, 1, 0, 0, 1)), "t:1000000")
        self.assertEqual(oracle.canon(datetime.date(1970, 1, 2)),
                         oracle.canon(datetime.datetime(1970, 1, 2)))
        self.assertEqual(oracle.canon({"b": "x,y", "a": True}), "{a=b:true,b=s:x\\,y}")


class BenchmarkFile(unittest.TestCase):
    def test_matches_runner(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         list(run.PER_LAYER))
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))


if __name__ == "__main__":
    unittest.main()
