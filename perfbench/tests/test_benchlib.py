"""Tests of the benchmark's own logic: seeded inputs, the tail-percentile
rule and span arithmetic. Run from the repository root:

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from benchlib import gen, stats  # noqa: E402

SCALE = {
    "index_docs": 100, "delta_docs": 10, "delta_batches": 2, "term_docs": 50,
    "queries": 200, "warmup_queries": 20, "batch_queries": 8,
    "dedup_docs": 100, "dedup_plants": 20, "dedup_warmup_passes": 2,
}


def dump(workload, seed):
    return json.dumps(gen.plan(workload, seed, SCALE), sort_keys=True).encode()


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            self.assertEqual(dump(w, 7), dump(w, 7), w)

    def test_different_seed_gives_different_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(dump(w, 7), dump(w, 8), w)

    def test_queries_cycle_the_kinds_in_equal_shares(self):
        qs = gen.plan("index", 3, SCALE)["queries"]
        kinds = [q["kind"] for q in qs]
        self.assertEqual(kinds[:5], list(gen.KINDS))
        self.assertEqual({k: kinds.count(k) for k in gen.KINDS}, {k: 40 for k in gen.KINDS})

    def test_query_terms_are_tier_slots(self):
        p = gen.plan("index", 3, SCALE)
        slots = [x for q in p["queries"] for f in ("text", "must", "should", "not") for x in q.get(f, [])]
        slots += [x for b in p["batch"] for x in b]
        self.assertTrue(slots)
        for tier, u in slots:
            self.assertIn(tier, ("head", "mid", "rare"))
            self.assertTrue(0.0 <= u < 1.0)

    def test_planted_copies_point_into_the_base_window(self):
        p = gen.plan("dedup", 5, SCALE)
        self.assertEqual([x[0] for x in p["plants"]], list(range(100, 120)))
        self.assertTrue(all(0 <= x[1] < 100 for x in p["plants"]))
        self.assertIn(0.0, [x[3] for x in p["plants"]])


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {20: 50.0, 100: 90.0, 199: 90.0, 200: 95.0, 1000: 99.0, 10000: 99.9}
        for n, pct in cases.items():
            xs = [float(i) for i in range(n)]
            v, got, count = stats.tail(xs)
            self.assertEqual((got, count), (pct, n), n)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            higher = [p for p in stats.TAIL_PERCENTILES if p > pct]
            if higher:
                w, _ = stats.nearest_rank(xs, min(higher))
                self.assertLess(sum(1 for x in xs if x > w), 10, n)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, None, 3))
        self.assertEqual(stats.tail([]), (0.0, None, 0))


def span(i, parent, start, end, synthetic=False):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "synthetic": synthetic,
            "name": f"s{i}", "layer": "x"}


class Summaries(unittest.TestCase):
    def test_geomean_weighs_every_value_alike(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 1, 12, 18)]
        self.assertEqual(stats.self_times(spans), {0: 60, 1: 14, 2: 30, 3: 6})

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_events_go_to_the_named_span_else_the_innermost_open_one(self):
        spans = [span(0, -1, 0, 10_000_000), span(1, 0, 2_000_000, 4_000_000),
                 span(2, 0, 5_000_000, 6_000_000, synthetic=True)]
        events = [{"span": "2", "t_ms": 9}, {"span": "", "t_ms": 3}, {"span": "", "t_ms": 5.5},
                  {"span": "", "t_ms": 20}]
        self.assertEqual(stats.attribute(spans, events), [2, 1, 0, None])

    def test_ancestor_chains(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 1, 2, 3)]
        self.assertEqual(stats.ancestors(spans), {0: [0], 1: [1, 0], 2: [2, 1, 0]})


if __name__ == "__main__":
    unittest.main()
