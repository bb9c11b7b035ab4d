"""Self-test of the benchmark's pure helpers.

Run: python3 -m unittest discover -s kgbench -p 'test_*.py'
"""
import json
import os
import unittest

import rollup

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, name, start, end, parent=-1, op=1, tag=""):
    return {"id": i, "name": name, "parent": parent, "op": op, "tag": tag, "start_ms": start, "end_ms": end}


class PercentileRule(unittest.TestCase):
    def test_212_samples_give_p95(self):
        self.assertEqual(rollup.tail_percentile(212), 95)

    def test_boundaries(self):
        self.assertEqual(rollup.tail_percentile(20), 50)
        self.assertEqual(rollup.tail_percentile(100), 90)
        self.assertIsNone(rollup.tail_percentile(19))
        self.assertIsNone(rollup.tail_percentile(5))

    def test_at_least_ten_samples_beyond(self):
        for n in range(20, 500):
            p = rollup.tail_percentile(n)
            values = list(range(n))
            beyond = sum(1 for v in values if v > rollup.percentile(values, p))
            self.assertGreaterEqual(beyond, 10, n)

    def test_tail_falls_back_to_max(self):
        self.assertEqual(rollup.tail([3.0, 1.0, 2.0]), ("max", 3.0))
        self.assertEqual(rollup.tail([float(i) for i in range(1, 101)]), ("p90", 90.0))


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        parent = span(0, "build", 0, 100)
        kids = [span(1, "a", 10, 30, 0), span(2, "b", 40, 70, 0)]
        self.assertEqual(rollup.self_time(parent, kids), 50)

    def test_overlap_counted_once_and_clipped(self):
        parent = span(0, "p", 0, 100)
        kids = [span(1, "a", -5, 20, 0), span(2, "b", 10, 30, 0), span(3, "c", 90, 120, 0)]
        self.assertEqual(rollup.self_time(parent, kids), 100 - 30 - 10)

    def test_leaf_self_time_is_wall(self):
        self.assertEqual(rollup.self_time(span(0, "x", 5, 25), []), 20)


class Skew(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(rollup.skew([10, 10, 40]), 4.0)

    def test_single_task_and_tiny_median(self):
        self.assertEqual(rollup.skew([7]), 1.0)
        self.assertEqual(rollup.skew([0, 0, 5]), 5.0)


class Attribution(unittest.TestCase):
    def setUp(self):
        self.spans = [span(0, "build", 0, 100), span(1, "corpus", 10, 40, 0), span(2, "cluster", 50, 90, 0)]
        self.jobs = [
            {"id": 0, "submit_ms": 12, "end_ms": 30, "stage_ids": [0, 1], "site": "parquet at X.scala:1"},
            {"id": 1, "submit_ms": 55, "end_ms": 60, "stage_ids": [2], "site": "head at ConnectedComponents.scala:95"},
            {"id": 2, "submit_ms": 45, "end_ms": 48, "stage_ids": [3], "site": ""},
        ]
        self.stages = [
            {"id": 0, "attempt": 0, "tasks": 2, "cpu_ns": 2e9, "shuffle_write_bytes": 2**20, "spill_bytes": 0,
             "peak_mem_bytes": 2**21, "durations_ms": [5, 15]},
            {"id": 2, "attempt": 0, "tasks": 1, "cpu_ns": 1e9, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "peak_mem_bytes": 0, "durations_ms": [3]},
            {"id": 3, "attempt": 0, "tasks": 1, "cpu_ns": 5e8, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "peak_mem_bytes": 0, "durations_ms": [1]},
        ]

    def test_innermost_span_by_submission_time(self):
        self.assertEqual(rollup.attribute_jobs(self.spans, self.jobs), {0: 1, 1: 2, 2: 0})

    def test_inclusive_stats(self):
        st = rollup.span_stats(self.spans, self.jobs, self.stages)
        self.assertEqual(st[1]["jobs"], 1)
        self.assertEqual(st[1]["cpu_s"], 2.0)
        self.assertEqual(st[1]["shuffle_mb"], 1.0)
        self.assertEqual(st[1]["peak_task_mem_mb"], 2.0)
        self.assertEqual(st[1]["task_skew"], 1.5)
        self.assertEqual(st[1]["driver_s"], (30 - 18) / 1e3)
        self.assertEqual(st[2]["cc_iter_jobs"], 1)
        self.assertEqual(st[0]["jobs"], 3)
        self.assertEqual(st[0]["cpu_s"], 3.5)
        self.assertEqual(st[0]["self_s"], (100 - 70) / 1e3)
        self.assertEqual(st[0]["driver_s"], (100 - 18 - 3 - 5) / 1e3)


class StealCorrection(unittest.TestCase):
    def test_granted_share(self):
        self.assertEqual(rollup.granted({"busy_ticks": 300, "stolen_ticks": 100}), 0.75)
        self.assertEqual(rollup.granted({"busy_ticks": 0, "stolen_ticks": 0}), 1.0)


class PanelSelection(unittest.TestCase):
    def q(self, name, family, wall):
        return {"name": name, "family": family, "wall_s": wall}

    def test_slowest_that_fit_the_family_share(self):
        qs = [self.q("a1", "a", 4.0), self.q("a2", "a", 3.0), self.q("a3", "a", 2.0), self.q("a4", "a", 1.0),
              self.q("b1", "b", 6.0), self.q("b2", "b", 4.0)]
        # budget 5 of a 20 s pass: a gets 2.5 s, b gets 2.5 s
        picked = [q["name"] for q in rollup.select_panel(qs, 5.0)]
        self.assertEqual(picked, ["a3", "b2"])

    def test_first_fit_skips_what_does_not_fit(self):
        qs = [self.q("a1", "a", 5.0), self.q("a2", "a", 3.0), self.q("a3", "a", 1.5), self.q("a4", "a", 0.5)]
        self.assertEqual([q["name"] for q in rollup.select_panel(qs, 4.0)], ["a2", "a4"])

    def test_every_family_is_represented(self):
        qs = [self.q("a1", "a", 9.0), self.q("b1", "b", 1.0), self.q("b2", "b", 0.5)]
        # neither family's share fits any query: each takes its fastest
        self.assertEqual([q["name"] for q in rollup.select_panel(qs, 1.0)], ["a1", "b2"])


    def test_required_queries_count_against_the_share(self):
        qs = [self.q("a1", "a", 4.0), self.q("a2", "a", 2.0), self.q("a3", "a", 1.0), self.q("a4", "a", 0.5)]
        picked = [q["name"] for q in rollup.select_panel(qs, 3.0, required={"a4"})]
        self.assertEqual(picked, ["a4", "a2"])


class Contract(unittest.TestCase):
    def test_declared_metrics_match_rollup(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], rollup.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], rollup.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
