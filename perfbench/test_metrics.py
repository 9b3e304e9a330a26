"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)
        # touching intervals do not double count
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)

    def test_gap_is_wall_minus_union_of_jobs(self):
        # span 0..10, serial jobs 1..3 and 6..7: gap = 10 - 3
        self.assertAlmostEqual(metrics.gap(0, 10, [(1, 3), (6, 7)]), 7)

    def test_gap_with_overlapping_probe_jobs(self):
        # concurrent jobs (as the dense-PK probes' futures run them)
        # overlap; the union counts their shared stretch once
        jobs = [(1, 5), (2, 6), (3, 4), (8, 9)]
        self.assertAlmostEqual(metrics.gap(0, 10, jobs), 10 - (5 + 1))

    def test_gap_clips_jobs_to_the_span(self):
        self.assertAlmostEqual(metrics.gap(2, 10, [(0, 4), (9, 12)]), 8 - 3)

    def test_self_time_is_span_minus_children(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 4), (5, 9)]), 3)
        # overlapping children cover their union once
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 6), (4, 8)]), 3)
        self.assertAlmostEqual(metrics.self_time((0, 10), []), 10)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p90 leaves exactly 10 beyond; p95 would leave 5
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90, 100))
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail_percentile(xs), (99.0, 990, 1000))
        xs = list(range(1, 20001))
        self.assertEqual(metrics.tail_percentile(xs), (99.9, 19980, 20000))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(list(reversed(xs))), (90.0, 90, 100))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2]), (100.0, 3, 3))
        self.assertEqual(metrics.tail_percentile(list(range(20))), (50.0, 9, 20))
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])


class FailedFracTest(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(metrics.failed_frac(10, 0), 0.0)
        self.assertEqual(metrics.failed_frac(8, 2), 0.25)
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            metrics.failed_frac(3, 4)


def raw_record(spans, jobs, ops=None, phases=(), facts=()):
    return {
        "spans": spans, "jobs": jobs, "phases": list(phases), "facts": list(facts),
        "ops": ops or [], "setup_s": 1.5, "held_bytes": 2**20,
        "attempted": 3, "failed": 0,
    }


S = 1_000_000_000  # ns per s
MS = 1000  # ms per s


class AttributionTest(unittest.TestCase):
    def test_job_belongs_to_innermost_open_span(self):
        spans = [{"id": 0, "start": 0, "end": 10}, {"id": 1, "start": 2, "end": 5}]
        jobs = [{"start": 1}, {"start": 3}, {"start": 6}, {"start": 11}]
        got = metrics.attribute_jobs(spans, jobs)
        self.assertEqual([j["start"] for j in got[0]], [1, 6])
        self.assertEqual([j["start"] for j in got[1]], [3])

    def test_span_stats_roll_children_up(self):
        # root 0..10 s with child 2..6 s; jobs in ms: one in the root, two
        # overlapping in the child
        spans = [[0, -1, "graph.HeteroGraph.save", 0, 0, 10 * S],
                 [1, 0, "inner", 0, 2 * S, 6 * S]]
        jobs = [[0, 500, 1500, 4, 2 * S, 2**20],
                [1, 3 * MS, 5 * MS, 2, S, 0],
                [2, 4 * MS, 5500, 1, S, 2**20]]
        st = metrics.span_stats(raw_record(spans, jobs))
        root = st["graph.HeteroGraph.save"][0]
        self.assertEqual(root["jobs"], 3)
        self.assertEqual(root["tasks"], 7)
        self.assertAlmostEqual(root["cpu"], 4.0)
        self.assertEqual(root["shuffle"], 2 * 2**20)
        self.assertAlmostEqual(root["self"], 10 - 4)
        self.assertAlmostEqual(root["gap"], 10 - (1 + 2.5))
        inner = st["inner"][0]
        self.assertEqual(inner["jobs"], 2)
        self.assertAlmostEqual(inner["gap"], 4 - 2.5)

    def test_phase_children_give_self_time(self):
        spans = [[0, -1, "learn.TrainLR.train", 0, 0, 10 * S]]
        phases = [[0, "propagate", 3.0], [0, "fit", 4.0], [0, "valMetrics", 1.0]]
        facts = [[0, "fit_iters", 12.0]]
        raw = raw_record(spans, [], phases=phases, facts=facts)
        st = metrics.span_stats(raw)["learn.TrainLR.train"][0]
        self.assertAlmostEqual(st["self"], 2.0)
        layer = metrics.per_layer(raw)
        self.assertEqual(layer["learn.TrainLR.train.fit.wall_s"], (4.0, "s"))
        self.assertEqual(layer["learn.TrainLR.train.fit_iters"], (12.0, "count"))

    def test_per_layer_reports_every_call(self):
        raw = raw_record([[0, -1, "serve.Recommend.recommend", 0, 0, S // 2]],
                         [[0, 100, 300, 8, S // 10, 2048]],
                         ops=[{"traced": True, "wall_ns": 110},
                              {"traced": False, "wall_ns": 100}])
        layer = metrics.per_layer(raw)
        self.assertEqual(layer["serve.Recommend.recommend.jobs"], (1, "count"))
        self.assertAlmostEqual(layer["serve.Recommend.recommend.gap_ms"][0], 300)
        self.assertAlmostEqual(layer["serve.Recommend.recommend.shuffle_kb"][0], 2)
        self.assertAlmostEqual(layer["trace_overhead_pct"][0], 10.0)
        for call in metrics.CALLS:
            self.assertIn(f"{call}.{'jobs'}", layer)
        self.assertEqual(layer["ext.Dedup.dedupGroups.jobs"], (0, "count"))


    def test_set_up_calls_count_only_when_nothing_timed(self):
        spans = [[0, -1, "serve.Recommend.recommend", -1, 0, 9 * S],
                 [1, -1, "serve.Recommend.recommend", 0, 10 * S, 11 * S],
                 [2, -1, "graph.HeteroGraph.load", -1, 12 * S, 14 * S]]
        layer = metrics.per_layer(raw_record(spans, []))
        self.assertAlmostEqual(layer["serve.Recommend.recommend.wall_ms"][0], 1000)
        self.assertAlmostEqual(layer["graph.HeteroGraph.load.wall_s"][0], 2)


class EndToEndTest(unittest.TestCase):
    def test_untraced_ops_only(self):
        ops = [{"traced": False, "wall_ns": w * 1_000_000} for w in (100, 300, 200)]
        ops.append({"traced": True, "wall_ns": 10**12})
        e2e, extra = metrics.end_to_end(raw_record([], [], ops=ops))
        self.assertEqual(e2e["op_p50_ms"], (200.0, "ms"))
        self.assertEqual((extra["tail_percentile"], extra["tail_ms"]), (100.0, 300.0))
        self.assertAlmostEqual(extra["ops_per_s"], 3 / 0.6)
        self.assertEqual(sorted(e2e), ["held_mb", "op_p50_ms", "setup_s"])
        self.assertEqual(e2e["held_mb"], (1.0, "MB"))
        self.assertEqual(extra["samples"], 3)

    def test_held_split(self):
        raw = raw_record([], [], ops=[{"traced": False, "wall_ns": 1}])
        raw["bench_held_bytes"] = 2**20 // 4
        e2e, extra = metrics.end_to_end(raw)
        self.assertEqual(e2e["held_mb"], (1.0, "MB"))
        self.assertEqual((extra["bench_held_mb"], extra["program_held_mb"]), (0.25, 0.75))


class PinsTest(unittest.TestCase):
    def test_compare(self):
        tol = {"abs": 1e-6, "rel": 1e-6}
        want = {"a": [1, 2.0, "x"], "b": {"c": 0.5}}
        self.assertEqual(metrics.compare_answers(want, {"a": [1, 2.0000001, "x"], "b": {"c": 0.5}}, tol), [])
        self.assertEqual(len(metrics.compare_answers(want, {"a": [1, 2.1, "x"], "b": {"c": 0.5}}, tol)), 1)
        self.assertEqual(len(metrics.compare_answers(want, {"a": [2, 2.0, "x"], "b": {}}, tol)), 2)
        self.assertEqual(len(metrics.compare_answers(want, {"a": [1, 2.0]}, tol)), 2)

    def test_write_then_compare(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "pins.json")
            metrics.write_pins(p, "serve", {"x": [1.0]})
            metrics.write_pins(p, "graph-iterate", {"y": 2})
            import json
            with open(p) as fh:
                pins = json.load(fh)
            self.assertEqual(sorted(pins["answers"]), ["graph-iterate", "serve"])


if __name__ == "__main__":
    unittest.main()
