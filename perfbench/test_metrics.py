"""Unit tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics as M
import run


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(xs, 100), 100)
        self.assertEqual(M.percentile([7], 99), 7)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: 10 lie beyond p90, 1 beyond p99 -> p90
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.beyond(100, 90), 10)
        # 99 samples: only 9 beyond p90 -> p75
        self.assertEqual(M.tail_percentile(99), 75.0)
        # 1000 samples: 10 beyond p99
        self.assertEqual(M.tail_percentile(1000), 99.0)
        # 10000 samples: 10 beyond p99.9
        self.assertEqual(M.tail_percentile(10000), 99.9)

    def test_tail_falls_back_to_median(self):
        self.assertEqual(M.tail_percentile(23), 50.0)
        self.assertEqual(M.tail_percentile(1), 50.0)

    def test_empty_percentile_is_an_error(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(M.union_length([(5, 15), (0, 10)]), 15)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)

    def test_outside_jobs_is_window_minus_job_union(self):
        # a query from 0 to 100 with jobs 10-30, 20-40 and 90-120
        # covered: 10-40 and 90-100
        self.assertEqual(M.uncovered((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        # a job entirely outside the window covers nothing
        self.assertEqual(M.uncovered((0, 100), [(200, 300)]), 100)
        self.assertEqual(M.uncovered((0, 100), []), 100)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, s, e, layer):
        return {"id": i, "parent": parent, "start_us": s, "end_us": e, "layer": layer}

    def test_self_time_subtracts_covered_children(self):
        spans = [
            self.span(1, 0, 0, 100, "bench"),
            self.span(2, 1, 10, 40, "operators"),
            self.span(3, 1, 40, 80, "exec"),
            self.span(4, 3, 50, 60, "Graft"),
        ]
        own = M.self_times(spans)
        # children of 1 cover 10..80 -> 30 left
        self.assertEqual(own[1], 30)
        self.assertEqual(own[2], 30)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 10)
        by_layer = M.self_by_layer(spans)
        self.assertAlmostEqual(by_layer["bench"], 30e-6)
        self.assertAlmostEqual(sum(by_layer.values()), 100e-6)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10, "a"), self.span(2, 1, 5, 50, "b")]
        self.assertEqual(M.self_times(spans)[1], 5)


class Pacer(unittest.TestCase):
    def test_lateness_is_actual_minus_due_never_negative(self):
        self.assertEqual(M.lateness([0, 100, 200], [5, 100, 190]), [5, 0, 0])

    def test_backlog_counts_landed_unread_files(self):
        slices = [{"actual_us": 0, "files": ["a"]}, {"actual_us": 10, "files": ["b"]},
                  {"actual_us": 20, "files": ["c", "d"]}]
        batches = [{"start_us": 5, "files": ["a"]}, {"start_us": 25, "files": ["b", "c", "d"]}]
        self.assertEqual(M.backlog_max(slices, batches), 3)


class OpenLoop(unittest.TestCase):
    slices = [{"k": 0, "due_us": 0, "files": ["s0"]},
              {"k": 1, "due_us": 1000, "files": ["s1a", "s1b"]},
              {"k": 2, "due_us": 2000, "files": ["s2"]}]
    batches = [{"start_us": 100, "end_us": 600, "files": ["s0", "s1a"]},
               {"start_us": 1500, "end_us": 2500, "files": ["s1b"]}]

    def test_slice_latency_runs_to_its_last_file_written(self):
        # s2 was never read: left out
        self.assertEqual(M.slice_latencies(self.slices, self.batches), [0.6, 1.5])

    def test_time_to_block_uses_first_batch_after_publish(self):
        versions = [{"publish_us": 1200, "ips": ["x"]}, {"publish_us": 9000, "ips": ["x", "y"]}]
        out = M.time_to_block({"x": 0, "y": 1}, self.slices, versions, self.batches)
        # x: batch starting at 1500 ends at 2500; y: no batch after 9000
        self.assertEqual(out, [0.0025])


class LakeTail(unittest.TestCase):
    def test_slowest_median_ignores_one_slow_sample(self):
        samples = {"a": [5, 1, 1, 1], "b": [2, 2, 3, 2]}
        self.assertEqual(M.slowest_median(samples), ("b", 2))


class Spread(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(M.quartile_spread([10] * 10), 0.0)
        self.assertGreater(M.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_what_run_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.E2E_UNITS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(run.PER_LAYER))
        self.assertEqual([m["unit"] for m in bench["per_layer"]],
                         [run.unit_of(n) for n in run.PER_LAYER])
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
