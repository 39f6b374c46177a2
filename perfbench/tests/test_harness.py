"""Self-tests of the benchmark harness (no JVM, no Spark):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import stats  # noqa: E402

PANEL = [[f"q_{m}", m] for m in ("etl", "ml", "tpch", "llm", "eval")]


class SeededInputs(unittest.TestCase):

    def test_same_seed_same_order(self):
        self.assertEqual(inputs.sweep_order(7, PANEL), inputs.sweep_order(7, PANEL))

    def test_different_seeds_differ(self):
        orders = {str(inputs.sweep_order(s, PANEL)) for s in range(10)}
        self.assertGreater(len(orders), 1)
        self.assertNotEqual(inputs.split_seed(1), inputs.split_seed(2))
        self.assertNotEqual(inputs.serve_stream(1, 300, 20, 100),
                            inputs.serve_stream(2, 300, 20, 100))

    def test_order_is_a_permutation_of_the_panel(self):
        for seed in range(10):
            self.assertEqual(sorted(inputs.sweep_order(seed, PANEL)), sorted(PANEL))

    def test_same_seed_same_stream(self):
        self.assertEqual(inputs.serve_stream(5, 500, 30, 100),
                         inputs.serve_stream(5, 500, 30, 100))
        requests = inputs.serve_stream(5, 500, 30, 100)[1]
        self.assertEqual(inputs.check_bodies(5, requests, 4),
                         inputs.check_bodies(5, requests, 4))

    def test_stream_shape(self):
        bodies, requests = inputs.serve_stream(3, 1000, 50, 250)
        self.assertEqual(len(requests), 1000)
        self.assertEqual([(i, b) for i, (k, b) in enumerate(requests, 1) if k == "train"],
                         [(250, 1), (500, 2), (750, 3)])
        kinds = [k for k, _ in requests]
        self.assertEqual((kinds.count("smoke"), kinds.count("metrics")),
                         (round(0.04 * 997), round(0.004 * 997)))
        uploads = [b for k, b in requests if k == "upload"]
        self.assertTrue(all(0 <= b < 50 for b in uploads))
        # skewed reuse: some body repeats
        self.assertLess(len(set(uploads)), len(uploads))
        for body in bodies:
            lines = body.strip().split("\n")
            self.assertEqual(lines[0], "l_quantity,l_extendedprice,l_discount,l_tax")
            self.assertTrue(1 <= len(lines) - 1 <= 100)


class Percentiles(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))          # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_p95_of_200_has_ten_samples_above(self):
        xs = list(range(200))
        p = stats.percentile(xs, 95)
        self.assertGreaterEqual(sum(1 for x in xs if x > p), 10)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)


class SelfTime(unittest.TestCase):

    def span(self, i, parent, start, end, layer="x"):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
                "layer": layer}

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, 0, 100, "root"),
                 self.span(2, 1, 10, 40, "io"),
                 self.span(3, 1, 30, 60, "ml"),     # overlaps sibling 2
                 self.span(4, 2, 15, 20, "io")]     # grandchild
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)           # children cover 10..60
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_children_are_clipped_to_parent_and_open_spans_skipped(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 0, 15),
                 self.span(3, 1, 18, -1)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 10 - 5)
        self.assertNotIn(3, st)

    def test_by_layer_and_subtree(self):
        spans = [self.span(1, 0, 0, 1_000_000_000, "root"),
                 self.span(2, 1, 0, 250_000_000, "io"),
                 self.span(3, 1, 500_000_000, 750_000_000, "io"),
                 self.span(4, 0, 0, 10, "setup")]
        by = stats.self_time_by_layer(spans)
        self.assertAlmostEqual(by["io"], 0.5)
        self.assertAlmostEqual(by["root"], 0.5)
        self.assertEqual(stats.subtree_ids(spans, 1), {1, 2, 3})


class JobAttribution(unittest.TestCase):

    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}

    def job(self, start, tasks):
        return {"start_ns": start, "end_ns": start + 5, "jobs": 1, "tasks": tasks}

    def test_job_goes_to_innermost_span_holding_its_start(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 2, 20, 30)]
        self.assertEqual(stats.enclosing_span(spans, 25), 3)
        self.assertEqual(stats.enclosing_span(spans, 35), 2)
        self.assertEqual(stats.enclosing_span(spans, 50), 1)
        self.assertEqual(stats.enclosing_span(spans, 150), 0)

    def test_jobs_from_other_threads_count_by_time(self):
        # a serving span on the harness thread; the server's handler
        # threads submit the jobs, and they still belong to it
        spans = [self.span(1, 0, 0, 10), self.span(2, 0, 20, 100),
                 self.span(3, 0, 110, -1)]          # still open: holds none
        jobs = [self.job(5, 4), self.job(30, 2), self.job(60, 1),
                self.job(105, 8), self.job(120, 16)]
        by = stats.counters_by_span(spans, jobs)
        self.assertEqual(by[1], {"jobs": 1, "tasks": 4})
        self.assertEqual(by[2], {"jobs": 2, "tasks": 3})
        self.assertEqual(by[0], {"jobs": 2, "tasks": 24})
        self.assertNotIn(3, by)


if __name__ == "__main__":
    unittest.main()
