"""Self-tests of the benchmark's own machinery. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import inputs, layers, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_ladder_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))            # 1..100: p90 has 10 beyond, p95 5
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        xs = list(range(1, 321))            # 320 samples: p95 has 16 beyond, p99 3
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct), (304, 95.0))
        self.assertEqual(sum(1 for x in xs if x > value), 16)
        # 1000 samples: p99 has exactly 10 beyond
        self.assertEqual(stats.tail(list(range(1, 1001)))[:2], (990, 99.0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5,
              12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        # 20 samples: p50 is the 10th smallest, with exactly 10 beyond it
        self.assertEqual(stats.tail(xs)[:2], (9.0, 50.0))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(19)))[:2], (18, 100.0))
        self.assertEqual(stats.tail(list(range(20)))[:2], (9, 50.0))


class SelfTime(unittest.TestCase):
    def span(self, a, b):
        return {"start": a, "end": b}

    def test_overlapping_children_count_once(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 40), self.span(30, 60), self.span(50, 55)]
        # children cover 10..60 = 50
        self.assertEqual(stats.self_time(parent, kids), 50)

    def test_children_are_clipped_to_the_parent(self):
        parent = self.span(0, 100)
        kids = [self.span(-20, 10), self.span(90, 130), self.span(200, 300)]
        self.assertEqual(stats.self_time(parent, kids), 80)

    def test_nested_and_disjoint_children(self):
        parent = self.span(0, 100)
        kids = [self.span(0, 50), self.span(10, 20), self.span(70, 80)]
        self.assertEqual(stats.self_time(parent, kids), 40)
        self.assertEqual(stats.self_time(parent, []), 100)

    def test_jobs_attach_to_the_innermost_containing_span(self):
        outer = {"id": 1, "start": 0, "end": 100}
        inner = {"id": 2, "start": 20, "end": 50}
        jobs = [{"id": 10, "start": 25}, {"id": 11, "start": 60}, {"id": 12, "start": 150}]
        self.assertEqual(stats.attach_jobs(jobs, [outer, inner]), {10: 2, 11: 1})

    def test_battery_self_time_from_spans(self):
        spans = [
            {"id": 1, "parent": 0, "trace": "q99_pagerank/0", "name": "battery.row",
             "start": 0, "end": 100, "row": "q99_pagerank"},
            {"id": 2, "parent": 1, "trace": "q99_pagerank/0", "name": "battery.build",
             "start": 0, "end": 60},
            {"id": 3, "parent": 1, "trace": "q99_pagerank/0", "name": "battery.exec",
             "start": 60, "end": 100},
            {"id": 4, "parent": 0, "trace": "job", "name": "core.job", "start": 10,
             "end": 30, "tasks": 2, "run_ms": 30, "cpu_ms": 20, "shuffle_read": 0,
             "shuffle_write": 0, "spill": 0},
            {"id": 5, "parent": 0, "trace": "job", "name": "core.job", "start": 20,
             "end": 40, "tasks": 2, "run_ms": 30, "cpu_ms": 20, "shuffle_read": 0,
             "shuffle_write": 0, "spill": 0},
            {"id": 6, "parent": 0, "trace": "job", "name": "core.job", "start": 61,
             "end": 99, "tasks": 4, "run_ms": 120, "cpu_ms": 100, "shuffle_read": 8,
             "shuffle_write": 8, "spill": 0},
        ]
        res = {"attempted": 1, "failed": 0, "gc_ms": 1.0, "heap_used_mb": 1.0,
               "rss_peak_mb": 1.0}
        m = layers.per_layer("batch", res, spans, 4)
        self.assertEqual(m["battery.q99_pagerank.build_jobs"][0], 2)
        self.assertEqual(m["battery.q99_pagerank.exec_jobs"][0], 1)
        self.assertEqual(m["battery.q99_pagerank.build_self_ms"][0], 30)  # 60 - (10..40)
        self.assertAlmostEqual(m["battery.q99_pagerank.build_share"][0], 0.6)
        self.assertEqual(m["core.jobs"][0], 3)
        self.assertEqual(set(m), set(layers.UNITS))


class SeededDraws(unittest.TestCase):
    def test_same_seed_same_draws(self):
        a = inputs.rng_for(7, "lookup-requests")
        b = inputs.rng_for(7, "lookup-requests")
        self.assertEqual(list(inputs.zipf_ranks(a, 1000, 500)),
                         list(inputs.zipf_ranks(b, 1000, 500)))
        self.assertEqual(inputs.lookup_requests(7, 300), inputs.lookup_requests(7, 300))

    def test_other_seed_other_draws(self):
        self.assertNotEqual(inputs.lookup_requests(7, 300), inputs.lookup_requests(8, 300))

    def test_zipf_is_skewed_toward_low_ranks(self):
        r = list(inputs.zipf_ranks(inputs.rng_for(1, "z"), 1000, 20000))
        self.assertGreater(r.count(0), 10 * max(1, r.count(500)))

    def test_streams_do_not_shift_each_other(self):
        x = inputs.rng_for(3, "a").random(5).tolist()
        inputs.rng_for(3, "b").random(100)
        self.assertEqual(x, inputs.rng_for(3, "a").random(5).tolist())


class Digest(unittest.TestCase):
    cols = ["rank", "doc_id", "score"]
    rows = [(1, 42, 0.5), (2, 7, 0.25), (3, 9, float("nan"))]

    def test_row_and_column_order_do_not_matter(self):
        d = stats.digest(self.cols, self.rows)
        swapped = [(r[1], r[0], r[2]) for r in reversed(self.rows)]
        self.assertEqual(d, stats.digest(["doc_id", "rank", "score"], swapped))

    def test_a_perturbed_row_is_rejected(self):
        d = stats.digest(self.cols, self.rows)
        self.assertNotEqual(d, stats.digest(self.cols, [(1, 42, 0.5000000001)] + self.rows[1:]))
        self.assertNotEqual(d, stats.digest(self.cols, self.rows[:2] + [(3, 8, float("nan"))]))
        self.assertNotEqual(d, stats.digest(self.cols, self.rows[:2]))
        self.assertNotEqual(d, stats.digest(self.cols, self.rows + [self.rows[0]]))

    def test_doubles_are_canonicalised_like_the_oracle_check(self):
        self.assertEqual(stats.canon(0.1 + 0.2), repr(0.1 + 0.2))
        self.assertEqual(stats.canon(float("nan")), "nan")
        self.assertEqual(stats.canon([1.5, 2]), "[1.5, 2]")


class Backlog(unittest.TestCase):
    def test_flat_latency_is_sustained(self):
        self.assertFalse(stats.backlog_grew([20.0, 25.0, 18.0, 40.0] * 50, 5000))

    def test_latency_climbing_with_due_time_is_a_grown_backlog(self):
        lat = [10.0 + 0.3 * i * 20 for i in range(250)]   # +0.3 s per second
        self.assertTrue(stats.backlog_grew(lat, 5000))


if __name__ == "__main__":
    unittest.main()
