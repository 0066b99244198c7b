import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 = 90, ten above it
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        with self.assertRaises(ValueError):
            stats.percentile(xs[:99], 0.9)  # only nine above

    def test_median_needs_twenty(self):
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 0.5)

    def test_min_samples(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)
        self.assertEqual(stats.min_samples(0.75), 40)
        for q in (0.5, 0.75, 0.9, 0.95):
            n = stats.min_samples(q)
            stats.percentile(range(n), q)
            with self.assertRaises(ValueError):
                stats.percentile(range(n - 1), q)

    def test_tail_picks_highest_allowed(self):
        self.assertEqual(stats.tail(list(range(100)))[0], 0.9)
        self.assertEqual(stats.tail(list(range(60)))[0], 0.75)
        self.assertIsNone(stats.tail(list(range(39))))

    def test_unsorted_input(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(stats.percentile(xs, 0.5), 3)


def span(kind, start, end, **kw):
    return dict(kind=kind, start=start, end=end, **kw)


DEPTH = ["iteration", "build", "action", "job", "stage"]


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span("iteration", 0, 100), span("build", 0, 60),
                 span("action", 60, 95), span("job", 10, 30),
                 span("stage", 12, 20)]
        self.assertEqual(stats.exclusive(spans, DEPTH), {
            "iteration": 5, "build": 40, "action": 35, "job": 12,
            "stage": 8})

    def test_overlapping_children_count_once(self):
        # Two concurrent stages inside one job: their union, not their sum.
        spans = [span("job", 0, 100), span("stage", 10, 50),
                 span("stage", 30, 70), span("stage", 60, 65)]
        got = stats.exclusive(spans, DEPTH)
        self.assertEqual(got["stage"], 60)
        self.assertEqual(got["job"], 40)
        self.assertEqual(sum(got.values()), 100)

    def test_child_sticking_out_of_parent(self):
        # Millisecond listener times may overrun the harness span a little;
        # the overrun is charged to the child, and nothing is counted twice.
        spans = [span("build", 0, 10), span("job", 8, 12)]
        got = stats.exclusive(spans, DEPTH)
        self.assertEqual(got["build"], 8)
        self.assertEqual(got["job"], 4)

    def test_sums_to_union(self):
        spans = [span("iteration", 0, 50), span("iteration", 60, 80),
                 span("job", 40, 70)]
        self.assertEqual(sum(stats.exclusive(spans, DEPTH).values()), 80)

    def test_empty_and_zero_length(self):
        self.assertEqual(stats.exclusive([span("job", 5, 5)], DEPTH)["job"], 0)


def raw(kind, start, end, id=-1, parent=-1, job=-1, query="q", sweep=0):
    return dict(kind=kind, start_us=start, end_us=end, id=id, parent=parent,
                job=job, query=query, sweep=sweep, name=kind)


class Attach(unittest.TestCase):
    def test_parents_by_window_and_job(self):
        spans = [raw("iteration", 0, 100_000, id=1),
                 raw("build", 0, 50_000, id=11, parent=1),
                 raw("action", 50_000, 90_000, id=12, parent=1),
                 raw("batch", 10_000, 40_000),
                 raw("job", 20_000, 30_000, job=7),
                 raw("job", 60_000, 80_000, job=8),
                 raw("stage", 61_000, 70_000, job=8)]
        tree = stats.attach(spans)
        by = {(s["kind"], s["start"]): s for s in tree}
        batch = by[("batch", 10_000)]
        self.assertEqual(batch["parent"], 11)
        self.assertEqual(by[("job", 20_000)]["parent"], batch["id"])
        job8 = by[("job", 60_000)]
        self.assertEqual(job8["parent"], 12)
        self.assertEqual(by[("stage", 61_000)]["parent"], job8["id"])

    def test_other_query_is_not_a_parent(self):
        spans = [raw("build", 0, 50_000, id=11, query="a"),
                 raw("job", 10_000, 20_000, query="b")]
        self.assertEqual(stats.attach(spans)[1]["parent"], -1)


if __name__ == "__main__":
    unittest.main()
