"""Tests of the benchmark's own statistics. Run from the repo root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


def span(id, parent, layer, t0, t1, name="x"):
    return {"id": id, "parent": parent, "layer": layer, "name": name, "t0": t0, "t1": t1}


def op(t0, t1, due=None, ok=True, kind="k", traced=False, rows=1):
    return {"kind": kind, "t0": t0, "t1": t1, "due": due, "ok": ok, "traced": traced,
            "rows": rows}


class TailPercentile(unittest.TestCase):
    def test_highest_ladder_step_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_chosen_step_always_leaves_ten_samples(self):
        for n in range(20, 3000, 7):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9, n)

    def test_too_few_samples_falls_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(5), 50.0)
        self.assertEqual(stats.tail_percentile(19), 50.0)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "catalog", 10, 40),
                 span(3, 1, "spark", 30, 60)]
        self.assertAlmostEqual(stats.self_times(spans)["op"], 0.050)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, "ext", 100, 200),
                 span(2, 1, "spark", 50, 150),
                 span(3, 1, "spark", 190, 260)]
        self.assertAlmostEqual(stats.self_times(spans)["ext"], 0.040)
        self.assertAlmostEqual(stats.self_times(spans)["spark"], 0.170)

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "curation", 0, 80),
                 span(3, 2, "spark", 0, 80)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["op"], 0.020)
        self.assertAlmostEqual(st["curation"], 0.0)

    def test_spans_attach_by_time_to_the_innermost_client_span(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "catalog", 10, 90),
                 span(3, stats.BY_TIME, "catalog", 20, 30, name="plan.analysis"),
                 span(4, stats.BY_TIME, "spark", 200, 210)]
        parents = {s["id"]: s["parent"] for s in stats.resolve_parents(spans)}
        self.assertEqual(parents[3], 2)
        self.assertEqual(parents[4], stats.ROOT)


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_the_due_time(self):
        # due at 1.0 s, started late at 1.5 s, done at 1.8 s: the stall counts
        self.assertAlmostEqual(stats.latency_s(op(1500, 1800, due=1000)), 0.8)
        self.assertAlmostEqual(stats.latency_s(op(1500, 1800)), 0.3)

    def test_backlog_counts_due_but_unfinished_ops(self):
        ops = [op(0, 3000, due=0), op(1000, 3100, due=1000), op(2000, 3200, due=2000),
               op(4000, 4100, due=4000)]
        self.assertEqual(stats.backlog_max(ops), 3)

    def test_grouped_ops_form_one_request(self):
        ops = [op(0, 500), dict(op(500, 1500), group="g"), dict(op(1500, 2000), group="g"),
               op(2000, 2100, due=1900)]
        self.assertEqual(sorted(stats.request_latencies(ops)), [0.2, 0.5, 1.5])

    def test_cpu_per_op_is_a_median_over_requests(self):
        ops = [dict(op(0, 1), cpu=1.0), dict(op(1, 2), cpu=9.0),  # a burst in one request
               dict(op(2, 3), cpu=2.0, group="g"), dict(op(3, 4), cpu=4.0, group="g")]
        self.assertEqual(stats.cpu_per_op(ops), 3.0)

    def test_busy_time_merges_open_stretches_and_adds_closed_ops(self):
        ops = [op(0, 500, due=0), op(1000, 1400, due=1000),  # open stretch 0..1400
               op(2000, 2600), op(3000, 3100)]              # closed ops
        self.assertAlmostEqual(stats.busy_s(ops), 1.4 + 0.6 + 0.1)


class Accounting(unittest.TestCase):
    def test_failed_ops_and_failed_checks_both_count(self):
        ops = [op(0, 1), op(1, 2, ok=False), op(2, 3), op(3, 4)]
        checks = [{"name": "a", "ok": True},
                  {"name": "b", "ok": False}]
        attempted, failed = stats.accounting(ops, checks)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(stats.failed_frac(attempted, failed), 0.5)

    def test_failures_never_exceed_attempts(self):
        checks = [{"name": str(i), "ok": False} for i in range(5)]
        self.assertEqual(stats.accounting([op(0, 1), op(1, 2)], checks), (2, 2))

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.failed_frac(0, 0), 1.0)


if __name__ == "__main__":
    unittest.main()
