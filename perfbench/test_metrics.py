"""Unit tests of the benchmark's metric arithmetic.

Run from the root of a checkout:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(M.percentile(v, 50), 50)
        self.assertEqual(M.percentile(v, 99), 99)
        self.assertEqual(M.percentile(v, 100), 100)
        self.assertEqual(M.percentile([7.0], 50), 7.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.tail_percentile(1000), 99.0)   # 10 beyond p99
        self.assertEqual(M.tail_percentile(999), 95.0)    # only 9 beyond p99
        self.assertEqual(M.tail_percentile(10000), 99.9)
        self.assertEqual(M.tail_percentile(200), 95.0)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(40), 75.0)
        self.assertEqual(M.tail_percentile(20), 50.0)
        self.assertIsNone(M.tail_percentile(19))

    def test_samples_beyond_the_reported_value(self):
        for n in (20, 57, 200, 640, 1000, 4321):
            p, value = M.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > value), 10)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (100.0, 3.0))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_nested_and_overlapping_children(self):
        spans = [self.span("q", "", 0, 10),
                 self.span("a", "q", 1, 4),
                 self.span("b", "q", 3, 6),    # overlaps a: union is [1, 6]
                 self.span("j", "a", 2, 3)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st["q"], 5.0)
        self.assertAlmostEqual(st["a"], 2.0)
        self.assertAlmostEqual(st["b"], 3.0)
        self.assertAlmostEqual(st["j"], 1.0)

    def test_child_outside_parent_is_clipped(self):
        st = M.self_times([self.span("p", "", 0, 10), self.span("c", "p", 8, 12)])
        self.assertAlmostEqual(st["p"], 8.0)
        self.assertAlmostEqual(st["c"], 4.0)

    def test_covered_merges_intervals(self):
        self.assertEqual(M.covered([(5, 7), (1, 2), (1.5, 3), (6, 6.5)], 0, 10), 4.0)
        self.assertEqual(M.covered([], 0, 10), 0.0)


class DueTimeLatency(unittest.TestCase):
    # (offset, due_ms, added_ms, first_tick, rows)
    blocks = [(0, 100.0, 105.0, 10, 5), (1, 200.0, 260.0, 15, 5)]

    def test_latency_is_measured_from_the_block_due_time(self):
        # a late append does not shorten the latency of its ticks
        alerts = [(12, 400.0), (15, 500.0), (19, 230.0)]
        self.assertEqual(M.due_latencies(self.blocks, alerts), [300.0, 300.0, 30.0])

    def test_warm_up_and_unknown_ticks_are_skipped(self):
        self.assertEqual(M.due_latencies(self.blocks, [(3, 50.0), (25, 900.0)]), [])

    def test_generator_lateness(self):
        self.assertEqual(M.lateness(self.blocks), [5.0, 60.0])


class Backlog(unittest.TestCase):
    blocks = [(0, 10.0, 10.0, 0, 5), (1, 20.0, 20.0, 5, 5), (2, 30.0, 30.0, 10, 5)]

    def test_rows_appended_but_not_yet_committed(self):
        triggers = [(15.0, -1), (25.0, 0), (35.0, 0), (40.0, 2)]
        self.assertEqual(M.backlog(self.blocks, triggers), [5, 5, 10, 0])

    def test_blocks_appended_after_the_trigger_do_not_count(self):
        self.assertEqual(M.backlog(self.blocks, [(5.0, -1)]), [0])


if __name__ == "__main__":
    unittest.main()
