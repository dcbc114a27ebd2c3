"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen    # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.pct(xs, 50), 50)
        self.assertEqual(stats.pct(xs, 95), 95)
        self.assertEqual(stats.pct(xs, 100), 100)
        self.assertEqual(stats.pct([7], 99), 7)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.beyond(1000, 99), 10)


class SelfTime(unittest.TestCase):
    def span(self, start, end, req="r", layer="l"):
        return {"start": start, "end": end, "req": req, "layer": layer}

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, 100, layer="parent"),
                 self.span(10, 40, layer="child"),
                 self.span(30, 60, layer="child"),
                 self.span(80, 90, layer="child")]
        self.assertEqual(stats.self_times(spans), [40, 30, 30, 10])
        self.assertEqual(stats.layer_self_times(spans),
                         {"parent": 40, "child": 70})

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, 100), self.span(10, 50), self.span(20, 30)]
        self.assertEqual(stats.nest(spans), [None, 0, 1])
        self.assertEqual(stats.self_times(spans), [60, 30, 10])

    def test_request_ids_separate_trees(self):
        spans = [self.span(0, 100, req="a"), self.span(10, 20, req="b")]
        self.assertEqual(stats.nest(spans), [None, None])
        self.assertEqual(stats.self_times(spans), [100, 10])

    def test_partial_overlap_is_not_nesting(self):
        spans = [self.span(0, 50), self.span(40, 80)]
        self.assertEqual(stats.nest(spans), [None, None])


class DueTimeSchedule(unittest.TestCase):
    def test_design_point_is_evenly_spaced(self):
        s = gen.schedule(12, 1.0, 2)
        self.assertEqual(len(s), 24)
        self.assertEqual([d for d, _, _ in s[:3]], [0, 83, 167])
        self.assertEqual(s[12], (1000, 0, 1))
        self.assertTrue(all(b[0] > a[0] for a, b in zip(s, s[1:])))

    def test_every_source_runs_at_its_rate(self):
        s = gen.schedule(3, 2.0, 5)
        for i in range(3):
            dues = [d for d, src, _ in s if src == i]
            self.assertEqual(len(dues), 10)
            self.assertEqual({b - a for a, b in zip(dues, dues[1:])}, {500})
        self.assertTrue(all(d < 5000 for d, _, _ in s))


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def generate(self, seed):
        d = os.path.join(self.tmp.name, "%d-%d" % (seed, len(os.listdir(self.tmp.name))))
        gen.live_inputs(seed, 10, os.path.join(d, "live"))
        gen.backlog_inputs(seed, 1000, os.path.join(d, "drain"))
        return d

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        if cmp.left_only or cmp.right_only:
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not mismatch and not errors and all(
            self.same_tree(os.path.join(a, s), os.path.join(b, s))
            for s in cmp.common_dirs)

    def test_same_seed_gives_byte_identical_inputs(self):
        self.assertTrue(self.same_tree(self.generate(7), self.generate(7)))

    def test_other_seed_gives_other_inputs(self):
        self.assertFalse(self.same_tree(self.generate(7), self.generate(8)))

    def test_inputs_vary_what_the_pipeline_depends_on(self):
        events, _ = gen.backlog_inputs(3, 5000, self.tmp.name)
        self.assertTrue(any(not e["expected"] and e["sid"] in gen.CONFIGURED
                            for e in events), "malformed payloads")
        self.assertTrue(any(e["sid"] == gen.UNCONFIGURED for e in events))
        self.assertEqual({e["n_pass"] for e in events} >= {0, 1, 2, 3}, True)


if __name__ == "__main__":
    unittest.main()
