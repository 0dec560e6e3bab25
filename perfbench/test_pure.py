"""Tests of the benchmark's pure parts: the generator, the frame-to-trigger
mapping and the tail-percentile rule.  Run with

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import unittest

from gen import Schedule, Stream, backlog_start
import stats


class GeneratorTest(unittest.TestCase):
    def frames(self, seed, n=3000, dup=0.1):
        s = Stream(seed, dup_frac=dup, dup_window=300)
        sched = Schedule(1_700_000_000.0, 1000.0, 0, n)
        return [s.frame(k, sched) for k in range(n)]

    def test_same_seed_same_frames(self):
        self.assertEqual(self.frames(7), self.frames(7))

    def test_other_seed_other_frames(self):
        self.assertNotEqual(self.frames(7, 200), self.frames(8, 200))

    def test_mix_and_shape(self):
        s = Stream(3, dup_frac=0.1, dup_window=300)
        sched = Schedule(1_700_000_000.0, 1000.0, 0, 20000)
        kinds, types, no_length, sizes = {}, {}, 0, []
        for k in range(20000):
            kind = s.kind(k)
            kinds[kind] = kinds.get(kind, 0) + 1
            f = s.frame(k, sched)
            sizes.append(len(f))
            if kind != "fresh":
                continue
            doc = json.loads(s.data(k, sched))
            types[doc["type"]] = types.get(doc["type"], 0) + 1
            no_length += "length" not in doc
            self.assertEqual(doc["meta"]["dt"][:4], "2023")
        self.assertEqual(set(types),
                         {"edit", "new", "log", "categorize", "external"})
        self.assertAlmostEqual(kinds["dup"] / 20000, 0.1, delta=0.01)
        self.assertTrue(0 < kinds["corrupt"] < 100)
        self.assertGreater(no_length, types["log"])  # log, categorize, some edits
        self.assertAlmostEqual(sum(sizes) / len(sizes), 1300, delta=150)

    def test_dup_is_exact_redelivery_inside_its_sequence(self):
        s = Stream(5, dup_frac=0.3, dup_window=50)
        sched = Schedule(1_700_000_000.0, 100.0, 1000, 500)
        for k in range(1000, 1500):
            if s.kind(k, 1000) == "dup":
                j = s.dup_source(k, 1000)
                self.assertTrue(1000 <= j < k and k - j <= 50 + 50)
                self.assertEqual(s.data(k, sched), s.data(j, sched))

    def test_corrupt_lines_do_not_parse(self):
        s = Stream(9, corrupt_frac=0.05)
        sched = Schedule(1_700_000_000.0, 100.0)
        bad = [k for k in range(2000) if s.kind(k) == "corrupt"]
        self.assertTrue(bad)
        for k in bad:
            with self.assertRaises(ValueError):
                json.loads(s.data(k, sched))

    def test_keys_unique_per_distinct_event(self):
        s = Stream(2, dup_frac=0.2, dup_window=100)
        sched = Schedule(1_700_000_000.0, 1000.0, 0, 5000)
        fresh_typed = [k for k in range(5000) if s.kind(k) == "fresh"
                       and s.typed_key(k, sched(k)) is not None]
        self.assertEqual(len(s.expected_keys(range(5000), sched)),
                         len(fresh_typed))

    def test_backlog_start(self):
        sched = Schedule(1_700_000_000.0, 10.0, 0, 1000)
        k = backlog_start(sched, 1_700_000_030)
        self.assertEqual(int(sched(k)), 1_700_000_030)
        self.assertLess(int(sched(k - 1)), 1_700_000_030)


class TriggerMappingTest(unittest.TestCase):
    progress = [
        {"start_offset": 0, "end_offset": 0, "end_time": 10.0},
        {"start_offset": 0, "end_offset": 120, "end_time": 12.5},
        {"start_offset": 120, "end_offset": 300, "end_time": 14.4},
        {"start_offset": 300, "end_offset": 300, "end_time": 16.1},
        {"start_offset": 300, "end_offset": 301, "end_time": 18.2},
    ]

    def test_empty_triggers_dropped(self):
        self.assertEqual(stats.triggers_from_progress(self.progress),
                         [(0, 120, 12.5), (120, 300, 14.4), (300, 301, 18.2)])

    def test_frames_map_to_committing_trigger(self):
        t = stats.triggers_from_progress(self.progress)
        self.assertEqual(stats.commit_times([0, 119, 120, 299, 300, 301], t),
                         [12.5, 12.5, 14.4, 14.4, 18.2, None])

    def test_order_of_progress_does_not_matter(self):
        t = stats.triggers_from_progress(list(reversed(self.progress)))
        self.assertEqual(stats.commit_times([5, 200], t), [12.5, 14.4])


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertIsNone(stats.tail_percentile(39))

    def test_tail_falls_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5.0)

    def test_slope(self):
        self.assertAlmostEqual(stats.slope([0, 1, 2], [1, 3, 5]), 2.0)
        self.assertEqual(stats.slope([1], [1]), 0.0)


if __name__ == "__main__":
    unittest.main()
