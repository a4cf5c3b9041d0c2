import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench.livegen import Schedule  # noqa: E402

T0 = 1_700_000_000_000_000


class ScheduleTest(unittest.TestCase):
    def setUp(self):
        self.s = Schedule(seed=7, shards=4, rate=2000.0, t0_us=T0)

    def test_rate_sets_period(self):
        self.assertEqual(self.s.period_us, 2000)  # 500 records/s per shard

    def test_counts_are_exact(self):
        p = self.s.period_us
        self.assertEqual(self.s.count(T0 - 5), 0)
        self.assertEqual(self.s.count(T0), 0)
        for k in (1, 2, 17, 12_345):
            self.assertEqual(self.s.count(T0 + k * p), k)
            self.assertEqual(self.s.count(T0 + k * p - 1), k - 1)

    def test_never_late(self):
        # a record is served from the instant it is due, never after
        for pos in (0, 1, 99, 5000):
            due = self.s.due_us(pos)
            self.assertEqual(self.s.count(due), pos + 1)
            self.assertEqual(self.s.count(due - 1), pos)

    def test_counts_grow_monotonically(self):
        ts = range(T0, T0 + 50_000, 333)
        counts = [self.s.count(t) for t in ts]
        self.assertEqual(counts, sorted(counts))

    def test_planted_duplicates(self):
        n, dups = 20_000, 0
        for pos in range(n):
            d = self.s.dup_of(1, pos)
            if d is not None:
                dups += 1
                self.assertTrue(pos - 16 <= d < pos)
                self.assertEqual(self.s.payload(1, pos), self.s.payload(1, d))
                self.assertEqual(self.s.event_id(1, pos), self.s.event_id(1, d))
            else:
                self.assertEqual(self.s.payload(1, pos)["ts_us"], self.s.due_us(pos))
        self.assertAlmostEqual(dups / n, 0.05, delta=0.01)

    def test_seed_drives_content(self):
        other = Schedule(seed=8, shards=4, rate=2000.0, t0_us=T0)
        same = Schedule(seed=7, shards=4, rate=2000.0, t0_us=T0)
        self.assertEqual(self.s.line(2, 40), same.line(2, 40))
        lines = [self.s.line(2, p) for p in range(200)]
        self.assertNotEqual(lines, [other.line(2, p) for p in range(200)])

    def test_expected_ids_and_duplicates(self):
        frontier = [300, 0, 41, 1000]
        ids, dups = self.s.expected(frontier)
        self.assertEqual(len(ids) + dups, sum(frontier))
        self.assertTrue(all(i // 1_000_000_000_000 in (0, 2, 3) for i in ids))


if __name__ == "__main__":
    unittest.main()
