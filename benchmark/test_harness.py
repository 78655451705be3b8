"""Self-tests for the benchmark's arithmetic. Run from the repository root:

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import math
import random
import unittest

import harness


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(harness.percentile(xs, 0.5), 50)
        self.assertEqual(harness.percentile(xs, 0.9), 90)
        self.assertEqual(harness.percentile(xs, 0.99), 99)
        self.assertEqual(harness.percentile([7], 0.5), 7)

    def test_needs_ten_samples_beyond(self):
        self.assertFalse(harness.supported(0.9, 99))
        self.assertTrue(harness.supported(0.9, 100))
        self.assertFalse(harness.supported(0.99, 999))
        self.assertTrue(harness.supported(0.99, 1000))
        self.assertFalse(harness.supported(0.5, 19))
        self.assertTrue(harness.supported(0.5, 20))


class FingerprintOrderInsensitive(unittest.TestCase):
    COLS = ["b", "a", "c"]
    ROWS = [(1, "x", 0.5), (2, "y", None), (2, "y", None), (3, None, -1.25)]

    def test_row_order(self):
        fp = harness.fingerprint(self.COLS, self.ROWS)
        rows = list(self.ROWS)
        for seed in range(5):
            random.Random(seed).shuffle(rows)
            self.assertEqual(harness.fingerprint(self.COLS, rows), fp)

    def test_column_order(self):
        moved = [(r[1], r[2], r[0]) for r in self.ROWS]
        self.assertEqual(harness.fingerprint(["a", "c", "b"], moved)[:2],
                         harness.fingerprint(self.COLS, self.ROWS)[:2])

    def test_duplicates_and_values_count(self):
        fp = harness.fingerprint(self.COLS, self.ROWS)
        self.assertNotEqual(harness.fingerprint(self.COLS, self.ROWS[:3]), fp)
        self.assertNotEqual(harness.fingerprint(self.COLS, self.ROWS[:2] + self.ROWS[3:] * 2)[1], fp[1])
        changed = [(1, "x", 0.5000001)] + self.ROWS[1:]
        self.assertNotEqual(harness.fingerprint(self.COLS, changed)[1], fp[1])

    def test_floats_rounded_to_nine_decimals(self):
        self.assertEqual(harness.canon(0.1 + 0.2), harness.canon(0.3))
        self.assertEqual(harness.canon(-0.0), harness.canon(0.0))
        self.assertEqual(harness.canon(2.5e-10), "0")
        self.assertEqual(harness.canon(1.25), "1250000000")


class SpanSelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = {
            "q": {"parent": None, "start": 0.0, "end": 10.0},
            "a": {"parent": "q", "start": 1.0, "end": 3.0},
            "b": {"parent": "q", "start": 2.0, "end": 5.0},  # overlaps a
            "c": {"parent": "q", "start": 8.0, "end": 12.0},  # runs past q
            "j": {"parent": "b", "start": 2.5, "end": 3.0},
        }
        st = harness.self_times(spans)
        self.assertAlmostEqual(st["q"], 10.0 - (4.0 + 2.0))
        self.assertAlmostEqual(st["a"], 2.0)
        self.assertAlmostEqual(st["b"], 2.5)
        self.assertAlmostEqual(st["c"], 4.0)
        self.assertAlmostEqual(st["j"], 0.5)

    def test_union_length(self):
        self.assertEqual(harness.union_length([], 0, 5), 0.0)
        self.assertEqual(harness.union_length([(0, 2), (1, 3), (4, 9)], 0, 5), 4.0)


def simulate_stream(origin, start, batch_ms, rnd, horizon_s=12, poll_ms=10):
    """Progress rows of a real-time source: the engine polls every poll_ms
    until a new second is visible, then runs a batch of ~batch_ms."""
    rows, t, seen = [], start, 0
    while len(rows) < horizon_s:
        seconds = int(math.floor((t - origin) / 1000.0))
        if seconds <= seen and rows:
            t += poll_ms
            continue
        latest = rnd.randint(0, 2)
        duration = batch_ms * rnd.uniform(0.6, 1.4)
        rows.append({"trigger_ms": float(t), "seconds": seconds, "duration": {"latestOffset": latest},
                     "commit_ms": t + duration})
        seen = seconds
        t += duration
    return rows


class ClockOrigin(unittest.TestCase):
    def test_recovers_origin_from_synthetic_progress(self):
        for seed in range(20):
            rnd = random.Random(seed)
            origin = 1.7e12 + rnd.uniform(0, 1000)
            rows = simulate_stream(origin, origin + rnd.uniform(50, 400), rnd.uniform(300, 900), rnd)
            est, lo, hi = harness.recover_origin(harness.origin_samples(rows))
            self.assertLessEqual(lo, origin + 1e-6, seed)
            self.assertGreaterEqual(hi, origin - 1e-6, seed)
            self.assertLess(abs(est - origin), harness.POLL_GAP_MS, seed)

    def test_without_poll_gaps_the_bounds_still_hold(self):
        rows = [{"trigger_ms": 1000.0 * s + 300.0, "seconds": s, "duration": {"latestOffset": 1},
                 "commit_ms": 1000.0 * s + 1300.0} for s in range(1, 6)]
        est, lo, hi = harness.recover_origin(harness.origin_samples(rows))
        self.assertTrue(lo <= 0.0 <= hi)


class EventLatency(unittest.TestCase):
    def test_segments_quantile_matches_brute_force(self):
        rnd = random.Random(3)
        rates = [rnd.randint(5, 40) for _ in range(8)]
        cum = harness.cumulative(rates)
        origin = 5000.0
        cuts = sorted(rnd.sample(range(1, cum[-1]), 4)) + [cum[-1]]
        batches, a = [], 0
        for i, b in enumerate(cuts):
            batches.append((a, b, origin + 1500.0 * (i + 1) + rnd.uniform(0, 900)))
            a = b
        limit = cum[6]
        brute = []
        for a, b, commit in batches:
            for s in range(a, min(b, limit)):
                u = max(i for i in range(len(rates)) if cum[i] <= s)
                due = origin + 1000.0 * u + (s - cum[u]) * (1000000 // rates[u]) / 1000.0
                brute.append(commit - due)
        segs = list(harness.latency_segments(batches, rates, origin, limit))
        for q in (0.01, 0.5, 0.9, 0.99, 1.0):
            v, n = harness.segments_quantile(segs, q)
            self.assertEqual(n, len(brute))
            self.assertAlmostEqual(v, harness.percentile(brute, q), places=3)


if __name__ == "__main__":
    unittest.main()
