"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def batch(start, end, trigger_start, trigger_ms):
    return {"start_offset": start, "end_offset": end, "trigger_start_ms": trigger_start,
            "durations": {"triggerExecution": trigger_ms}}


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(37), 70.0)
        self.assertEqual(stats.tail_percentile(33), 70.0)
        self.assertEqual(stats.tail_percentile(31), 66.0)
        self.assertEqual(stats.tail_percentile(30), 66.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10001), 99.9)

    def test_beyond_counts_samples_above_the_percentile(self):
        xs = list(range(40))
        p75 = stats.percentile(xs, 75)
        self.assertEqual(sum(1 for x in xs if x > p75), stats.beyond(40, 75))
        self.assertEqual(stats.beyond(40, 75), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)


class OpenLoopLatency(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # one chunk of 4 lines due over [0, 100) ms, landed at 1000 ms
        chunks = [(0, 0.0, 100.0, 4, 100.0)]
        lat, _ = stats.line_latencies(chunks, {"q": [batch(-1, 0, 0.0, 1000.0)]})
        self.assertEqual(lat, [1000.0, 975.0, 950.0, 925.0])

    def test_a_stall_delays_later_lines(self):
        # the generator stalls: chunk 1 is due at 200 ms but offered at 700 ms,
        # and lands with chunk 2 in the batch committed at 1500 ms
        chunks = [(0, 0.0, 100.0, 1, 100.0), (1, 100.0, 100.0, 1, 700.0),
                  (2, 200.0, 100.0, 1, 700.0)]
        byq = {"q": [batch(-1, 0, 100.0, 200.0), batch(0, 2, 1000.0, 500.0)]}
        lat, _ = stats.line_latencies(chunks, byq)
        self.assertEqual(lat, [300.0, 1400.0, 1300.0])
        self.assertEqual(stats.lateness(chunks), [0.0, 500.0, 400.0])

    def test_landed_in_every_sink(self):
        byq = {"a": [batch(-1, 3, 0.0, 100.0)], "b": [batch(-1, 1, 0.0, 50.0),
                                                     batch(1, 3, 400.0, 100.0)]}
        self.assertEqual(stats.landed_ms(2, byq), 500.0)
        self.assertEqual(stats.landed_ms(1, byq), 100.0)
        self.assertIsNone(stats.landed_ms(4, byq))

    def test_unlanded_chunk_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.line_latencies([(5, 0.0, 100.0, 1, 100.0)], {"q": [batch(-1, 0, 0.0, 1.0)]})


class Backlog(unittest.TestCase):
    def chunks_and_batches(self, drain_per_s, offered_per_s, seconds=20):
        """Chunks of 100 ms at `offered_per_s`, drained at `drain_per_s` by a
        1 s trigger that takes at most what the drain rate allows."""
        per_chunk = offered_per_s // 10
        chunks = [(k, k * 100.0, 100.0, per_chunk, (k + 1) * 100.0)
                  for k in range(seconds * 10)]
        batches, done, t = [], -1, 1000.0
        while done < len(chunks) - 1:
            avail = [c for c in chunks if c[4] <= t and c[0] > done]
            take = min(len(avail), max(1, drain_per_s // per_chunk))
            if take and avail:
                end = avail[take - 1][0]
                batches.append(batch(done, end, t, 300.0))
                done = end
            t += 1000.0
        return chunks, {"q": batches}

    def test_steady_when_drain_keeps_up(self):
        chunks, byq = self.chunks_and_batches(drain_per_s=20000, offered_per_s=8000)
        _, per_chunk = stats.line_latencies(chunks, byq)
        self.assertFalse(stats.backlog(per_chunk, 1000.0))

    def test_backlog_when_offered_exceeds_drain(self):
        chunks, byq = self.chunks_and_batches(drain_per_s=4000, offered_per_s=8000)
        _, per_chunk = stats.line_latencies(chunks, byq)
        self.assertTrue(stats.backlog(per_chunk, 1000.0))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "name": "refresh", "start": 0.0, "end": 100.0, "parent": 0},
            {"id": 2, "name": "read", "start": 10.0, "end": 40.0, "parent": 1},
            {"id": 3, "name": "panel", "start": 30.0, "end": 60.0, "parent": 1},
            {"id": 4, "name": "job", "start": 35.0, "end": 45.0, "parent": 3},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"refresh": 50.0, "read": 30.0, "panel": 20.0, "job": 10.0})

    def test_children_are_clipped_to_the_parent(self):
        spans = [{"id": 1, "name": "a", "start": 0.0, "end": 10.0, "parent": 0},
                 {"id": 2, "name": "b", "start": 5.0, "end": 20.0, "parent": 1}]
        self.assertEqual(stats.self_times(spans)["a"], 5.0)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30), (22, 25)]), 25)


if __name__ == "__main__":
    unittest.main()
