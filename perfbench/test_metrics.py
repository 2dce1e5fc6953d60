"""Tests of the benchmark's own math. Run: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402

import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def beyond(self, n):
        return n - 1 - metrics.tail_rank(n)

    def test_p90_when_enough_samples(self):
        self.assertEqual(metrics.tail_rank(100), 89)
        self.assertEqual(self.beyond(100), 10)
        value, pct, n = metrics.tail(range(1000))
        self.assertEqual((value, pct, n), (899, 90.0, 1000))

    def test_highest_rank_with_ten_beyond(self):
        for n in range(21, 100):
            r = metrics.tail_rank(n)
            self.assertEqual(self.beyond(n), 10, n)
            self.assertLessEqual(r, metrics.tail_rank(n + 1))
        self.assertEqual(metrics.tail(range(50))[1], 80.0)

    def test_never_below_median(self):
        for n in range(1, 21):
            self.assertEqual(metrics.tail_rank(n), n // 2)
        self.assertGreaterEqual(metrics.tail([1, 2, 3, 4])[0], metrics.median([1, 2, 3, 4]))


class DueTimeLatency(unittest.TestCase):
    @staticmethod
    def simulate(interval, costs, t0=1030.0):
        """A processing-time trigger: batch k is scheduled for the first
        aligned tick after batch k-1 started and starts then, or as soon as
        batch k-1 ends when that overran; batch k takes costs[k] ms."""
        starts, done = [], []
        for k, cost in enumerate(costs):
            start = t0 if k == 0 else max(starts[-1] - starts[-1] % interval + interval,
                                          done[-1])
            starts.append(start)
            done.append(start + cost)
        return metrics.due_latencies(interval, starts, done)

    def test_on_schedule_latency_is_the_service_time(self):
        lat = self.simulate(100.0, [60.0] * 20)
        self.assertTrue(all(abs(x - 60.0) < 1e-9 for x in lat))

    def test_slower_than_offered_rate_grows_latency(self):
        slow = self.simulate(100.0, [150.0] * 20)
        self.assertTrue(all(x > 150.0 for x in slow[1:]))
        self.assertGreater(metrics.median(slow), metrics.median(self.simulate(100.0, [90.0] * 20)))

    def test_overrun_charges_the_wait_to_the_next_batch(self):
        lat = self.simulate(100.0, [60.0, 60.0, 230.0, 60.0, 60.0, 60.0], t0=1000.0)
        # batch 3 was due at 1300, started when batch 2 ended at 1430
        self.assertEqual(lat, [60.0, 60.0, 230.0, 190.0, 60.0, 60.0])

    def test_first_batch_due_at_its_trigger(self):
        self.assertEqual(metrics.due_times(100.0, [1234.0, 1300.0, 1400.0]),
                         [1234.0, 1300.0, 1400.0])


def op(query, digest, error=None):
    return {"query": query, "digest": digest, "error": error}


class FailedRatio(unittest.TestCase):
    def test_wrong_digest_counts(self):
        ops = [op("a", "x:1"), op("a", "x:1"), op("a", "y:1"), op("b", "z:2")]
        self.assertEqual(metrics.failures(ops, {"a": True, "b": True}), (4, 1))

    def test_oracle_failure_fails_every_op_of_the_query(self):
        ops = [op("a", "x:1"), op("a", "x:1"), op("b", "z:2")]
        self.assertEqual(metrics.failures(ops, {"a": False, "b": True}), (3, 2))

    def test_errors_and_state_checks(self):
        ops = [op("a", "", error="boom"), op("b", "z:2"), op("b", "")]
        checks = [{"ok": True}, {"ok": False}]
        self.assertEqual(metrics.failures(ops, {"a": True, "b": True}, checks), (5, 2))

    def test_query_missing_from_oracle_fails(self):
        self.assertEqual(metrics.failures([op("a", "x:1")], {}), (1, 1))


class Digest(unittest.TestCase):
    def table(self, x=0.1):
        return pa.table({"k": pa.array([1, 2], pa.int32()), "v": [x, 2.5],
                         "s": ["a", None]})

    def test_corrupted_expected_digest_is_caught(self):
        d = metrics.table_digest(self.table())
        self.assertEqual(metrics.check_digest(d, d), (True, ""))
        corrupt = ("0" if d[0] != "0" else "1") + d[1:]
        ok, reason = metrics.check_digest(d, corrupt)
        self.assertFalse(ok)
        self.assertIn(corrupt, reason)

    def test_floats_are_bit_exact(self):
        a = metrics.table_digest(self.table(0.1))
        b = metrics.table_digest(self.table(0.1 + 2 ** -56))
        self.assertNotEqual(a, b)

    def test_integer_width_and_column_order_fold(self):
        t = self.table()
        wide = pa.table({"s": t["s"], "v": t["v"], "k": t["k"].cast(pa.int64())})
        self.assertEqual(metrics.table_digest(t), metrics.table_digest(wide))

    def test_type_change_is_caught(self):
        t = self.table()
        other = t.set_column(0, "k", t["k"].cast(pa.float64()))
        self.assertNotEqual(metrics.table_digest(t), metrics.table_digest(other))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [["op", 0, 100, 1], ["op.build", 0, 30, 1], ["op.exec", 30, 100, 1],
                 ["exec.job", 40, 90, 1], ["op", 200, 210, 2]]
        st = metrics.self_times(spans)
        self.assertEqual(st["op"], 10)
        self.assertEqual(st["op.build"], 30)
        self.assertEqual(st["op.exec"], 20)
        self.assertEqual(st["exec.job"], 50)


if __name__ == "__main__":
    unittest.main()
