"""Self-tests of the benchmark's own logic. Run: python3 perfbench/test_harness.py"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402


class TailRule(unittest.TestCase):
    def test_index_leaves_ten_samples_above(self):
        self.assertIsNone(harness.tail_index(10))
        self.assertEqual(harness.tail_index(11), 0)
        self.assertEqual(harness.tail_index(100), 89)
        self.assertEqual(harness.tail_index(1000), 989)

    def test_value_and_percentile(self):
        value, pct, n = harness.tail(list(range(100, 0, -1)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(harness.tail([1.0] * 5), (None, None, 5))


class FakeTransport:
    """Connections whose replies complete after scripted service times, on a
    virtual clock that poll() advances."""

    def __init__(self, nconns, service):
        self.conns = list(range(nconns))
        self.service = service
        self.t = 0.0
        self.busy = {}
        self.sent = 0

    def clock(self):
        return self.t

    def send(self, conn, payload):
        self.busy[conn] = self.t + self.service(self.sent)
        self.sent += 1

    def poll(self, timeout):
        nxt = min(self.busy.values()) if self.busy else None
        if timeout is not None and (nxt is None or self.t + timeout < nxt):
            self.t += timeout
            return []
        self.t = nxt
        done = [c for c, end in self.busy.items() if end <= self.t]
        for c in done:
            del self.busy[c]
        return [(c, True, "{}") for c in done]


class OpenLoop(unittest.TestCase):
    def run_loop(self, nconns, service, n=10, gap=0.01):
        fake = FakeTransport(nconns, service)
        plan = [(i * gap, "x") for i in range(n)]
        return harness.open_loop(plan, fake, fake.clock)

    def test_unloaded_requests_are_on_time(self):
        out = self.run_loop(1, lambda i: 0.001)
        self.assertTrue(all(abs(s.sent - s.due) < 1e-9 for s in out))
        for lat in harness.latency_ms(out):
            self.assertAlmostEqual(lat, 1.0)

    def test_stall_charges_the_requests_queued_behind_it(self):
        # request 0 stalls 100 ms on the only connection; requests due
        # during the stall leave late, and their latency counts the wait
        out = self.run_loop(1, lambda i: 0.1 if i == 0 else 0.001)
        lag = harness.lag_ms(out)
        lat = harness.latency_ms(out)
        self.assertAlmostEqual(lag[0], 0.0)
        self.assertAlmostEqual(lat[0], 100.0)
        self.assertAlmostEqual(lag[1], 90.0)  # due at 10 ms, sent at 100 ms
        self.assertAlmostEqual(lat[1], 91.0)
        self.assertGreater(lat[5], 40.0)
        self.assertTrue(all(a >= b for a, b in zip(lag[1:], lag[2:])))

    def test_spare_connections_absorb_a_stall(self):
        out = self.run_loop(4, lambda i: 0.1 if i == 0 else 0.001)
        self.assertAlmostEqual(harness.lag_ms(out)[1], 0.0)
        self.assertAlmostEqual(harness.latency_ms(out)[1], 1.0)

    def test_backlog_detects_a_server_slower_than_the_rate(self):
        slow = self.run_loop(1, lambda i: 0.02, n=40)
        fast = self.run_loop(1, lambda i: 0.005, n=40)
        self.assertTrue(harness.backlog_grows(slow, limit_ms=50))
        self.assertFalse(harness.backlog_grows(fast, limit_ms=50))


class Fingerprints(unittest.TestCase):
    def test_compare(self):
        exp = {"q_a": [3, "123"], "q_b": [0, "0"]}
        same = {"q_a": [[3, "123"], [3, "123"]], "q_b": [[0, "0"]]}
        self.assertEqual(harness.fingerprint_mismatches(exp, same), [])
        one_off = {"q_a": [[3, "123"], [3, "124"]], "q_b": [[0, "0"]]}
        self.assertEqual(harness.fingerprint_mismatches(exp, one_off), [("q_a", [3, "124"])])
        self.assertEqual(harness.fingerprint_mismatches(exp, {"q_a": [[3, "123"]]}),
                         [("q_b", None)])


if __name__ == "__main__":
    unittest.main()
