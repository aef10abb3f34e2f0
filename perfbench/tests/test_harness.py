"""Tests of the benchmark's own analysis code.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import math
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import context, fingerprint, metrics, recount, schedule, stats, traceview  # noqa: E402


def wire(uid, exp, variant, ts):
    return (f'{{"uid": {uid}, "experiment_id": {exp}, "variant": "{variant}", '
            f'"timestamp": "{ts}"}}')


# Ten events over two minutes. uid 7 is in variants 1 and 2 but not 3
# (a variant crossing); the last event is late: it belongs to 10:00 but
# arrives after 10:01 events.
EVENTS = [
    wire(7, 1, "1", "2026-01-01T10:00:00Z"),
    wire(7, 1, "1", "2026-01-01T10:00:30Z"),
    wire(8, 2, "default", "2026-01-01T10:00:59Z"),
    wire(9, 1, "3", "2026-01-01T10:00:10Z"),
    wire(7, 3, "2", "2026-01-01T10:01:00Z"),
    wire(10, 3, "2", "2026-01-01T10:01:05Z"),
    wire(9, 3, "3", "2026-01-01T10:01:59Z"),
    wire(10, 4, "3", "2026-01-01T10:01:30Z"),
    wire(11, 4, "default", "2026-01-01T10:01:31Z"),
    wire(10, 2, "2", "2026-01-01T10:00:45Z"),  # late
]


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)
        self.assertEqual(stats.percentile([5], 99), 5)
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_quartiles_match_statistics(self):
        xs = [1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.0, 6.0, 9.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class RecountTest(unittest.TestCase):
    def setUp(self):
        self.rc = recount.recount(EVENTS)

    def test_hand_computed(self):
        rc = self.rc
        self.assertEqual(dict(rc.visits), {"2026_01_01T10_00": 5, "2026_01_01T10_01": 5})
        self.assertEqual(rc.users["2026_01_01T10_00"], {"7", "8", "9", "10"})
        self.assertEqual(rc.users["2026_01_01T10_01"], {"7", "9", "10", "11"})
        self.assertEqual(rc.experiments["2026_01_01T10_00"], {"1", "2"})
        self.assertEqual(rc.experiments["2026_01_01T10_01"], {"3", "4"})
        self.assertEqual(rc.variants["1"], {"7"})
        self.assertEqual(rc.variants["2"], {"7", "10"})
        self.assertEqual(rc.variants["3"], {"9", "10"})
        self.assertEqual(rc.variants["default"], {"8", "11"})

    def test_endpoints(self):
        now = datetime.datetime(2026, 1, 1, 10, 2, 40)
        exp = recount.expected_endpoints(self.rc, now, last=3)
        self.assertEqual(exp["times"], ["2026-01-01T10:01:00Z", "2026-01-01T10:00:00Z",
                                        "2026-01-01T09:59:00Z"])
        self.assertEqual([x["metric"] for x in exp["visits"]], [5, 5, 0])
        self.assertEqual([x["metric"] for x in exp["users"]], [4, 4, 0])
        self.assertEqual([x["metric"] for x in exp["experiments"]], [2, 2, 0])
        overlap = {tuple(x["dimensions"]): x["metric"] for x in exp["variantsOverlap"]}
        self.assertEqual(overlap, {("1", "2"): 1, ("1", "3"): 0, ("1", "default"): 0,
                                   ("2", "3"): 1, ("2", "default"): 0, ("3", "default"): 0})

    def _store(self):
        counters, sets, hll = recount.expected_store(self.rc)
        return {"counters": dict(counters), "sets": {k: sorted(v) for k, v in sets.items()},
                "hll": dict(hll)}

    def test_store_matches_and_corruption_fails(self):
        store = self._store()
        self.assertEqual(recount.compare_store(self.rc, store), [])
        store["counters"]["visitCounter_2026_01_01T10_01"] += 1
        self.assertNotEqual(recount.compare_store(self.rc, store), [])
        store = self._store()
        store["sets"]["set_var_3"].remove("10")
        self.assertNotEqual(recount.compare_store(self.rc, store), [])

    def test_endpoint_compare(self):
        exp = recount.expected_endpoints(self.rc, datetime.datetime(2026, 1, 1, 10, 2), last=2)
        body = json.dumps(exp["visits"], separators=(",", ":"))
        self.assertTrue(recount.compare_endpoint(exp["visits"], body))
        self.assertFalse(recount.compare_endpoint(exp["visits"], body.replace("5", "6", 1)))
        self.assertFalse(recount.compare_endpoint(exp["visits"], "not json"))


class FingerprintTest(unittest.TestCase):
    def test_canonical_cells(self):
        c = fingerprint.canon
        self.assertEqual(c(None), "NULL")
        self.assertEqual(c(float("nan")), "NaN")
        self.assertEqual(c("NaN"), c(float("nan")))  # the engine ships NaN as a string
        self.assertEqual(c(float("inf")), "Infinity")
        self.assertEqual(c(-0.0), c(0.0))
        self.assertEqual(c(5.0), c(5))
        self.assertEqual(c(0.1 + 0.2), c(0.3))
        self.assertNotEqual(c(0.3), c(0.30001))
        import decimal
        self.assertEqual(c(decimal.Decimal("12.50")), c(12.5))
        self.assertEqual(c([1.0, None]), "[1,NULL]")

    def test_order_insensitive(self):
        a = fingerprint.fingerprint(["x", "y"], [(1, 2.0), (3, None)])
        b = fingerprint.fingerprint(["y", "x"], [(None, 3), (2.0, 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)
        self.assertNotEqual(a, fingerprint.fingerprint(["x", "y"], [(1, 2.0), (3, 0.0)]))


class ScheduleTest(unittest.TestCase):
    def test_open_loop_lateness(self):
        # 1000 ev/s from t0 = 0: event i due at i ms
        cycles = [{"first": 0, "last": 3, "add_ns": 2_500_000, "commit_ns": 10_000_000},
                  {"first": 3, "last": 5, "add_ns": 10_000_000, "commit_ns": 14_000_000}]
        fresh, late = schedule.event_times(cycles, 0, 1000)
        self.assertEqual(fresh, [10.0, 9.0, 8.0, 11.0, 10.0])
        self.assertEqual(late, [2.5, 1.5, 0.5, 7.0, 6.0])

    def test_requests_from_due(self):
        reads = [{"due_ns": 0, "send_ns": 1_000_000, "done_ns": 5_000_000, "status": 200},
                 {"due_ns": 0, "send_ns": 0, "done_ns": 1, "status": 500}]
        lat, wait = schedule.request_times(reads)
        self.assertEqual(lat[0], 5.0)
        self.assertTrue(math.isinf(lat[1]))
        self.assertEqual(wait, [1.0, 0.0])


class EndToEndTest(unittest.TestCase):
    SETUP = {"session_s": 1.0, "reps": [{"generate_s": 0.5}, {"generate_s": 0.25},
                                         {"generate_s": 2.0}], "load_s": 1.0, "warm_s": 3.0}

    def test_catalog_figures_are_per_query_medians(self):
        def q(name, ms, ok=True):
            return {"query": name, "build_ns": 0, "plan_ns": 0, "exec_ns": ms * 10**6, "ok": ok}
        queries = [q(n, 1000) for n in metrics.QUERIES[:-1]]
        queries += [q(metrics.QUERIES[0], 4000), q(metrics.QUERIES[0], 100, ok=False)]
        queries += [q(metrics.QUERIES[-1], ms) for ms in (4000, 1000, 9000)]
        raw = {"workload": "catalog", "setup": self.SETUP, "live_heap_bytes": 2**20,
               "timed": {"queries": queries}}
        m = metrics.end_to_end(raw, 0.5, [])
        # medians: 2500 ms for the first query, 4000 for the last, 1000 else
        self.assertAlmostEqual(m["latency_ms"][0], (2500 * 4000 * 1000 ** 8) ** 0.1)
        self.assertAlmostEqual(m["latency_tail_ms"][0], 4000)
        self.assertAlmostEqual(m["throughput_per_s"][0], 10 / 14.5)
        self.assertAlmostEqual(m["setup_s"][0], 0.5 + 1.0 + 0.5 + 1.0 + 3.0)

    def test_live_throughput_is_per_cycle_capacity(self):
        # 1000 ev/s from t0 = 0; cycles busy for 0.5 s, 0.25 s and 1 s
        cycles = [{"first": 0, "last": 1000, "add_ns": 1 * 10**9, "commit_ns": 15 * 10**8,
                   "branch_end_ns": [1]},
                  {"first": 1000, "last": 2000, "add_ns": 2 * 10**9, "commit_ns": 225 * 10**7,
                   "branch_end_ns": [1]},
                  {"first": 2000, "last": 3000, "add_ns": 3 * 10**9, "commit_ns": 4 * 10**9,
                   "branch_end_ns": [1]}]
        raw = {"workload": "live", "setup": self.SETUP, "live_heap_bytes": 2**20,
               "timed": {"cycles": cycles, "t0_ns": 0, "rate": 1000}}
        m = metrics.end_to_end(raw, 0.0, [])
        self.assertAlmostEqual(m["throughput_per_s"][0], 2000)


class TraceTest(unittest.TestCase):
    def test_self_times_cover_wall(self):
        spans = [
            {"id": 1, "name": "workload", "parent": -1, "start_ns": 0, "end_ns": 100},
            {"id": 2, "name": "cycle", "parent": 1, "start_ns": 10, "end_ns": 90},
            {"id": 3, "name": "source.add", "parent": 2, "start_ns": 10, "end_ns": 20},
            {"id": 4, "name": "streaming.await.a", "parent": 2, "start_ns": 20, "end_ns": 80},
            {"id": 5, "name": "store.write.x", "parent": 2, "start_ns": 50, "end_ns": 95},
        ]
        ex = traceview.exclusive_times(spans, spans[0])
        self.assertEqual(sum(ex.values()), 100)
        self.assertEqual(ex["source.add"], 10)
        self.assertEqual(ex["streaming.await.a"], 30)
        self.assertEqual(ex["store.write.x"], 45)  # the latest-started wins a tie
        self.assertEqual(ex["cycle"], 0)
        self.assertEqual(ex["workload"], 15)

    def test_reads_go_to_the_request_being_served(self):
        reqs = [{"id": "a", "start_ns": 0, "send_ns": 0, "end_ns": 10},
                {"id": "b", "start_ns": 0, "send_ns": 1, "end_ns": 20}]
        reads = [{"start_ns": 2, "end_ns": 5}, {"start_ns": 12, "end_ns": 15}]
        got = traceview.attach_reads(reqs, reads)
        self.assertEqual([r["start_ns"] for r in got["a"]], [2])
        self.assertEqual([r["start_ns"] for r in got["b"]], [12])


class ContextTest(unittest.TestCase):
    def test_unreadable_or_garbage_is_none(self):
        with tempfile.TemporaryDirectory() as d:
            bad = os.path.join(d, "loadavg")
            with open(bad, "w") as f:
                f.write("unavailable 0.1 0.2\n")
            self.assertIsNone(context.loadavg_1m(bad))
            self.assertIsNone(context.loadavg_1m(os.path.join(d, "missing")))
            stat = os.path.join(d, "stat")
            with open(stat, "w") as f:
                f.write("cpu  x y z\n")
            self.assertIsNone(context.cpu_times(stat))
            with open(stat, "w") as f:
                f.write("cpu  10 0 10 70 0 0 0 10 0 0\n")
            self.assertEqual(context.cpu_times(stat), (100, 10))
        self.assertIsNone(context.steal_pct(None, (1, 1)))
        self.assertEqual(context.steal_pct((100, 10), (200, 15)), 5.0)
        self.assertEqual(json.dumps({"l": context.loadavg_1m("/nonexistent")}), '{"l": null}')


class VerdictTest(unittest.TestCase):
    """A corrupted expected value must turn a run's verdict to fail."""

    def _raw(self, work, store, endpoints_body):
        with open(os.path.join(work, "events.jsonl"), "w") as f:
            f.write("\n".join(EVENTS) + "\n")
        return {"workload": "live",
                "timed": {"cycles": [{"first": 0, "last": 10}], "failed_cycles": 0,
                          "reads": [{"status": 200}]},
                "check": {"events_file": "events.jsonl", "store": store,
                          "dashboard_now": "2026-01-01T10:02",
                          "endpoints": [{"path": "/metrics/timeseries/visits?lastMinutes=10",
                                         "status": 200, "body": endpoints_body}]}}

    def test_verdict(self):
        rc = recount.recount(EVENTS)
        counters, sets, hll = recount.expected_store(rc)
        store = {"counters": counters, "sets": {k: sorted(v) for k, v in sets.items()}, "hll": hll}
        body = json.dumps(recount.expected_endpoints(
            rc, datetime.datetime(2026, 1, 1, 10, 2))["visits"])
        with tempfile.TemporaryDirectory() as d:
            n, failures = metrics.check(self._raw(d, store, body), d)
            self.assertEqual(failures, [])
            _, failed = metrics.counts(self._raw(d, store, body), n, failures)
            self.assertEqual(failed, 0)
            wrong = dict(store, counters=dict(counters, **{"visitCounter_2026_01_01T10_00": 4}))
            n, failures = metrics.check(self._raw(d, wrong, body), d)
            self.assertNotEqual(failures, [])
            _, failed = metrics.counts(self._raw(d, wrong, body), n, failures)
            self.assertGreater(failed, 0)
            n, failures = metrics.check(self._raw(d, store, body.replace("5", "7", 1)), d)
            self.assertEqual([f[0] for f in failures], ["endpoint"])


if __name__ == "__main__":
    unittest.main()
