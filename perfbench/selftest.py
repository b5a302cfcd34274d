"""The benchmark's own tests: python3 perfbench/run.py --selftest

Unit tests of the statistics and the statement streams run anywhere. The
Flight SQL test launches the server the way a run does, so it needs the
repository sources (run it from the repository root).
"""
import json
import os
import unittest

import flightsql
import stats
import workloads


class Percentile(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for v in range(1, 101) if v > value), 10)

    def test_tail_ignores_input_order(self):
        vals = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([float(i) for i in range(10)]), (9.0, 100.0, 10))

    def test_tail_of_eleven_samples(self):
        value, pct, n = stats.tail([float(i) for i in range(11)])
        self.assertEqual(value, 0.0)
        self.assertAlmostEqual(pct, 100.0 / 11)


class Charging(unittest.TestCase):
    def test_failures_cost_the_limit(self):
        got = stats.charged([("a", 5.0, True), ("b", 1.0, False)], 2000.0)
        self.assertEqual(got, [("a", 5.0), ("b", 2000.0)])

    def test_fixing_a_failure_never_raises_latency(self):
        # a statement that failed fast, once fixed, takes real time below
        # the limit: every latency metric must go down or stay
        import run
        before = [rec("a", 10.0, True), rec("b", 1.0, False)]
        after = [rec("a", 10.0, True), rec("b", 900.0, True)]
        m0, _ = run.served_metrics(before, 1.0, 1.0, 1.0, 1000.0)
        m1, _ = run.served_metrics(after, 1.0, 1.0, 1.0, 1000.0)
        for k in ("lat_p50_ms", "lat_tail_ms", "lat_geomean_ms", "ttfb_p50_ms"):
            self.assertLessEqual(m1[k][0], m0[k][0], k)
        self.assertGreater(m1["ok_share"][0], m0["ok_share"][0])

    def test_failed_statement_is_charged_in_ttfb_too(self):
        import run
        m, extra = run.served_metrics([rec("a", 3.0, False)], 1.0, 1.0, 1.0, 500.0)
        self.assertEqual(m["lat_p50_ms"][0], 500.0)
        self.assertEqual(m["ttfb_p50_ms"][0], 500.0)
        self.assertEqual(extra["fail_share"], 1.0)


def rec(key, ms, ok):
    return {"stmt": {"key": key}, "ms": ms, "ttfb_ms": ms / 2 if ok else None,
            "bytes": 100, "ok": ok}


class Geomean(unittest.TestCase):
    def test_geomean_of_per_statement_medians(self):
        pairs = [("a", 1.0), ("a", 100.0), ("a", 4.0), ("b", 16.0)]
        self.assertAlmostEqual(stats.geomean_of_medians(pairs), 8.0)

    def test_one_heavy_statement_does_not_dominate(self):
        light = [(f"s{i}", 10.0) for i in range(9)]
        g = stats.geomean_of_medians(light + [("heavy", 10000.0)] * 50)
        self.assertLess(g, 21.0)


class Window(unittest.TestCase):
    """Where the timed window stops taking statements (run.Loop)."""

    @staticmethod
    def loop(**kw):
        import run
        stmts = [{"deck": d} for d in range(4) for _ in range(3)]
        return run.Loop(0, stmts, 1, 1000.0, **kw)

    @staticmethod
    def take(loop, n_before, deadline_passed=-1.0):
        """Decks of the statements taken: n_before before the deadline, then
        every one the loop still hands out after it."""
        got = [loop._take(float("inf"))["deck"] for _ in range(n_before)]
        while (s := loop._take(deadline_passed)) is not None:
            got.append(s["deck"])
        return got

    def test_the_deck_in_progress_is_finished(self):
        self.assertEqual(self.take(self.loop(), 4), [0, 0, 0, 1, 1, 1])

    def test_a_deck_boundary_at_the_deadline_ends_the_window(self):
        self.assertEqual(self.take(self.loop(), 3), [0, 0, 0])

    def test_min_decks_are_covered_past_the_deadline(self):
        self.assertEqual(self.take(self.loop(min_decks=2), 0), [0, 0, 0, 1, 1, 1])
        self.assertEqual(self.take(self.loop(min_decks=2), 7), [0, 0, 0, 1, 1, 1, 2, 2, 2])

    def test_warm_up_stops_mid_deck(self):
        self.assertEqual(self.take(self.loop(whole_decks=False), 4), [0, 0, 0, 1])


class Streams(unittest.TestCase):
    ORACLE = {f"q{i:03d}": f"SELECT {i} AS v" for i in range(60)}

    @staticmethod
    def flat(decks):
        return [s for d in decks for s in d]

    def test_same_seed_same_statements(self):
        self.assertEqual(workloads.micro(7, 5), workloads.micro(7, 5))
        self.assertEqual(workloads.analytic(7, self.ORACLE, 3),
                         workloads.analytic(7, self.ORACLE, 3))

    def test_seeds_change_order_and_values_not_the_mix(self):
        a, b = self.flat(workloads.micro(1, 10)), self.flat(workloads.micro(2, 10))
        self.assertNotEqual([s["sql"] for s in a], [s["sql"] for s in b])
        self.assertEqual(sorted(s["key"] for s in a), sorted(s["key"] for s in b))
        x = self.flat(workloads.analytic(1, self.ORACLE, 2))
        y = self.flat(workloads.analytic(2, self.ORACLE, 2))
        self.assertNotEqual(x, y)
        self.assertEqual(sorted(s["key"] for s in x), sorted(s["key"] for s in y))

    def test_every_deck_holds_the_whole_mix(self):
        for decks in (workloads.micro(3, 4), workloads.analytic(3, self.ORACLE, 4)):
            keys = [sorted(s["key"] for s in d) for d in decks]
            self.assertTrue(all(k == keys[0] for k in keys))

    def test_panel_is_a_systematic_sample_without_excluded_texts(self):
        names = list(workloads.EXCLUDED) + list(workloads.SLOW) + [f"z{i:02d}" for i in range(40)]
        p = workloads.panel(names)
        self.assertEqual(p, [f"z{i:02d}" for i in range(0, 40, workloads.PANEL_STRIDE)])

    def test_prepared_statements_bind_what_the_oracle_inlines(self):
        for s in self.flat(workloads.micro(5, 3)):
            if s["shape"] == "prepared":
                self.assertEqual(s["sql"].replace("$1", str(s["params"][0])), s["oracle"])


class Protobuf(unittest.TestCase):
    def test_any_roundtrip(self):
        msg = flightsql.statement_query("SELECT 1 AS a")
        outer = flightsql.pb_fields(msg)
        self.assertEqual(outer[1].decode(),
                         flightsql.SQL_NS + "CommandStatementQuery")
        self.assertEqual(flightsql.pb_fields(outer[2])[1], b"SELECT 1 AS a")

    def test_long_varint(self):
        sql = "SELECT " + "1, " * 300 + "1"
        inner = flightsql.pb_fields(flightsql.pb_fields(flightsql.create_prepared(sql))[2])
        self.assertEqual(inner[1].decode(), sql)


class FlightSqlOnServer(unittest.TestCase):
    """The hand-encoded Any commands decode on the program's server."""

    @classmethod
    def setUpClass(cls):
        import run
        root = os.getcwd()
        if not os.path.isfile(os.path.join(root, "build.sbt")):
            raise unittest.SkipTest("not at the repository root")
        cls.build = run.Build(root)
        cls.build.ensure()
        cls.server = run.Server(cls.build, cls.build.data(0.01)).start()
        from pyarrow import flight
        cls.client = flight.FlightClient(f"grpc://localhost:{cls.server.port}")

    @classmethod
    def tearDownClass(cls):
        cls.client.close()
        cls.server.stop()

    def test_statement_query_twostep(self):
        t = flightsql.twostep(self.client, "SELECT 1 AS a").table
        self.assertEqual(t.column("a").to_pylist(), [1])

    def test_prepared_statement_binds_its_parameter(self):
        sql = "SELECT r_name FROM region WHERE r_regionkey = $1"
        t = flightsql.prepared(self.client, sql, [2]).table
        self.assertEqual(t.column("r_name").to_pylist(), ["REGION_2"])

    def test_plain_ticket(self):
        t = flightsql.plain(self.client, workloads.EXTENSIONS_SQL).table
        self.assertIn("parquet", t.column(0).to_pylist())

    def test_oracle_dump_holds_the_panel(self):
        oracle = json.load(open(self.build.oracle_json))
        self.assertTrue(workloads.panel(oracle))
        self.assertTrue(set(workloads.panel(oracle)) <= set(oracle))


def main():
    suite = unittest.defaultTestLoader.loadTestsFromModule(__import__(__name__))
    result = unittest.TextTestRunner(verbosity=2).run(suite)
    return 0 if result.wasSuccessful() else 1
