"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import os
import random
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(vals), (90, 90, 10))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001)))[0], 99)
        # 99 samples leave only 9 beyond p90, so p75 is the tail
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_nearest_rank_returns_measured_values(self):
        vals = sorted(random.Random(3).random() for _ in range(37))
        for p in stats.LADDER:
            self.assertIn(stats.nearest_rank(vals, p), vals)

    def test_summary_states_samples_beyond(self):
        s = stats.summarize([5.0] * 40)
        self.assertEqual((s["n"], s["p75_beyond"], s["tail_p"]), (40, 10, 75))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, start, end, parent=-1):
        return {"id": i, "name": f"l{i}.x", "start": start, "end": end,
                "parent": parent, "op": 0}

    def test_overlapping_children_counted_once(self):
        spans = [self.span(0, 0, 100), self.span(1, 10, 30, 0),
                 self.span(2, 20, 50, 0), self.span(3, 90, 120, 0)]
        st = stats.self_times(spans)
        # children cover [10, 50] and [90, 100] of the parent: 50 ms
        self.assertEqual(st[0], 50)
        self.assertEqual((st[1], st[2], st[3]), (20, 30, 30))

    def test_layer_totals(self):
        spans = [self.span(0, 0, 10), self.span(1, 2, 4, 0)]
        spans[1]["name"] = "l0.child"
        self.assertEqual(stats.layer_self_ms(spans), {"l0": 10})


class FailureAccountingTest(unittest.TestCase):
    def test_wrong_output_counts_like_an_exception(self):
        ops = [{"error": None}, {"error": "boom"}, {"error": None}, {"error": None}]
        self.assertEqual(stats.fail_count(ops, wrong={2}), 2)
        self.assertEqual(stats.fail_count(ops, wrong={1}), 1)

    def test_curation_hash_mismatch_is_a_failure(self):
        with tempfile.TemporaryDirectory() as d:
            good, bad = os.path.join(d, "good"), os.path.join(d, "bad")
            os.makedirs(good)
            os.makedirs(bad)
            df = pd.DataFrame({"id": [3, 1, 2], "v": [0.5, -0.0, 2.0]})
            df.to_parquet(f"{good}/part-0.parquet")
            df.assign(v=[0.5, 0.0, 2.5]).to_parquet(f"{bad}/part-0.parquet")
            want = checks.frame_hash(df.iloc[::-1])
            ops = [{"error": None, "check": {"name": "q", "dump": good}},
                   {"error": None, "check": {"name": "q", "dump": bad}},
                   {"error": None, "check": {"name": "q"}}]
            wrong = checks.check_curation(ops, {"q": want})
            self.assertEqual(wrong, {1, 2})
            self.assertEqual(stats.fail_count(ops, wrong), 2)

    def test_frame_hash_is_order_insensitive_and_exact(self):
        df = pd.DataFrame({"b": [1.0, 2.0], "a": ["x", "y"]})
        self.assertEqual(checks.frame_hash(df), checks.frame_hash(df.iloc[::-1][["a", "b"]]))
        self.assertNotEqual(checks.frame_hash(df),
                            checks.frame_hash(df.assign(b=[1.0, 2.0000000001])))
        self.assertNotEqual(checks.frame_hash(df), checks.frame_hash(df.astype({"b": "float32"})))

    def test_dashboard_check_allows_the_server_row_cap(self):
        with tempfile.TemporaryDirectory() as d:
            pd.DataFrame({"k": [1, 2, 3]}).to_parquet(f"{d}/t.parquet")
            reqs = [{"twin": "SELECT k FROM t ORDER BY k"}]
            ops = [{"error": None, "check": {"index": 0, "body": body}}
                   for body in ('[{"k":1},{"k":2}]', '[{"k":1},{"k":2},{"k":3}]',
                                '[{"k":1},{"k":3}]')]
            cap = checks.SERVER_MAX_ROWS
            checks.SERVER_MAX_ROWS = 2
            try:
                self.assertEqual(checks.check_dashboard(d, reqs, ops), {1, 2})
            finally:
                checks.SERVER_MAX_ROWS = cap

    def test_json_rows_against_duckdb_rows(self):
        want = [(dt.datetime(2024, 1, 1, 0, 0, 7, 179575), 3, None, 1.5)]
        cols = ["ts", "n", "missing", "v"]
        got = [{"ts": "2024-01-01T00:00:07.179Z", "n": 3, "v": 1.5}]
        self.assertTrue(checks.rows_match(got, want, cols))
        self.assertFalse(checks.rows_match([dict(got[0], v=1.25)], want, cols))
        self.assertFalse(checks.rows_match([dict(got[0], missing=0)], want, cols))
        self.assertFalse(checks.rows_match(got + got, want, cols))


class TrafficTest(unittest.TestCase):
    def test_panel_mix_is_the_corpus(self):
        mix = gen.corpus_mix()
        self.assertEqual(sum(mix.values()), 69)
        self.assertEqual(mix, gen.PANEL_MIX)
        self.assertEqual(gen.panel_class(
            "SELECT $__timeGroupAlias(t,$__interval), sum(x/($__interval_ms/1000/3600))"
            " FROM a WHERE $__timeFilter(t) GROUP BY 1"), "panel_rate")
        self.assertEqual(gen.panel_class(
            "SELECT $__timeGroupAlias(t,$__interval), avg(x) FROM a GROUP BY 1"), "panel_avg")
        self.assertEqual(gen.panel_class(
            "SELECT t, x FROM a WHERE $__timeFilter(t) AND k = '$op'"), "panel_rows")
        self.assertEqual(gen.panel_class("select distinct name from b"), "panel_static")
        self.assertTrue(gen.uses_variable("SELECT 1 WHERE k = '${country}'"))
        self.assertFalse(gen.uses_variable("SELECT $__timeGroupAlias(t,$__interval)"))

    def test_grafana_interval_rule(self):
        # a 24 h range over 1000 points: 86.4 s rounds to 1 m
        self.assertEqual(gen.round_interval_ms(86_400), 60_000)
        self.assertEqual(gen.round_interval_ms(2_592_000), 1_800_000)
        self.assertEqual(gen.interval_literal(60_000), ("1m", 60))
        self.assertEqual(gen.interval_literal(200), ("200ms", 1))
        self.assertEqual(gen.interval_literal(86_400_000), ("1d", 86400))


class SeedTest(unittest.TestCase):
    def test_dashboard_requests_repeat_per_seed(self):
        a = gen.dashboard_requests(7, 200)
        self.assertEqual(a, gen.dashboard_requests(7, 200))
        self.assertNotEqual(a, gen.dashboard_requests(8, 200))
        # the shape mix is fixed per block, only the order is seeded
        mix = gen.block_mix()
        block = a[:sum(mix.values())]
        for shape in {s for s, _ in mix}:
            self.assertEqual(sum(r["shape"] == shape for r in block),
                             sum(c for (s, _), c in mix.items() if s == shape))

    def test_crawl_recrawl_starts_last_sunday_22h(self):
        monday = dt.datetime(2024, 3, 4)
        self.assertEqual(gen.recrawl_from(monday), dt.datetime(2024, 3, 3, 22))
        self.assertEqual(gen.recrawl_from(monday + dt.timedelta(days=6)),
                         dt.datetime(2024, 3, 3, 22))
        self.assertEqual(gen.recrawl_from(monday + dt.timedelta(days=6, hours=23)),
                         dt.datetime(2024, 3, 10, 22))

    def test_crawl_batches_repeat_per_seed(self):
        a = gen.crawl_plan(7, 4, 8, 4)
        self.assertEqual(a, gen.crawl_plan(7, 4, 8, 4))
        self.assertNotEqual(a[1]["csv"], gen.crawl_plan(8, 4, 8, 4)[1]["csv"])
        self.assertEqual([b["timed"] for b in a],
                         [i >= gen.PREHISTORY for i in range(4)])

    def test_curation_order_repeats_per_seed(self):
        a = gen.curation_order(7, 3)
        self.assertEqual(a, gen.curation_order(7, 3))
        self.assertEqual(sorted(a[0]), sorted(gen.CURATION_QUERIES))

    def test_tables_repeat(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(f"{d}/a")
            os.makedirs(f"{d}/b")
            gen.write_tables(f"{d}/a", 0.001, ["events", "documents"])
            gen.write_tables(f"{d}/b", 0.001, ["documents"])
            self.assertTrue(pq.read_table(f"{d}/a/documents.parquet").equals(
                pq.read_table(f"{d}/b/documents.parquet")))


if __name__ == "__main__":
    unittest.main()
