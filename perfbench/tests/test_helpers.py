"""Tests of the benchmark's own helpers: percentiles, span self time,
listener-event attribution, the comparison rule and how the oracle
builds expected results.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def span(i, name, parent, start, end, pass_id=1):
    return {"id": i, "name": name, "parent": parent, "pass": pass_id,
            "start_us": start, "end_us": end}


class Percentiles(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        q1, m, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, m, q3), (2.75, 5.5, 8.25))

    def test_single_sample_has_no_spread(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))
        self.assertEqual(stats.iqr_share([4.0]), 0.0)

    def test_iqr_share_is_relative_to_median(self):
        self.assertAlmostEqual(stats.iqr_share([9, 10, 10, 11]), 0.15)

    def test_median_skips_missing(self):
        self.assertEqual(stats.median([None, 3, 1]), 2)
        self.assertIsNone(stats.median([]))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(stats.union_length([(0, 10), (5, 20)], 8, 15), 7)
        self.assertEqual(stats.union_length([], 0, 10), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(0, "pass", -1, 0, 100),
                 span(1, "a", 0, 10, 40),
                 span(2, "b", 0, 30, 60),   # overlaps a: counted once
                 span(3, "c", 1, 15, 20)]
        st = stats.self_time(spans)
        self.assertEqual(st[0], 100 - 50)
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_self_time_by_name_is_a_median_over_passes(self):
        spans = [span(0, "pass", -1, 0, 1_000_000, pass_id=1),
                 span(1, "sink.hyper", 0, 0, 400_000, pass_id=1),
                 span(2, "pass", -1, 0, 3_000_000, pass_id=2),
                 span(3, "sink.hyper", 2, 0, 600_000, pass_id=2),
                 span(4, "sink.hyper", 2, 1_000_000, 1_200_000, pass_id=2)]
        by_name = stats.self_time_by_name(spans)
        self.assertAlmostEqual(by_name["sink.hyper"], (0.4 + 0.8) / 2)
        self.assertAlmostEqual(by_name["pass"], (0.6 + 2.2) / 2)


class Attribution(unittest.TestCase):
    def test_event_goes_to_innermost_enclosing_span(self):
        spans = [span(0, "pass", -1, 0, 100_000),
                 span(1, "sink.hyper", 0, 50_000, 90_000),
                 span(2, "inner", 1, 60_000, 70_000)]
        events = [{"kind": "sql", "t_ms": 10}, {"kind": "sql", "t_ms": 55},
                  {"kind": "sql", "t_ms": 65}, {"kind": "sql", "t_ms": 200}]
        home = stats.attribute(events, spans)
        self.assertEqual([e["t_ms"] for e in home[0]], [10])
        self.assertEqual([e["t_ms"] for e in home[1]], [55])
        self.assertEqual([e["t_ms"] for e in home[2]], [65])
        self.assertEqual([e["t_ms"] for e in home[None]], [200])

    def test_layer_metrics_attribute_listener_counts_to_passes(self):
        spans = [span(0, "pass", -1, 0, 1_000_000),
                 span(1, "sink.hyper", 0, 500_000, 900_000),
                 span(2, "pass", -1, 2_000_000, 4_000_000, pass_id=2),
                 span(3, "sink.hyper", 2, 3_000_000, 3_500_000, pass_id=2)]
        events = ([{"kind": "sql", "t_ms": t} for t in (600, 700, 3100, 3200, 3300)]
                  + [{"kind": "job", "start_ms": 100, "end_ms": 600},
                     {"kind": "job", "start_ms": 2000, "end_ms": 3000},
                     {"kind": "task", "t_ms": 300, "launch_ms": 100, "run_ms": 150,
                      "gc_ms": 10, "shuffle_read_bytes": 5, "shuffle_write_bytes": 7,
                      "spill_bytes": 0},
                     {"kind": "stage", "t_ms": 350, "tasks": 1}])
        trace = {"spans": spans, "events": events, "counters": {"hyper_tables": 1}}
        result = {"session_build_s": 9.0, "heap_peak_mb": [100.0, 120.0],
                  "traced_passes": [1.0, 2.0], "passes": [1.2], "output_bytes": 10.0}
        m = stats.layer_metrics(trace, result, {"inputs": {}}, cpus=4)
        self.assertEqual(set(m), set(stats.PER_LAYER))
        self.assertEqual(m["sink.sql_executions_per_table"], 2.5)   # median of 2 and 3
        self.assertEqual(m["sink.hyper_s"], 0.45)
        self.assertEqual(m["spark.jobs"], 1.0)
        self.assertEqual(m["spark.tasks"], 0.5)                     # 1 and 0 tasks
        self.assertAlmostEqual(m["spark.driver_gap_s"], (0.5 + 1.0) / 2)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.3)


class CompareRule(unittest.TestCase):
    spec = {"better": "lower", "bound": 0.1}

    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_beyond_parent_iqr(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(parent, [x - 1 for x in parent], self.spec), "gain")
        self.assertNotEqual(compare.verdict(parent, [x - 0.01 for x in parent], self.spec),
                            "gain")

    def test_regression_beyond_bound(self):
        parent = [10.0, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(parent, [12.0, 12.1, 11.9, 12.0], self.spec),
                         "regression")
        self.assertEqual(compare.verdict(parent, [10.5, 10.6, 10.4, 10.5], self.spec),
                         "no change")

    def test_spread_wider_than_bound_is_unresolved(self):
        parent = [5.0, 10.0, 15.0, 20.0]
        self.assertEqual(compare.verdict(parent, [16.0, 11.0, 21.0, 12.0], self.spec),
                         "unresolved")


class OracleShapes(unittest.TestCase):
    def test_canon_unifies_integral_numbers_and_timestamps(self):
        import datetime
        self.assertEqual(oracle.canon(3), oracle.canon(3.0))
        utc = datetime.timezone.utc
        self.assertEqual(oracle.canon(datetime.datetime(1996, 1, 2, tzinfo=utc)),
                         oracle.canon(datetime.datetime(1996, 1, 2)))

    def test_expected_pivot_and_concat(self):
        import duckdb
        con = duckdb.connect()
        con.execute('CREATE VIEW "b0_t" AS SELECT * FROM (VALUES (1), (2)) v(x)')
        con.execute('CREATE VIEW "b1_t" AS SELECT * FROM (VALUES (5)) v(x)')
        bundle = {"matches": ["b0", "b1"]}
        cols, rows = oracle.expected(con, bundle, {"sql": "SELECT x FROM t.sheet ORDER BY x",
                                                   "pivot": True})
        self.assertEqual(cols, ["index", "x"])
        self.assertEqual(sorted(rows), [("b0", 1.0), ("b0", 2.0), ("b1", 5.0)])
        cols, rows = oracle.expected(con, bundle, {"sql": "SELECT x FROM t.sheet ORDER BY x",
                                                   "pivot": False})
        self.assertEqual(cols, ["b0_x", "b1_x"])
        self.assertEqual(rows, [(1.0, 5.0), (2.0, None)])


if __name__ == "__main__":
    unittest.main()
