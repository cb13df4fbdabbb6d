"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench
"""

import json
import os
import statistics
import unittest

import analysis

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_exact_ranks(self):
        v = [5, 1, 4, 2, 3]
        self.assertEqual(analysis.percentile(v, 0), 1)
        self.assertEqual(analysis.percentile(v, 25), 2)
        self.assertEqual(analysis.percentile(v, 50), 3)
        self.assertEqual(analysis.percentile(v, 100), 5)

    def test_interpolates_between_ranks(self):
        self.assertAlmostEqual(analysis.percentile([1, 2], 50), 1.5)
        self.assertAlmostEqual(analysis.percentile([10, 20, 30, 40], 90), 37.0)

    def test_empty_input_raises(self):
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)

    def test_quartile_spread_uses_statistics_quantiles(self):
        v = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, _, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(analysis.quartile_spread(v),
                               (q3 - q1) / statistics.median(v))

    def test_samples_beyond_a_percentile(self):
        self.assertEqual(analysis.beyond(100, 95), 5)
        self.assertEqual(analysis.beyond(16, 90), 1)


class GapCheckTest(unittest.TestCase):
    EXPECTED = [("cdc.records", "0/10"), ("cdc.records", "0/11"),
                ("cdc.records.by_account", "0/11"), ("cdc.ledger", "0/12"),
                ("cdc.payments", "0/13")]

    def test_complete_delivery(self):
        g = analysis.check_gaps(self.EXPECTED, list(self.EXPECTED))
        self.assertEqual(g, {"expected": 5, "missing": 0, "duplicates": 0,
                             "unexpected": 0})

    def test_one_dropped_and_one_duplicated_frame(self):
        delivered = [self.EXPECTED[0], self.EXPECTED[1], self.EXPECTED[1],
                     self.EXPECTED[3], self.EXPECTED[4]]  # [2] dropped
        g = analysis.check_gaps(self.EXPECTED, delivered)
        self.assertEqual(g["missing"], 1)
        self.assertEqual(g["duplicates"], 1)
        self.assertEqual(g["unexpected"], 0)

    def test_same_lsn_on_another_topic_is_not_a_substitute(self):
        delivered = [e for e in self.EXPECTED if e[0] != "cdc.records.by_account"]
        delivered.append(("cdc.orders", "0/11"))
        g = analysis.check_gaps(self.EXPECTED, delivered)
        self.assertEqual((g["missing"], g["unexpected"]), (1, 1))


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [
            {"id": 1, "parent": None, "name": "batch", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "name": "plan", "start": 10, "end": 40},
            {"id": 3, "parent": 1, "name": "produce", "start": 30, "end": 60},
            {"id": 4, "parent": 2, "name": "analysis", "start": 15, "end": 20},
        ]
        st = analysis.self_times(spans)
        self.assertEqual(st["batch"], 50)  # children cover 10..60 once
        self.assertEqual(st["plan"], 25)
        self.assertEqual(st["produce"], 30)
        self.assertEqual(st["analysis"], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": 1, "parent": None, "name": "root", "start": 0, "end": 10},
            {"id": 2, "parent": 1, "name": "late", "start": 8, "end": 30},
        ]
        self.assertEqual(analysis.self_times(spans)["root"], 8)

    def test_same_name_sums(self):
        spans = [{"id": i, "parent": None, "name": "decode", "start": 0, "end": 3}
                 for i in range(4)]
        self.assertEqual(analysis.self_times(spans)["decode"], 12)


class FingerprintTest(unittest.TestCase):
    def test_mismatch_and_thrown_query_are_detected(self):
        recorded = {"a": [10, 111], "b": [3, 42], "c": [1, 7]}
        observed = {"a": [10, 111], "b": [3, 43], "c": None}
        self.assertEqual(analysis.fingerprint_mismatches(recorded, observed),
                         ["b", "c"])

    def test_query_without_a_recording_fails(self):
        self.assertEqual(analysis.fingerprint_mismatches({}, {"new": [1, 2]}),
                         ["new"])


class LagTest(unittest.TestCase):
    def test_committed_minus_delivered(self):
        # txnlog rows: txn, due_us, committed_us, records
        txnlog = [["1", "0", "100", "2"], ["2", "0", "300", "3"]]
        arrivals = [150, 160, 350]
        self.assertEqual(analysis.lag_series(txnlog, arrivals, 0, 400, 100),
                         [0, 2, 0, 3, 2])


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_the_analysis(self):
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, analysis.UNITS)
        self.assertEqual(per_layer, analysis.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         ["wal_backlog", "pg_live", "suite"])


if __name__ == "__main__":
    unittest.main()
