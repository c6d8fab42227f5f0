"""Tests of the benchmark's own statistics and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.supported_percentile(100, 90), 90)
        self.assertEqual(stats.supported_percentile(99, 90), 89)

    def test_falls_back_to_the_highest_supported_percentile(self):
        self.assertEqual(stats.supported_percentile(50, 90), 80)
        self.assertEqual(stats.supported_percentile(19, 50), 47)

    def test_too_few_samples_report_nothing(self):
        self.assertIsNone(stats.supported_percentile(10, 50))
        t = stats.tail([1.0] * 10, 50)
        self.assertIsNone(t["value"])
        self.assertEqual(t["n"], 10)

    def test_tail_reports_value_and_counts(self):
        xs = list(range(1, 101))  # 1..100
        t = stats.tail(xs, 90)
        self.assertEqual((t["p"], t["value"], t["n"], t["beyond"]), (90, 90, 100, 10))
        t = stats.tail(xs[:40], 95)  # 40 samples support at most p75
        self.assertEqual((t["p"], t["value"], t["beyond"]), (75, 30, 10))

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.nearest_rank([5, 1, 3, 2, 4], 100), 5)
        self.assertEqual(stats.nearest_rank([5, 1, 3, 2, 4], 1), 1)


def batch(start, end, t0, t1, rows=1):
    return {"start_offset": start, "end_offset": end, "start_ms": t0, "end_ms": t1,
            "rows": rows}


class OpenLoopLatency(unittest.TestCase):

    def test_latency_counts_from_the_due_time_not_the_emit_time(self):
        # the generator ran 40 ms late: the ticks were due at 1000 and 1002
        # but appended at 1042; the batch landing them ended at 1300
        appends = [{"offset": 0, "emit_ms": 1042, "n": 2, "due_ms": [1000, 1002]}]
        q = [batch(-1, 0, 1100, 1300)]
        lat, lost = stats.tick_latencies(appends, [q, q])
        self.assertEqual(lat, [300, 298])
        self.assertEqual(lost, [])

    def test_malformed_messages_carry_no_latency_sample(self):
        appends = [{"offset": 0, "emit_ms": 10, "n": 3, "due_ms": [10]}]
        lat, _ = stats.tick_latencies(appends, [[batch(-1, 0, 20, 50)]])
        self.assertEqual(lat, [40])


class OffsetAttribution(unittest.TestCase):

    def test_a_batch_covers_offsets_after_its_start_up_to_its_end(self):
        ends = stats.batch_ends([batch(-1, 2, 0, 10), batch(2, 5, 10, 20)])
        self.assertEqual(stats.covering(ends, 0), (0, 10))
        self.assertEqual(stats.covering(ends, 2), (0, 10))
        self.assertEqual(stats.covering(ends, 3), (10, 20))
        self.assertIsNone(stats.covering(ends, 6))

    def test_no_data_batches_are_ignored(self):
        ends = stats.batch_ends([batch(4, 4, 0, 5, rows=0), batch(4, 6, 5, 9)])
        self.assertEqual(ends, [(4, 6, 5, 9)])

    def test_a_tick_lands_when_the_slower_query_finishes_its_batch(self):
        # ingest batches (-1,1] (1,3]; bars batches (-1,2] (2,3]
        ingest = [batch(-1, 1, 0, 100), batch(1, 3, 100, 200)]
        bars = [batch(-1, 2, 0, 150), batch(2, 3, 150, 260)]
        appends = [{"offset": o, "emit_ms": 0, "n": 1, "due_ms": [0]} for o in range(4)]
        lat, lost = stats.tick_latencies(appends, [ingest, bars])
        self.assertEqual(lat, [150, 150, 200, 260])
        self.assertEqual(lost, [])

    def test_ticks_no_batch_covers_are_reported_lost(self):
        appends = [{"offset": 7, "emit_ms": 0, "n": 1, "due_ms": [0]}]
        lat, lost = stats.tick_latencies(appends, [[batch(-1, 3, 0, 1)]])
        self.assertEqual((lat, lost), ([], [7]))

    def test_waiting_ticks_are_appended_by_batch_end_beyond_its_offset(self):
        appends = [{"offset": o, "emit_ms": 100 * o, "n": 2, "due_ms": []} for o in range(5)]
        # offsets 0..1 taken; 2 and 3 appended by the end (350); 4 after it
        self.assertEqual(stats.waiting_ticks(appends, [batch(-1, 1, 150, 350)]), [4])
        # a batch that took everything appended leaves nothing waiting
        self.assertEqual(stats.waiting_ticks(appends, [batch(1, 4, 400, 600)]), [0])

    def test_drain_spans_both_queries(self):
        ingest = [batch(9, 10, 1000, 1800)]
        bars = [batch(9, 10, 1200, 2000)]
        self.assertAlmostEqual(stats.drain_seconds(10, [ingest, bars]), 1.0)
        self.assertIsNone(stats.drain_seconds(11, [ingest, bars]))


class Fingerprint(unittest.TestCase):

    def frame(self):
        return pd.DataFrame({"symbol": ["A", "B", "C"], "n": [1, 2, 3],
                             "x": [0.1, 0.25, float("nan")]})

    def test_row_order_does_not_matter(self):
        df = self.frame()
        self.assertEqual(stats.fingerprint(df), stats.fingerprint(df.iloc[::-1]))

    def test_column_order_does_not_matter(self):
        df = self.frame()
        self.assertEqual(stats.fingerprint(df), stats.fingerprint(df[["x", "n", "symbol"]]))

    def test_a_changed_value_changes_the_fingerprint(self):
        df, other = self.frame(), self.frame()
        other.loc[1, "x"] = 0.25000000000000006
        self.assertNotEqual(stats.fingerprint(df), stats.fingerprint(other))

    def test_duplicate_rows_count(self):
        df = self.frame()
        doubled = pd.concat([df, df.iloc[[0]]])
        self.assertNotEqual(stats.fingerprint(df), stats.fingerprint(doubled))

    def test_int_widths_and_timestamp_zones_agree(self):
        t = datetime.datetime(2024, 1, 1, 10, 30)
        a = pd.DataFrame({"n": pd.Series([1], dtype="int32"), "t": pd.to_datetime([t])})
        b = pd.DataFrame({"n": pd.Series([1], dtype="int64"),
                          "t": pd.to_datetime([t]).tz_localize("UTC")})
        self.assertEqual(stats.fingerprint(a), stats.fingerprint(b))


if __name__ == "__main__":
    unittest.main()
