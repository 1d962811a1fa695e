"""Tests for the benchmark's metric math.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(id_, t0, t1, name="op", layer="bench", track="main", parent=-1, **extra):
    return dict(id=id_, parent=parent, op=-1, name=name, layer=layer, track=track, t0=t0, t1=t1, **extra)


class PercentileRule(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(metrics.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 25), 2)
        self.assertAlmostEqual(metrics.percentile([0, 10], 90), 9.0)

    def test_tail_is_highest_percentile_with_ten_samples_beyond(self):
        cases = {20: 50.0, 39: 50.0, 40: 75.0, 50: 80.0, 99: 80.0, 100: 90.0, 200: 95.0,
                 1000: 99.0, 10000: 99.9}
        for n, want in cases.items():
            p, _, count = metrics.tail(list(range(n)))
            self.assertEqual((p, count), (want, n), n)

    def test_tail_below_twenty_samples_reports_median_and_count(self):
        p, v, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((p, v, n), (50.0, 2.0, 3))

    def test_tail_value(self):
        _, v, _ = metrics.tail([float(x) for x in range(1, 101)])
        self.assertAlmostEqual(v, metrics.percentile(range(1, 101), 90))


class OverlappingSpans(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_counts_op_time_no_job_covers(self):
        spans = [
            span(1, 0, 100),
            span(2, 10, 30, name="job", layer="spark"),
            span(3, 20, 50, name="job", layer="spark"),   # overlaps job 2
            span(4, 90, 120, name="job", layer="spark"),  # runs past the op
            span(5, 0, 100, name="job", layer="spark", track="writer"),  # another track
        ]
        self.assertEqual(metrics.driver_gap_ms(metrics.assign_parents(spans)), 50)

    def test_driver_gap_skips_waits(self):
        spans = [span(1, 0, 100, name="wait", layer="wait"), span(2, 100, 150)]
        self.assertEqual(metrics.driver_gap_ms(spans), 50)

    def test_jobs_are_parented_to_the_innermost_span_and_self_time_subtracts_children(self):
        spans = metrics.assign_parents([
            span(1, 0, 100),
            span(2, 10, 60, layer="RefTableMutations", parent=1),
            span(3, 20, 40, name="job", layer="spark"),
            span(4, 30, 50, name="job", layer="spark"),  # overlaps job 3
            span(5, 70, 80, name="job", layer="spark"),
        ])
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual((parents[3], parents[4], parents[5]), (2, 2, 1))
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[2], 50 - 30)
        self.assertEqual(selfs[1], 100 - 50 - 10)
        self.assertEqual(selfs[3], 20)

    def test_coverage_is_lowest_track_share(self):
        spans = [span(1, 0, 60), span(2, 50, 90), span(3, 0, 50, track="writer")]
        self.assertAlmostEqual(metrics.coverage(spans, ["main"], (0, 100)), 0.9)
        self.assertAlmostEqual(metrics.coverage(spans, ["main", "writer"], (0, 100)), 0.5)


class Generations(unittest.TestCase):
    def gen(self, g, lag, ok=True):
        return {"k": "generation", "t0": g * 1000.0, "t1": g * 1000.0 + lag, "ok": ok, "gen": g,
                "interval_ms": 1000.0}

    def test_lag_and_coverage_from_generations(self):
        ops = [self.gen(9, 999), self.gen(10, 300), self.gen(11, 400), self.gen(13, 1500),
               self.gen(14, 200, ok=False), self.gen(15, 100),
               {"k": "upsert_cow", "t0": 10500.0, "t1": 11000.0, "ok": True}]
        lags, cov = metrics.generations(ops, (10000.0, 15000.0))
        self.assertEqual(sorted(lags), [300, 400, 1500])  # the failed one is not timed
        self.assertAlmostEqual(cov, 4 / 5)  # generation 12 skipped, 9 and 15 outside

    def test_stream_metrics_from_progress_spans(self):
        window = (10000.0, 13000.0)
        spans = []
        next_id = [1]

        def trigger(gen, t0, phases):
            tid = next_id[0]
            total = sum(ms for _, ms in phases)
            spans.append(span(tid, t0, t0 + total, name="trigger", layer="RefTableMicroBatchStream",
                              track="stream", gen=gen, rows=10))
            at = t0
            for name, ms in phases:
                next_id[0] += 1
                spans.append(span(next_id[0], at, at + ms, name=name, layer="RefTableMicroBatchStream",
                                  track="stream", parent=tid))
                at += ms
            next_id[0] += 1

        steps = [("latestOffset", 20), ("walCommit", 30), ("queryPlanning", 50), ("addBatch", 400),
                 ("commitOffsets", 25)]
        trigger(10, 10010, steps)
        trigger(11, 11030, steps)
        trigger(11, 11600, steps)  # a second batch of the same generation
        trigger(12, 12020, steps)
        spans.append(span(99, 10000, 13000, name="wait", layer="wait", track="writer"))
        ops = [self.gen(g, 500) for g in (10, 11, 12)]
        phase = {"window": list(window), "spans": spans, "ops": ops, "samples": []}
        m = metrics.per_layer("lookup", phase)
        self.assertEqual(m["RefTableMicroBatchStream.boundary_wait_ms.p50"], 20)
        self.assertAlmostEqual(m["RefTableMicroBatchStream.batches_per_generation"], 4 / 3)
        self.assertEqual(m["SnapshotFiles.latest_offset_ms.p50"], 20)
        self.assertEqual(m["RefTableMicroBatchStream.add_batch_ms.p50"], 400)
        self.assertAlmostEqual(m["trace.coverage"], 1.0)  # gaps between triggers are waits
        self.assertGreater(m["wait_ms"], 0)


if __name__ == "__main__":
    unittest.main()
