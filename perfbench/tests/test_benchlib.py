"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import benchlib  # noqa: E402


class TailTest(unittest.TestCase):
    def test_requested_percentile_when_ten_samples_lie_beyond(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(benchlib.tail(xs, 0.9), (90, 0.9, 100))

    def test_lowered_to_keep_ten_samples_beyond(self):
        value, q, n = benchlib.tail(range(1, 51), 0.9)
        self.assertEqual((value, q, n), (40, 0.8, 50))
        self.assertEqual(sum(1 for x in range(1, 51) if x > value), 10)

    def test_never_below_the_median(self):
        xs = [5, 1, 4, 2, 3, 6]
        value, q, _ = benchlib.tail(xs, 0.9)
        self.assertGreaterEqual(value, benchlib.median(xs))
        self.assertEqual((value, q), (4, 4 / 6))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            benchlib.tail([], 0.9)


class KindSummaryTest(unittest.TestCase):
    def test_kinds_are_summarised_before_aggregation(self):
        s = benchlib.kind_summary({"fast": [1.0, 2.0, 3.0], "slow": [100.0] * 4}, 0.9)
        self.assertEqual(s["fast"], {"p50": 2.0, "tail": 2.0, "tail_percentile": 2 / 3, "n": 3})
        self.assertEqual(s["slow"]["p50"], 100.0)
        self.assertAlmostEqual(benchlib.gmean(k["p50"] for k in s.values()), 200 ** 0.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_children_overlap_and_overhang(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 3), self.span(3, 1, 2, 5),
                 self.span(4, 1, 8, 12), self.span(5, 2, 1, 2)]
        st = benchlib.self_times(spans)
        # children of 1 cover [1,5] and [8,10] inside it: 4 + 2
        self.assertEqual(st[1], 4)
        self.assertEqual(st[2], 1)
        self.assertEqual(st[3], 3)
        self.assertEqual(st[4], 4)
        self.assertEqual(st[5], 1)

    def test_leaf(self):
        self.assertEqual(benchlib.self_times([self.span(7, 0, 2.5, 4.0)]), {7: 1.5})


class CanonicalRowsTest(unittest.TestCase):
    def table(self, rows, cols):
        import pyarrow as pa
        return pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})

    def test_insensitive_to_row_and_column_order(self):
        rows = [(1, "a", 0.5), (2, "b", float("nan")), (2, "b", float("nan")), (3, None, -1.25)]
        shuffled = rows[:]
        random.Random(3).shuffle(shuffled)
        a = self.table(rows, ["k", "s", "v"])
        b = self.table([(s, v, k) for k, s, v in shuffled], ["s", "v", "k"])
        self.assertEqual(benchlib.canonical_rows(a), benchlib.canonical_rows(b))

    def test_sensitive_to_values_and_multiplicity(self):
        base = self.table([(1, "a"), (1, "a"), (2, "b")], ["k", "s"])
        self.assertNotEqual(benchlib.canonical_rows(base),
                            benchlib.canonical_rows(self.table([(1, "a"), (2, "b"), (2, "b")], ["k", "s"])))
        self.assertNotEqual(benchlib.canonical_rows(base),
                            benchlib.canonical_rows(self.table([(1, "a"), (1, "a"), (2, "c")], ["k", "s"])))

    def test_integer_widths_fold_but_int_and_float_differ(self):
        import pyarrow as pa
        i32 = pa.table({"k": pa.array([1, 2], pa.int32())})
        i64 = pa.table({"k": pa.array([2, 1], pa.int64())})
        f64 = pa.table({"k": pa.array([1.0, 2.0], pa.float64())})
        self.assertEqual(benchlib.canonical_rows(i32), benchlib.canonical_rows(i64))
        self.assertNotEqual(benchlib.canonical_rows(i32), benchlib.canonical_rows(f64))


class LatencyMappingTest(unittest.TestCase):
    def write(self, d, name, batch, files):
        with open(os.path.join(d, name), "w") as f:
            f.write("v1\n")
            for p in files:
                f.write(json.dumps({"path": f"file:///x/src/{p}", "timestamp": 1, "batchId": batch}) + "\n")

    def test_batches_from_log_and_compact_files(self):
        with tempfile.TemporaryDirectory() as d:
            self.write(d, "0", 0, ["a.csv", "b.csv"])
            self.write(d, "1", 1, ["c.csv"])
            # a compaction file repeats earlier entries and adds its own batch
            with open(os.path.join(d, "2.compact"), "w") as f:
                f.write("v1\n")
                for p, b in (("a.csv", 0), ("b.csv", 0), ("c.csv", 1), ("d.csv", 2)):
                    f.write(json.dumps({"path": f"file:///x/src/{p}", "timestamp": 1, "batchId": b}) + "\n")
            self.write(d, ".3.tmp", 3, ["e.csv"])
            batches = benchlib.file_batches(d)
        self.assertEqual(batches, {"a.csv": 0, "b.csv": 0, "c.csv": 1, "d.csv": 2})
        schedule = [{"file": "a.csv", "due_ms": 100.0}, {"file": "b.csv", "due_ms": 200.0},
                    {"file": "c.csv", "due_ms": 300.0}, {"file": "d.csv", "due_ms": 400.0},
                    {"file": "e.csv", "due_ms": 500.0}]
        lat, unread = benchlib.event_latencies(schedule, batches, {0: 250.0, 1: 700.0, 2: 900.0})
        self.assertEqual(lat, [150.0, 50.0, 400.0, 500.0])
        self.assertEqual(unread, ["e.csv"])

    def test_rejects_unknown_log_version(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "0"), "w") as f:
                f.write("v9\n{}\n")
            with self.assertRaises(ValueError):
                benchlib.file_batches(d)


if __name__ == "__main__":
    unittest.main()
