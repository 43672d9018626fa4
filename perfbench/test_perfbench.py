"""Tests for the benchmark's own code: input generation, statistics, checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import gzip
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tmpdir():
    os.makedirs(run.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.BUILD)


def tree_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_ingest_inputs_repeat_per_seed(self):
        a = gen.ingest_inputs(5, 300, 100, 20, 10)
        self.assertEqual(a, gen.ingest_inputs(5, 300, 100, 20, 10))
        self.assertNotEqual(a["adds"], gen.ingest_inputs(6, 300, 100, 20, 10)["adds"])

    def test_files_repeat_per_seed(self):
        with tmpdir() as d:
            for sub in ("a", "b"):
                gen.backfill_inputs(3, os.path.join(d, sub, "h"), 6, 1, 5, 40)
                gen.query_tables(3, os.path.join(d, sub, "q"), 0.001)
            gen.backfill_inputs(4, os.path.join(d, "c", "h"), 6, 1, 5, 40)
            self.assertEqual(tree_digest(os.path.join(d, "a")),
                             tree_digest(os.path.join(d, "b")))
            self.assertNotEqual(tree_digest(os.path.join(d, "a", "h")),
                                tree_digest(os.path.join(d, "c", "h")))

    def test_events_have_the_archive_shape(self):
        x = gen.ingest_inputs(9, 2000, 1000, 50, 10)
        sent = [r for a in x["adds"] for r in a] + [r for p in x["pages"] for r in p]
        for raw in sent[:200]:
            e = json.loads(raw)
            self.assertIsInstance(e["id"], str)
            self.assertRegex(e["created_at"], r"^\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ$")
        self.assertEqual(len(x["events"]), 2000 + 50 * 9)
        self.assertAlmostEqual(x["replays"] / len(x["events"]), gen.REPLAY_SHARE, delta=0.02)
        # out-of-order events stay inside the 10-minute watermark
        ts = [checks.created_at(r) for r in x["events"].values()]
        running_max, late = 0.0, 0
        for t in ts:
            self.assertGreater(t, running_max - 600)
            late += t < running_max
            running_max = max(running_max, t)
        self.assertGreater(late, 0)
        lengths = sorted(len(r) for r in x["events"].values())
        self.assertLess(lengths[len(lengths) // 2], 1400)
        self.assertGreater(lengths[-1], 3 * lengths[len(lengths) // 2])

    def test_some_hour_files_are_out_of_range(self):
        with tmpdir() as d:
            lo, hi, expected, outside = gen.backfill_inputs(2, d, 6, 1, 5, 40)
            self.assertEqual(len(outside), 2)
            self.assertEqual(len(os.listdir(d)), 6)
            for name in outside:
                with gzip.open(os.path.join(d, name), "rt") as f:
                    ids = {json.loads(line)["id"] for line in f}
                self.assertTrue(ids - set(expected))


class StatsTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10_000), 99.9)

    def test_percentile_is_nearest_rank_and_failures_are_slowest(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.percentile(xs, 99.0), 990)
        self.assertEqual(stats.percentile(xs[:-5] + [float("inf")] * 5, 99.9),
                         float("inf"))
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)

    def test_self_time_subtracts_child_coverage(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "bench", "start_ns": 0, "end_ns": 10 * 10**9},
            {"id": 2, "parent": 1, "layer": "sink", "start_ns": 1 * 10**9, "end_ns": 5 * 10**9},
            {"id": 3, "parent": 1, "layer": "sink", "start_ns": 4 * 10**9, "end_ns": 6 * 10**9},
            {"id": 4, "parent": 2, "layer": "compact", "start_ns": 2 * 10**9, "end_ns": 3 * 10**9},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"bench": 5.0, "sink": 5.0, "compact": 1.0})


class ChecksTest(unittest.TestCase):
    def setUp(self):
        x = gen.ingest_inputs(1, 500, 250, 10, 10)
        self.expected = x["events"]
        self.stored = [(i, raw) for i, raw in self.expected.items()]

    def test_clean_archive_passes(self):
        self.assertEqual(checks.check_archived(self.expected, self.stored), [])
        days = checks.expected_day_counts(self.expected)
        self.assertEqual(checks.check_day_counts(days, dict(days)), [])

    def test_lost_row_is_caught(self):
        errs = checks.check_archived(self.expected, self.stored[1:])
        self.assertTrue(any("lost" in e for e in errs))

    def test_duplicate_is_caught(self):
        doubled = self.stored + self.stored[:1]
        self.assertEqual(checks.check_archived(self.expected, doubled), [])
        self.assertTrue(checks.check_archived(self.expected, doubled, exactly_once=True))
        days = checks.expected_day_counts(self.expected)
        got = dict(days)
        got[max(got)] += 1
        self.assertTrue(checks.check_day_counts(days, got))

    def test_truncated_raw_is_caught(self):
        i, raw = self.stored[7]
        errs = checks.check_archived(self.expected, self.stored[:7] + [(i, raw[:-1])]
                                     + self.stored[8:])
        self.assertTrue(any(i in e for e in errs))

    def test_out_of_range_hour_is_caught(self):
        self.assertTrue(checks.check_hours_read(["a.json.gz"], ["a.json.gz"]))
        self.assertEqual(checks.check_hours_read(["b.json.gz"], ["a.json.gz"]), [])

    def test_hour_rows_check(self):
        want = {"2024-01-15-4": 3, "2024-01-15-5": 2}
        good = [{"hour": "2024-01-15-4", "n": 3, "n_ts": 3},
                {"hour": "2024-01-15-5", "n": 2, "n_ts": 2}]
        self.assertEqual(checks.check_hour_rows(want, good), [])
        self.assertTrue(checks.check_hour_rows(want, good[:1]))
        self.assertTrue(checks.check_hour_rows(want, good + [
            {"hour": "2024-01-15-3", "n": 1, "n_ts": 1}]))
        self.assertTrue(checks.check_hour_rows(want, [
            good[0], {"hour": "2024-01-15-5", "n": 2, "n_ts": 1}]))

    def test_query_results_against_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tmpdir() as d:
            tables, out = os.path.join(d, "tables"), os.path.join(d, "check")
            os.makedirs(tables)
            pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
                           os.path.join(tables, "region.parquet"))
            for key, rows in (("same", [0, 1]), ("lost", [0]), ("approx", [1])):
                os.makedirs(os.path.join(out, key))
                pq.write_table(pa.table({"k": rows}), os.path.join(out, key, "part.parquet"))
            sql = "SELECT r_regionkey AS k FROM region ORDER BY k"
            con = checks.connect(tables, os.path.join(d, "tmp"))
            got = checks.check_query_results(
                con, out, {"same": sql, "lost": sql}, ["same", "lost", "approx", "none"])
        self.assertEqual(got["same"], [])
        self.assertTrue(got["lost"])
        self.assertEqual(got["approx"], [])
        self.assertTrue(got["none"])


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <= set(run.WORKLOADS))

    def test_every_per_layer_metric_names_what_it_should_move(self):
        for name, _ in run.PER_LAYER:
            self.assertTrue(run.should_move(name))


if __name__ == "__main__":
    unittest.main()
