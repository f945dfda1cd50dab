"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import pathlib
import statistics
import sys
import tempfile
import unittest

import duckdb
import numpy as np

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        self.assertEqual(stats.median(v), 3.5)
        self.assertEqual(stats.quartiles(v), tuple(statistics.quantiles(v, n=4)))

    def test_degenerate_inputs(self):
        self.assertEqual(stats.median([]), 0.0)
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": "a", "parent": None, "start_ms": 0.0, "end_ms": 10.0},
            {"id": "b", "parent": "a", "start_ms": 1.0, "end_ms": 4.0},
            {"id": "c", "parent": "a", "start_ms": 3.0, "end_ms": 6.0},
            {"id": "d", "parent": "b", "start_ms": 2.0, "end_ms": 3.0},
        ]
        got = {s["id"]: s["self_ms"] for s in stats.self_times(spans)}
        self.assertEqual(got, {"a": 5.0, "b": 2.0, "c": 3.0, "d": 1.0})

    def test_children_are_clipped_to_parent(self):
        spans = [{"id": "a", "parent": None, "start_ms": 0.0, "end_ms": 4.0},
                 {"id": "b", "parent": "a", "start_ms": 3.0, "end_ms": 9.0}]
        self.assertEqual(stats.self_times(spans)[0]["self_ms"], 3.0)


class Attribution(unittest.TestCase):
    def test_idle_core_frac(self):
        self.assertAlmostEqual(stats.idle_core_frac(6.0, 4, 2.0), 0.25)
        self.assertEqual(stats.idle_core_frac(1.0, 4, 0.0), 0.0)

    def test_stage_windows_run_back_to_back(self):
        report = [{"stage": "x", "seconds": 1.5}, {"stage": "y", "seconds": 0.5}]
        self.assertEqual(stats.stage_windows(100.0, report),
                         [("x", 100.0, 1600.0), ("y", 1600.0, 2100.0)])

    def test_jobs_hang_under_innermost_span(self):
        result = {
            "iterations": [{"iter": 0, "start_ms": 0.0, "end_ms": 5000.0,
                            "report": [{"stage": "quality", "seconds": 2.0}]}],
            "calls": [{"name": "Pipeline.runAll", "iter": 0,
                       "start_ms": 1000.0, "end_ms": 4000.0}],
            "jobs": [{"job": 7, "submit_ms": 1500, "end_ms": 2500},
                     {"job": 8, "submit_ms": 3500, "end_ms": 3600},
                     {"job": 9, "submit_ms": 4500, "end_ms": 4600}],
        }
        parents = {s["id"]: s["parent"] for s in trace.build_spans(result)}
        self.assertEqual(parents["job7"], "it0/Pipeline.runAll/quality")
        self.assertEqual(parents["job8"], "it0/Pipeline.runAll")
        self.assertEqual(parents["job9"], "it0")


class CorpusGolden(unittest.TestCase):
    def test_exact_and_near_duplicates_collapse(self):
        words = [f"w{i}" for i in range(34)]
        a = " ".join(["the"] + words + ["a"])
        near = a.replace(" w10 ", " w10x ")  # changes 3 of 34 shingles: Jaccard 31/37
        other = " ".join(["the"] + [f"v{i}" for i in range(34)] + ["a"])
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, source VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, 'src0', ?)",
                        [(1, a), (2, a), (3, near), (4, other)])
        self.assertEqual(checks.corpus_golden(con), {
            "ingest": 4, "quality_gate": 4, "source_cap": 4, "dedup": 2,
            "span_scrub": 2, "tokenizer": 2, "ppl_buckets": 2, "shard_write": 2})


class Generator(unittest.TestCase):
    def test_xxh64_matches_spark(self):
        # values of Spark's XXH64.hashLong(v, seed)
        got = gen.xxh64_long(np.array([0, 1, -7]), 42).view(np.int64).tolist()
        self.assertEqual(got, [-5252525462095825812, -7001672635703045582,
                               -1663473129717591079])
        self.assertEqual(int(gen.xxh64_long(np.array([123456789]), -3).view(np.int64)[0]),
                         3500304590826438033)

    def test_same_seed_gives_identical_files(self):
        def digest(root):
            return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
                    for p in sorted(pathlib.Path(root).rglob("*")) if p.is_file()}
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                for workload in ("dwh", "corpus"):
                    gen.generate(seed, f"{d}/{name}", workload)
            a, b, c = digest(f"{d}/a"), digest(f"{d}/b"), digest(f"{d}/c")
        # base/ and delta/ hold customer, part, orders and lineitem;
        # corpus/ holds documents; plus the manifest
        self.assertEqual(len(a), 10)
        self.assertEqual(a, b)
        # the base day is the same for every seed; the rest is the seed's
        self.assertEqual(a["base/orders.parquet"], c["base/orders.parquet"])
        self.assertNotEqual(a["delta/orders.parquet"], c["delta/orders.parquet"])
        self.assertNotEqual(a["corpus/documents.parquet"], c["corpus/documents.parquet"])


if __name__ == "__main__":
    unittest.main()
