"""Checks of the benchmark's own arithmetic and of its metric declarations.

Run from the repository root: python3 -m unittest discover -s kgbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def span(name, parent, start, end):
    return {"name": name, "parent": parent, "start_us": start, "end_us": end}


class Arithmetic(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 3, 2]), 2.5)

    def test_spread_matches_statistics_quartiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(run.spread(xs), (q3 - q1) / q2)
        self.assertEqual(run.spread([5.0] * 10), 0.0)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(run.covered([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(run.covered([(-5, 5), (95, 105)], 0, 100), 10)
        self.assertEqual(run.covered([], 0, 100), 0)

    def test_nested_self_times(self):
        spans = [span("run", -1, 0, 100),
                 span("pipeline.write", 0, 0, 60),
                 span("extract.extract_all", 1, 10, 40),
                 span("pipeline.write", 0, 60, 95),
                 span("resolve.pairs", 3, 70, 90),
                 span("resolve.pairs", 3, 85, 93)]
        self.assertEqual(run.self_times(spans), [5, 30, 30, 12, 20, 8])

    def test_span_metrics_attribution_and_coverage(self):
        spans = [span("run", -1, 0, 100),
                 span("pipeline.write", 0, 0, 60),
                 span("extract.extract_all", 1, 10, 40),
                 span("pipeline.write", 0, 60, 95)]
        listener = {"job_start_us": [5, 15, 20, 70, 99],
                    "stages": [{"submit_us": 15, "cpu_ns": 2e9, "shuffle_bytes": 3e6,
                                "spill_bytes": 0, "task_ms": [10, 10, 40]},
                               {"submit_us": 70, "cpu_ns": 1e9, "shuffle_bytes": 0,
                                "spill_bytes": 5e6, "task_ms": [1, 2]}]}
        m, cov = run.span_metrics(spans, listener)
        self.assertEqual(m["extract.extract_all.jobs"], 2)
        self.assertEqual(m["pipeline.write.jobs"], 2)  # the job at 99 is root self time
        self.assertAlmostEqual(m["extract.extract_all.cpu_s"], 2.0)
        self.assertAlmostEqual(m["extract.extract_all.shuffle_mb"], 3.0)
        self.assertAlmostEqual(m["extract.extract_all.task_skew"], 4.0)
        self.assertAlmostEqual(m["pipeline.write.spill_mb"], 5.0)
        self.assertAlmostEqual(m["pipeline.write.wall_s"], 95e-6)
        self.assertAlmostEqual(m["pipeline.write.self_s"], 65e-6)
        self.assertAlmostEqual(cov, 0.95)
        self.assertEqual(m["community.louvain.task_skew"], 0.0)


def fake_raw():
    """Raw JVM output of one plain and one traced call, every span present."""
    spans = [span("run", -1, 0, 7 * len(run.SPANS))] + [
        span(n, 0, 7 * i, 7 * i + 7) for i, n in enumerate(run.SPANS)]
    plain = {"kind": "plain", "wall_s": 2.0, "prep_s": 0.5, "gc_s": 0.1, "heap_peak_mb": 9.0,
             "files_written": 3, "bytes_written": 4e6, "rewrite_bytes": 0,
             "delta_pages_bytes": 0, "digests": {"resolved_triples": "10:77"},
             "catalog_digests": {"resolved_triples": "10:77", "chunk_embeddings": "5:1"},
             "stages": [{"name": n, "wall_ms": 100} for n in run.STAGES],
             "spans": [], "listener": {}}
    traced = dict(plain, kind="traced", spans=spans)
    return {"quality": {k: 0.99 for k in ("triple_precision", "triple_recall",
                                          "link_precision", "link_recall")},
            "warmup": [], "samples": [plain, traced], "session_s": 1.0, "warmup_s": 3.0,
            "base_s": 0.0, "counts": {c: 1 for c in run.COUNTS}}


class Evaluate(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_emitted_names_and_units_are_declared(self):
        for trace in (0, 1):
            correct, attempted, failed, metrics, _ = run.evaluate(fake_raw(), None, trace)
            self.assertEqual((correct, attempted, failed), (True, 2, 0))
            want = run.declared(self.bench, trace)
            self.assertEqual(set(metrics), set(want))
            self.assertEqual({k: u for k, (_, u) in metrics.items()}, want)

    def test_end_to_end_values(self):
        m = run.evaluate(fake_raw(), None, 0)[3]
        self.assertEqual(m["wall_s"][0], 2.0)
        self.assertEqual(m["triples_per_s"][0], 5.0)
        self.assertEqual(m["setup_s"][0], 4.5)
        self.assertEqual(m["bytes_written_mb"][0], 4.0)
        self.assertAlmostEqual(m["triple_f1"][0], 0.99)

    def test_digest_mismatch_is_a_failed_sample(self):
        correct, attempted, failed, _, notes = run.evaluate(
            fake_raw(), {"resolved_triples": "10:78"}, 0)
        self.assertEqual((correct, attempted, failed), (False, 2, 2))
        self.assertTrue(any("digest mismatch" in n for n in notes))

    def test_precision_gate(self):
        raw = fake_raw()
        raw["quality"]["link_recall"] = 0.94
        self.assertFalse(run.evaluate(raw, None, 0)[0])

    def test_catalog_parity_covers_tables_outside_the_gate(self):
        raw = fake_raw()
        raw["samples"][1]["catalog_digests"] = {"resolved_triples": "10:77",
                                                "chunk_embeddings": "5:2"}
        correct, _, failed, _, notes = run.evaluate(raw, None, 1)
        self.assertEqual((correct, failed), (False, 1))
        self.assertTrue(any("chunk_embeddings" in n for n in notes))
        # an untraced run does not digest whole catalogs
        self.assertTrue(run.evaluate(raw, None, 0)[0])

    def test_low_span_coverage_fails_the_traced_sample(self):
        raw = fake_raw()
        raw["samples"][1]["spans"][0]["end_us"] *= 2
        correct, _, failed, _, _ = run.evaluate(raw, None, 1)
        self.assertEqual((correct, failed), (False, 1))

    def test_missing_layer_counts_fail_a_traced_run(self):
        raw = fake_raw()
        raw["counts"] = {}
        correct, _, _, metrics, notes = run.evaluate(raw, None, 1)
        self.assertEqual((correct, metrics), (False, {}))
        self.assertTrue(any("layer counts missing" in n for n in notes))

    def test_bounds(self):
        e2e = {m["name"]: m for m in self.bench["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in e2e.values()))
        self.assertEqual(max(m["bound"] for m in e2e.values()), e2e["setup_s"]["bound"])

    def test_workloads_match_spec(self):
        with open(os.path.join(ROOT, "kgbench", "workloads.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(spec["workloads"]))


if __name__ == "__main__":
    unittest.main()
