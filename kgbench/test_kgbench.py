"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s kgbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PrecisionRecall(unittest.TestCase):
    def test_hand_made_triples(self):
        want = {("a", "acquired", "b"), ("a", "ceo of", "c"), ("d", "joined", "e"),
                ("f", "launched", "g")}
        got = {("a", "acquired", "b"), ("a", "ceo of", "c"), ("x", "joined", "e")}
        p, r = checks.precision_recall(got, want)
        self.assertAlmostEqual(p, 2 / 3)
        self.assertAlmostEqual(r, 2 / 4)

    def test_exact_and_empty(self):
        t = {("a", "p", "b")}
        self.assertEqual(checks.precision_recall(t, t), (1.0, 1.0))
        self.assertEqual(checks.precision_recall(set(), t), (0.0, 0.0))
        self.assertEqual(checks.precision_recall(set(), set()), (1.0, 1.0))


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(layers.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(layers.self_time((0, 10), [(1, 4), (2, 5), (5, 6)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(layers.self_time((10, 20), [(5, 12), (18, 30)]), 6)
        self.assertEqual(layers.self_time((10, 20), [(0, 5), (25, 30)]), 10)

    def test_span_report(self):
        trace = {"run": {"start": 0, "end": 1000},
                 "samples": {"t": [0, 100, 300, 800, 1000], "kind": "llcoo"}}
        committed = {"chunks": {"at": 900, "rows": 1}}
        rep = {r["name"]: r for r in layers.span_report(trace, committed)}
        self.assertAlmostEqual(rep["build"]["self_s"], 0.1)
        self.assertAlmostEqual(rep["ingest.chunk"]["call_s"], 0.3)
        self.assertAlmostEqual(rep["ingest.chunk"]["commit_s"], 0.5)
        self.assertAlmostEqual(rep["ingest.chunk"]["self_s"], 0.1)
        self.assertEqual(rep["ingest.ner"]["wall_s"], 0)


class Windows(unittest.TestCase):
    def test_commits_delimit_stages(self):
        committed = {"mentions": {"at": 30, "rows": 1}, "chunks": {"at": 10, "rows": 1},
                     "scratch": {"at": 20, "rows": 1}}
        w = layers.windows(committed, run_start=5)
        self.assertEqual(w["ingest.chunk"], (5, 10))
        self.assertEqual(w["ingest.ner"], (10, 30))
        self.assertEqual(w["canon.cc"], (0.0, 0.0))

    def test_sample_intervals_merge_runs(self):
        iv = layers.sample_intervals({"t": [0, 1, 2, 3, 4], "kind": "llcoo"})
        self.assertEqual(iv, {"l": [(0, 2)], "c": [(2, 3)], "o": [(3, 4)]})

    def test_value_at(self):
        self.assertEqual(layers.value_at([10, 20], [1.0, 2.0], 5), 0.0)
        self.assertEqual(layers.value_at([10, 20], [1.0, 2.0], 15), 1.0)
        self.assertEqual(layers.value_at([10, 20], [1.0, 2.0], 20), 2.0)


class LayerMetrics(unittest.TestCase):
    def trace(self):
        # a 10 s run; stage i commits at 1000 * (i + 1); in every window the
        # first 200 ms sample as layer calls, the next 600 ms as TableIO.commit
        t = list(range(0, 10001, 100))
        kind = "".join("l" if x % 1000 < 200 else "c" if x % 1000 < 800 else "o" for x in t)
        trace = {"run": {"start": 0, "end": 10000},
                 "samples": {"t": t, "kind": kind, "codegen_ms": [5.0 * i for i in range(len(t))]},
                 "jobs": [{"start": 300, "end": 600}, {"start": 500, "end": 900}],
                 "stages": [{"submitted": 300, "completed": 900, "task_ms": [10, 10, 40],
                             "run_ms": 55, "shuffle_write_bytes": 2_000_000,
                             "output_bytes": 3_000_000}],
                 "candidate_pairs": 80}
        committed = {table: {"at": 1000 * (i + 1), "rows": 7}
                     for i, (_, table) in enumerate(layers.STAGE_TABLES)}
        committed["dup_pairs"]["rows"] = 20
        return trace, committed

    def test_values(self):
        trace, committed = self.trace()
        m = layers.layer_metrics(trace, committed, untraced_build_s=9.5, files_written=12)
        self.assertEqual([n for n, _ in layers.metric_units()], list(m))
        self.assertAlmostEqual(m["ingest.chunk.wall_s"], 1.0)
        self.assertAlmostEqual(m["ingest.chunk.call_s"], 0.2)
        self.assertAlmostEqual(m["ingest.chunk.commit_s"], 0.6)
        self.assertAlmostEqual(m["ingest.chunk.idle_s"], 0.4)
        self.assertEqual(m["ingest.chunk.jobs"], 2)
        self.assertAlmostEqual(m["ingest.chunk.skew"], 4.0)
        self.assertAlmostEqual(m["ingest.chunk.shuffle_mb"], 2.0)
        self.assertAlmostEqual(m["ingest.chunk.codegen_s"], 0.05)
        self.assertAlmostEqual(m["ingest.ner.idle_s"], 1.0)
        self.assertEqual(m["ingest.ner.skew"], 0.0)
        self.assertEqual(m["ingest.ner.rows_out"], 7)
        self.assertAlmostEqual(m["core.commit_s"], 9 * 0.6)
        self.assertAlmostEqual(m["core.bytes_written_mb"], 3.0)
        self.assertAlmostEqual(m["link.pairs.accept_ratio"], 0.25)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(m["trace.coverage"], 0.9)

    def test_uncommitted_stage_is_empty_and_the_next_absorbs_it(self):
        trace, committed = self.trace()
        del committed["components"]
        m = layers.layer_metrics(trace, committed, untraced_build_s=9.5, files_written=12)
        self.assertEqual(m["canon.cc.wall_s"], 0)
        self.assertEqual(m["canon.cc.rows_out"], 0)
        self.assertAlmostEqual(m["canon.nodes.wall_s"], 2.0)
        self.assertAlmostEqual(m["trace.coverage"], 0.9)

    def test_commits_read_from_snapshots(self):
        d = tempfile.mkdtemp()
        try:
            os.makedirs(os.path.join(d, "edges", "_snapshots"))
            with open(os.path.join(d, "edges", "_current"), "w") as f:
                f.write("2")
            with open(os.path.join(d, "edges", "_snapshots", "2.json"), "w") as f:
                json.dump({"table": "edges", "rows": 5, "created_at_ms": 1234}, f)
            os.makedirs(os.path.join(d, "nodes"))
            self.assertEqual(layers.commits(d), {"edges": {"at": 1234, "rows": 5}})
        finally:
            shutil.rmtree(d)


class MetricNames(unittest.TestCase):
    def test_benchmark_json_names(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        e2e = [(m["name"], m["unit"]) for m in b["end_to_end"]]
        per_layer = [(m["name"], m["unit"]) for m in b["per_layer"]]
        layers.check_names(e2e + per_layer + [(w["name"], "x") for w in b["workloads"]])
        self.assertEqual(per_layer, layers.metric_units())
        self.assertEqual(e2e, list(run.END_TO_END))
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))

    def test_rejects_bad_names(self):
        for bad in ("", ".x", "a b", "a" * 65, "x/y"):
            with self.assertRaises(ValueError):
                layers.check_names([(bad, "s")])
        with self.assertRaises(ValueError):
            layers.check_names([("a", "s"), ("a", "s")])
        with self.assertRaises(ValueError):
            layers.check_names([("a", "seconds per row!")])


SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])


CHUNK_SCHEMA = pa.schema([("doc_id", pa.string()), ("chunk_index", pa.int32()),
                          ("spans", pa.list_(SPAN))])


def span(kind, text, off):
    return {"kind": kind, "text": text, "media_ref": "" if kind == "text" else "m", "offset": off}


class Guards(unittest.TestCase):
    """check_build on a hand-made committed KG in TableIO's layout."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.inputs = os.path.join(self.dir, "in")
        self.work = os.path.join(self.dir, "work")
        os.makedirs(os.path.join(self.inputs, "docs"))
        self.docs = [{"doc_id": "d1", "spans": [span("text", "A.", 0), span("image", "", 3),
                                                span("text", "B.", 4)]},
                     {"doc_id": "d2", "spans": [span("text", "C.", 0)]}]
        pq.write_table(pa.Table.from_pylist(self.docs, schema=run.DOC_SCHEMA),
                       os.path.join(self.inputs, "docs", "part-0.parquet"))
        self.chunks = [{"doc_id": "d1", "chunk_index": 1, "spans": self.docs[0]["spans"][2:]},
                       {"doc_id": "d1", "chunk_index": 0, "spans": self.docs[0]["spans"][:2]},
                       {"doc_id": "d2", "chunk_index": 0, "spans": self.docs[1]["spans"]}]
        self.commit("chunks", self.chunks)
        self.edges = [{"subj": "a", "obj": "b", "confidence": 0.85, "pred": "acquired"},
                      {"subj": "c", "obj": "d", "confidence": 0.85, "pred": "joined"}]
        for t in checks.HASHED_TABLES:
            self.commit(t, self.edges)
        self.con = checks.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def commit(self, table, rows):
        d = os.path.join(self.work, table)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "data-1", "bucket=0"))
        with open(os.path.join(d, "_current"), "w") as f:
            f.write("1")
        schema = CHUNK_SCHEMA if table == "chunks" else None
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(d, "data-1", "bucket=0", "part-0.parquet"))

    def test_clean_build_passes_and_sets_reference(self):
        ref = {}
        self.assertEqual(run.check_build(self.con, self.inputs, self.work, ref), [])
        self.assertEqual(set(ref["hash"]), set(checks.HASHED_TABLES))
        self.assertEqual(run.check_build(self.con, self.inputs, self.work, ref), [])

    def test_hash_ignores_row_order(self):
        h = checks.content_hash(self.con, checks.table_glob(self.work, "edges"))
        self.commit("edges", self.edges[::-1])
        self.assertEqual(checks.content_hash(self.con, checks.table_glob(self.work, "edges")), h)

    def test_hash_guard_fires_on_perturbed_table(self):
        ref = {}
        run.check_build(self.con, self.inputs, self.work, ref)
        self.commit("edges", [dict(self.edges[0], confidence=0.8501), self.edges[1]])
        failures = run.check_build(self.con, self.inputs, self.work, ref)
        self.assertEqual(len(failures), 1)
        self.assertIn("content hash", failures[0])

    def test_hash_guard_fires_on_dropped_row(self):
        ref = {}
        run.check_build(self.con, self.inputs, self.work, ref)
        self.commit("nodes", self.edges[:1])
        self.assertEqual(len(run.check_build(self.con, self.inputs, self.work, ref)), 1)

    def test_reference_of_another_build_is_not_used(self):
        build_a, build_b = "/b/classes-aaaa", "/b/classes-bbbb"
        with mock.patch.object(run.kbuild, "OUT", self.dir):
            os.makedirs(run.seed_dir(build_a, "small_batch", 1), exist_ok=True)
            os.makedirs(run.seed_dir(build_b, "small_batch", 1), exist_ok=True)
            ref = run.load_json(run.ref_path(build_a, "small_batch", 1), {})
            run.check_build(self.con, self.inputs, self.work, ref)
            run.save_json(run.ref_path(build_a, "small_batch", 1), ref)
            self.commit("edges", self.edges[:1])
            ref_a = run.load_json(run.ref_path(build_a, "small_batch", 1), {})
            ref_b = run.load_json(run.ref_path(build_b, "small_batch", 1), {})
            self.assertEqual(len(run.check_build(self.con, self.inputs, self.work, ref_a)), 1)
            self.assertEqual(run.check_build(self.con, self.inputs, self.work, ref_b), [])

    def test_span_guard_fires_on_lost_span(self):
        self.chunks[0] = dict(self.chunks[0], spans=[])
        self.commit("chunks", self.chunks)
        failures = run.check_build(self.con, self.inputs, self.work, {})
        self.assertEqual(failures, ["1 docs lost their span sequence"])


if __name__ == "__main__":
    unittest.main()
