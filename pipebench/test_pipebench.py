"""Tests of the benchmark itself.

    python3 -m unittest discover -s pipebench -p 'test_*.py'

The closed-loop test compiles the harness (build.py) and runs one JVM
without Spark; it is skipped when no Java or Spark is installed.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in sorted(gen.WORKLOADS):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                _, da = gen.generate(w, a, 11)
                _, db = gen.generate(w, b, 11)
                self.assertEqual(da, db, w)
                with tempfile.TemporaryDirectory() as c:
                    _, dc = gen.generate(w, c, 12)
                self.assertNotEqual(da, dc, w)

    def test_ingest_truth_matches_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.gen_ingest(d, 3)
            with open(os.path.join(d, "delta.jsonl")) as fh:
                deltas = [json.loads(line) for line in fh]
            with open(os.path.join(d, "deletes.jsonl")) as fh:
                deletes = [json.loads(line)["vec_id"] for line in fh]
        kept = [r["doc_id"] for r in deltas if gen.gate_keep(r["text"])]
        self.assertEqual(truth["kept_delta"], kept)
        self.assertLess(len(kept), len(deltas))          # the gate drops some
        self.assertEqual(truth["n_tombstones"], len(set(deletes)))
        self.assertLess(len(set(deletes)), len(deletes))  # one repeated request
        self.assertEqual({r["batch"] for r in deltas}, set(range(truth["n_batches"])))

    def test_votes_truth_covers_every_roll(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.gen_votes(d, 5)
            rolls = len(os.listdir(os.path.join(d, "landing", "rolls")))
            with open(os.path.join(d, "landing", "edits.yaml")) as fh:
                edits = fh.read()
        self.assertEqual(rolls, info["n_rolls"])
        self.assertIn(": null", edits)
        self.assertIn("start: %d-05-01" % info["years"][0], edits)


class ArithmeticTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        # children overlap each other ((1,4) and (3,6)) and stick out of
        # the span on both sides; covered: 0..0.5, 1..6, 8..10 = 7.5
        kids = [(1, 4), (3, 6), (8, 12), (-2, 0.5)]
        self.assertAlmostEqual(metrics.self_time(0, 10, kids), 2.5)
        self.assertAlmostEqual(metrics.self_time(0, 10, []), 10)
        self.assertAlmostEqual(metrics.self_time(0, 10, [(0, 10), (2, 4)]), 0)

    def test_tail_has_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 41)))
        self.assertEqual((value, n), (30, 40))
        self.assertEqual(sum(1 for x in range(1, 41) if x > value), 10)
        self.assertEqual(pct, 75.0)
        self.assertEqual(metrics.tail([3, 1, 2])[0], 3)


class PerLayerTest(unittest.TestCase):
    def test_spans_jobs_and_tasks_attribute_to_layers(self):
        run = {
            "passes": [
                {"n": 0, "phase": "cold", "traced": False, "ok": True, "wall_s": 2.0,
                 "gc_s": 0.1, "jit_s": 1.0, "counters": {}, "written_bytes": 1},
                {"n": 1, "phase": "measure", "traced": True, "ok": True, "wall_s": 1.1,
                 "gc_s": 0.1, "jit_s": 0.2, "counters": {"llm.TextStats.keep_frac": 0.7},
                 "written_bytes": 1},
                {"n": 2, "phase": "measure", "traced": False, "ok": True, "wall_s": 1.0,
                 "gc_s": 0.1, "jit_s": 0.2, "counters": {}, "written_bytes": 1},
            ],
            "trace": {
                "spans": [
                    {"id": 1, "parent": 0, "name": "pass", "pass": 1, "start": 0, "end": 1100},
                    {"id": 2, "parent": 1, "name": "llm.Dedup.exact", "pass": 1,
                     "start": 100, "end": 600},
                    {"id": 3, "parent": 1, "name": "streaming.IndexedIngestDedup.ingestLoop",
                     "pass": 1, "start": 600, "end": 1000},
                ],
                "jobs": [{"span": 2, "query": None}, {"span": 2, "query": None},
                         {"span": 3, "query": "q"}],
                "tasks": [
                    {"span": 2, "launch": 200, "finish": 300, "shuffle_write": 2e6, "spill": 0},
                    {"span": 2, "launch": 250, "finish": 400, "shuffle_write": 0, "spill": 0},
                    {"span": 3, "launch": 700, "finish": 750, "shuffle_write": 0, "spill": 0},
                ],
                "progress": [
                    {"query": "q", "start": 650, "duration_ms": 100, "rows": 5,
                     "phases": {"addBatch": 80, "walCommit": 10}},
                    {"query": "q", "start": 800, "duration_ms": 150, "rows": 5,
                     "phases": {"addBatch": 120}},
                ],
            },
        }
        out = metrics.per_layer(run)
        self.assertAlmostEqual(out["llm.Dedup.wall_s"], 0.5)
        self.assertAlmostEqual(out["llm.Dedup.self_s"], 0.5)
        self.assertEqual(out["llm.Dedup.jobs"], 2)
        self.assertAlmostEqual(out["llm.Dedup.task_s"], 0.25)
        self.assertAlmostEqual(out["llm.Dedup.idle_s"], 0.3)     # busy 200..400
        self.assertAlmostEqual(out["llm.Dedup.shuffle_mb"], 2.0)
        self.assertAlmostEqual(out["llm.TextStats.keep_frac"], 0.7)
        # the ingest span's self time excludes its two micro-batches
        self.assertAlmostEqual(out["streaming.IndexedIngestDedup.self_s"], 0.15)
        self.assertAlmostEqual(out["streaming.IndexedIngestDedup.jobs_per_batch"], 0.5)
        self.assertAlmostEqual(out["stream.addBatch_s"], 0.2)
        self.assertAlmostEqual(out["stream.batch_p50_s"], 0.125)
        self.assertAlmostEqual(out["trace.uncovered_s"], 0.2)
        self.assertAlmostEqual(out["trace.overhead_frac"], 0.1)
        self.assertAlmostEqual(out["jvm.jit_cold_s"], 1.0)
        self.assertEqual(out["votes.Export.wall_s"], 0.0)


class LeftBehindTest(unittest.TestCase):
    def test_run_fails_when_it_leaves_files_behind(self):
        import run
        with tempfile.TemporaryDirectory() as root:
            with open(os.path.join(root, "src.txt"), "w") as fh:
                fh.write("source")
            before = run.du(root)
            run.check_left(root, before)
            os.makedirs(os.path.join(root, "spark-warehouse"))
            with open(os.path.join(root, "spark-warehouse", "part-0"), "w") as fh:
                fh.write("left")
            with self.assertRaises(SystemExit):
                run.check_left(root, before)


class ClosedLoopTest(unittest.TestCase):
    @unittest.skipUnless(shutil.which("java") and (os.environ.get("SPARK_HOME")
                                                   or shutil.which("spark-submit")),
                         "needs Java and Spark")
    def test_failed_operation_lowers_ok_frac_and_adds_no_time(self):
        import build
        classes = build.build()
        out = subprocess.run(["java", "-cp", build.classpath(classes),
                              "graft.pipebench.SelfTest"],
                             stdout=subprocess.PIPE, text=True, check=True).stdout
        run = json.loads(out.strip().splitlines()[-1])
        failed = [p for p in run["passes"] if not p["ok"]]
        self.assertEqual(len(failed), 2)
        self.assertTrue(all(p["wall_s"] is None for p in failed))
        self.assertTrue(any("planted" in e for p in failed for e in p["errors"]))
        e2e = metrics.end_to_end(run)
        self.assertAlmostEqual(e2e["ok_frac"], 4 / 6.0)
        # the two failed passes slept 0.3 s; the good ones 0.02 s
        self.assertLess(e2e["run_s"], 0.2)


if __name__ == "__main__":
    unittest.main()
