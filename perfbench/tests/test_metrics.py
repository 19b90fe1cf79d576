"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen      # noqa: E402
import metrics  # noqa: E402

BUILDER = os.path.join(HERE, "..", "..", "src", "main", "scala", "graft", "pipeline",
                       "PipelineBuilder.scala")

# every alias of PipelineBuilder.defaultAliases -> the layer its actor is timed in
ALIAS_LAYERS = {
    "file-reader": "source", "file-stream-reader": "streaming", "flat-reader": "source",
    "flat-stream-reader": "streaming", "binary-reader": "source", "jdbc-reader": "source",
    "kafka-reader": "source", "kafka-stream-reader": "source", "delta-reader": "source",
    "delta-stream-reader": "source", "iceberg-reader": "source",
    "iceberg-stream-reader": "source", "hbase-reader": "source", "mongo-reader": "source",
    "redis-reader": "source", "redis-stream-reader": "source", "flight-reader": "source",
    "sql-reader": "sql", "sql-table-reader": "source", "sql": "sql", "sql-transformer": "sql",
    "stream-stateful-transformer": "transform", "schema-validator": "validation",
    "sql-data-validator": "validation", "spark-conf": "utils", "variable-setter": "utils",
    "view-partitioner": "utils", "observe": "utils", "plan-audit": "plans",
    "file-writer": "sink", "file-stream-writer": "streaming", "jdbc-writer": "sink",
    "jdbc-stream-writer": "sink", "kafka-writer": "sink", "kafka-stream-writer": "sink",
    "delta-writer": "sink", "delta-stream-writer": "sink", "iceberg-writer": "sink",
    "iceberg-stream-writer": "sink",
    # the HBase batch writer lives in graft.source, so its time is source time
    "hbase-writer": "source",
    "hbase-stream-writer": "sink", "mongo-stream-writer": "sink", "redis-stream-writer": "sink",
    "mongo-writer": "sink", "redis-writer": "sink", "flight-writer": "sink",
    "sql-writer": "sql", "sql-table-writer": "sink", "dedup": "ml",
    "similarity-search": "ml", "text-analysis": "ml", "multimodal-decode": "ml",
    "image-dedup": "ml", "graph": "ml", "curate": "ml", "pii": "ml",
}


def span(i, parent, a, b, cls="graft.core.PipelineRunner", name="x.run"):
    return {"id": i, "parent": parent, "start_ms": a, "end_ms": b, "cls": cls, "name": name}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 50), 50)
        self.assertEqual(metrics.nearest_rank(xs, 90), 90)
        self.assertEqual(metrics.nearest_rank([7], 90), 7)
        self.assertEqual(metrics.nearest_rank([3, 1, 2], 100), 3)

    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(99, 90), 9)
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(99), 75)
        self.assertEqual(metrics.highest_percentile(1000), 99)
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertIsNone(metrics.highest_percentile(19))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)

    def test_nested_and_overlapping_children(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 30), span(3, 1, 20, 50),   # overlap: 10..50 counts once
                 span(4, 1, 90, 120),                      # clipped to the parent: 90..100
                 span(5, 2, 15, 20)]                       # grandchild: only in span 2
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 5)

    def test_driver_only_time(self):
        self.assertEqual(metrics.driver_only_ms(0, 100, [(10, 20), (15, 30), (90, 110)]), 70)
        self.assertEqual(metrics.driver_only_ms(0, 100, []), 100)


class Layers(unittest.TestCase):
    def test_every_default_alias(self):
        if not os.path.exists(BUILDER):
            self.skipTest("project sources not present")
        with open(BUILDER) as f:
            src = f.read()
        block = src[src.index("val defaultAliases"):src.index("def fromFile")]
        aliases = dict(re.findall(r'"([\w-]+)"\s*->\s*"([\w.]+)"', block))
        self.assertEqual(set(aliases), set(ALIAS_LAYERS))
        for alias, cls in aliases.items():
            self.assertEqual(metrics.layer_of(cls), ALIAS_LAYERS[alias], alias)

    def test_harness_spans(self):
        self.assertEqual(metrics.layer_of("graft.pipeline.PipelineBuilder"), "pipeline")
        self.assertEqual(metrics.layer_of("graft.core.PipelineRunner"), "core")
        self.assertEqual(metrics.layer_of("com.acme.MyActor"), "other")
        self.assertEqual(metrics.action_of("main/load_docs.run"), "main/load_docs")

    def test_execution_accounting(self):
        spans = [span(1, 0, 0, 10, "graft.pipeline.PipelineBuilder", "p.build"),
                 span(2, 0, 10, 100, "graft.core.PipelineRunner", "p.run"),
                 span(3, 2, 20, 50, "graft.sql.SqlActor", "j/a.run"),
                 span(4, 2, 60, 90, "graft.sink.FileWriter", "j/b.run")]
        task = {"stage": 0, "launch_ms": 30, "finish_ms": 40, "run_ms": 10, "gc_ms": 1,
                "shuffle_write": 5, "shuffle_read": 5, "spill": 0, "input_bytes": 8,
                "output_bytes": 0, "failed": False}
        ex = {"wall_ns": 104e6, "start_ms": 0,
              "trace": {"spans": spans, "persist_events": 1, "cached_bytes_peak": 9,
                        "jobs": [{"id": 0, "span": 3}, {"id": 1, "span": 0},
                                 {"id": 2, "span": 2}, {"id": 3, "span": 4}],
                        "tasks": [task, dict(task, stage=1, launch_ms=60, finish_ms=70,
                                             output_bytes=7, input_bytes=0)]}}
        m = metrics.execution_layers(ex, cores=4)
        self.assertEqual(m["pipeline.build_ms"], 10)
        self.assertEqual(m["core.self_ms"], 30)
        self.assertEqual(m["sql.self_ms"], 30)
        self.assertEqual(m["sink.self_ms"], 30)
        self.assertEqual(m["pipeline.actions"], 2)
        # jobs outside any actor call (span 0 or the runner span) are core's
        self.assertEqual((m["core.jobs"], m["sql.jobs"], m["sink.jobs"]), (2, 1, 1))
        self.assertEqual(m["trace.residual_ms"], 4)
        self.assertEqual(m["spark.driver_only_ms"], 84)
        self.assertEqual(m["spark.tasks_per_stage"], 1)
        self.assertEqual(m["source.scan_tasks"], 1)
        self.assertEqual(m["sink.bytes_written"], 7)
        self.assertAlmostEqual(m["spark.busy_share"], 20 / (104 * 4))

    def test_stream_progress(self):
        p = [{"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
             {"numInputRows": 10, "durationMs": {"triggerExecution": 100, "addBatch": 60,
              "queryPlanning": 20, "walCommit": 5, "commitOffsets": 3},
              "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 40}]},
             {"numInputRows": 10, "durationMs": {"triggerExecution": 300, "addBatch": 80,
              "queryPlanning": 10, "walCommit": 7, "commitOffsets": 5},
              "stateOperators": [{"numRowsTotal": 6, "memoryUsedBytes": 30}]}]
        m = metrics.stream_layers(p)
        self.assertEqual(m["streaming.batches"], 2)
        self.assertEqual(m["streaming.batch_ms_p50"], 200)
        self.assertEqual(m["streaming.commit_ms"], 10)
        self.assertEqual((m["transform.state_rows"], m["transform.state_bytes"]), (6, 40))


class StreamFiles(unittest.TestCase):
    def _log(self, path, entries):
        with open(path, "w") as f:
            f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))

    def test_files_to_batches_to_latencies(self):
        with tempfile.TemporaryDirectory() as ckpt:
            src = os.path.join(ckpt, "sources", "0")
            com = os.path.join(ckpt, "commits")
            os.makedirs(src)
            os.makedirs(com)
            e = lambda f, b: {"path": f"file:///in/{f}", "timestamp": 0, "batchId": b}  # noqa
            # a compacted log repeats earlier batches' entries: they collapse
            self._log(os.path.join(src, "0"), [e("a.csv", 0), e("b.csv", 0)])
            self._log(os.path.join(src, "1.compact"), [e("a.csv", 0), e("b.csv", 0),
                                                       e("c.csv", 1)])
            self._log(os.path.join(src, "2"), [e("d.csv", 2), e("c.csv", 2)])
            open(os.path.join(src, ".2.crc"), "w").close()
            for b, ms in ((0, 1_000), (1, 2_000)):
                p = os.path.join(com, str(b))
                self._log(p, [])
                os.utime(p, ns=(ms * 1_000_000, ms * 1_000_000))
            pairs = metrics.file_batches(ckpt)
            self.assertEqual(pairs, [("a.csv", 0), ("b.csv", 0), ("c.csv", 1), ("c.csv", 2),
                                     ("d.csv", 2)])
            commits = metrics.commit_times_ms(ckpt)
            self.assertEqual(commits, {0: 1000, 1: 2000})
            due = {"a.csv": 900, "b.csv": 950, "c.csv": 1500, "d.csv": 1600, "e.csv": 1700}
            lat, problems = metrics.file_latencies(pairs, commits, due)
            self.assertEqual(lat, {"a.csv": 100, "b.csv": 50})
            self.assertEqual(sorted(problems), ["c.csv: in 2 batches",
                                                "d.csv: batch 2 not committed",
                                                "e.csv: in 0 batches"])


class Inputs(unittest.TestCase):
    def test_stream_files_are_seeded(self):
        self.assertEqual(gen.stream_csv(7, 3), gen.stream_csv(7, 3))
        self.assertNotEqual(gen.stream_csv(7, 3), gen.stream_csv(8, 3))
        self.assertEqual(len(gen.stream_csv(7, 3).splitlines()),
                         len(gen.stream_csv(8, 3).splitlines()))

    def test_sessionize_gap_rule(self):
        gap = gen.SESSION_GAP_S
        ev = [(1, 0), (1, gap), (1, 2 * gap + 1), (2, 5), (1, 2 * gap + 1)]
        self.assertEqual(gen.sessionize(ev), {(1, 0): 2, (1, 2 * gap + 1): 2, (2, 5): 1})


if __name__ == "__main__":
    unittest.main()
