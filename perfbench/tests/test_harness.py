"""Self-test of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

Checks that the metric names the benchmark emits are the names
BENCHMARK.json declares, and that the output checks count a dropped or a
duplicated row, of a diffdb or of a registry result, as failed work.
Needs no build and no Spark.
"""
import json
import os
import re
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(BENCH)
SCALA = os.path.join(BENCH, "src", "main", "scala", "perfbench")


def source(file_name, start=None, end=None):
    """A Scala source of the benchmark, optionally only the code between
    the markers `start` and `end`."""
    with open(os.path.join(SCALA, file_name)) as f:
        src = f.read()
    if start is not None:
        src = src[src.index(start) + len(start):]
    if end is not None:
        src = src[:src.index(end)]
    return src


def emitted(src):
    """Metric names the JVM code puts into its result (`"name" -> value`)."""
    names = set(re.findall(r'"([a-z][a-z_0-9]*(?:\.[a-z_0-9]+)*)"\s*->', src))
    return {n for n in names if not n.startswith("check.")}


def registry_queries():
    block = source("Main.scala", "val Queries: Seq[String] = Seq(", ")")
    return re.findall(r'"([a-z0-9_]+)"', block)


class MetricNames(unittest.TestCase):
    def test_end_to_end_names(self):
        declared = set(run.declared_names(ROOT, trace=False))
        for start in ("def history(", "def registry("):
            body = source("Main.scala", start)
            marker = '"metrics" -> ListMap('
            block = body[body.index(marker) + len(marker):body.index('"passes_s"')]
            self.assertEqual(emitted(block), declared, start)

    def test_per_layer_names(self):
        declared = set(run.declared_names(ROOT, trace=True))
        history = emitted(source("Layers.scala", "private def measure("))
        registry = emitted(source("Layers.scala", "def runRegistry(", "private def measure(")) | {
            "queries.%s.s" % q for q in registry_queries()}
        for workload, got in (("history_bz2", history), ("registry_mix", registry)):
            idle = run.idle_layers(workload, declared)
            self.assertEqual(got | idle, declared, workload)
            self.assertFalse(got & idle, workload)

    def test_oracle_digests_cover_the_queries(self):
        with open(os.path.join(run.REGISTRY, "oracle.json")) as f:
            self.assertEqual(sorted(json.load(f)), sorted(registry_queries()))


def write_diffdb(out_dir, page_ids, rev_ids, ops_per_row):
    op = pa.struct([("position", pa.int32()), ("action", pa.int32()), ("content", pa.string())])
    diffs = [[{"position": 0, "action": 1, "content": "x" * (i + 1)} for i in range(n)] for n in ops_per_row]
    t = pa.table({"rev_id": pa.array(rev_ids, pa.int64()), "page_id": pa.array(page_ids, pa.int64()),
                  "diffs": pa.array(diffs, pa.list_(op)),
                  "diff_error": pa.array([None] * len(rev_ids), pa.string())})
    part = os.path.join(out_dir, "namespace=0")
    os.makedirs(part, exist_ok=True)
    pq.write_table(t, os.path.join(part, "part-00000.parquet"))


class OutputCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.page = [1, 1, 1, 2, 2]
        self.rev = [10, 11, 12, 20, 21]
        self.ops = [1, 2, 0, 1, 3]
        self.manifest = os.path.join(self.tmp.name, "manifest.npz")
        np.savez(self.manifest, page_id=np.array(self.page), rev_id=np.array(self.rev), ns=np.zeros(5, np.int32))
        self.expected = {"revisions": 5, "ops": sum(self.ops),
                         "op_bytes": sum(n * (n + 1) // 2 for n in self.ops), "kernel_errors": 0}

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, name, rows):
        out = os.path.join(self.tmp.name, name)
        write_diffdb(out, [self.page[i] for i in rows], [self.rev[i] for i in rows], [self.ops[i] for i in rows])
        return check.check_diffdb(out, self.manifest, self.expected)

    def test_intact_output_passes(self):
        got = self.run_check("intact", range(5))
        self.assertTrue(got["ok"], got)
        self.assertEqual(got["failed"], 0)

    def test_dropped_row_fails(self):
        got = self.run_check("dropped", [0, 1, 2, 4])
        self.assertEqual(got["missing"], 1)
        self.assertGreater(got["failed"] / got["attempted"], 0)
        self.assertFalse(got["ok"])

    def test_duplicated_row_fails(self):
        got = self.run_check("duplicated", [0, 1, 2, 3, 3, 4])
        self.assertEqual(got["duplicated"], 1)
        self.assertGreater(got["failed"] / got["attempted"], 0)
        self.assertFalse(got["ok"])


class RegistryCheck(unittest.TestCase):
    rows = [(1, "a", 0.5), (2, "b", None), (3, "é😀", 2.25)]

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.oracle = os.path.join(self.tmp.name, "oracle.json")
        with open(self.oracle, "w") as f:
            json.dump({"q": check.digest(["k", "s", "x"], self.rows)}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, rows):
        d = os.path.join(self.tmp.name, "check", "q")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows))
        # the engine's column order and row order do not matter
        t = pa.table({"x": pa.array(cols[2], pa.float64()), "k": pa.array(cols[0], pa.int64()),
                      "s": pa.array(cols[1], pa.string())})
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))
        return check.check_registry(os.path.join(self.tmp.name, "check"), self.oracle, ["q"], {})

    def test_intact_result_passes(self):
        got = self.run_check(list(reversed(self.rows)))
        self.assertTrue(got["ok"], got)

    def test_dropped_row_fails(self):
        got = self.run_check(self.rows[:2])
        self.assertGreater(got["failed"] / got["attempted"], 0)

    def test_duplicated_row_fails(self):
        got = self.run_check(self.rows + self.rows[:1])
        self.assertGreater(got["failed"] / got["attempted"], 0)

    def test_failed_query_counts(self):
        got = check.check_registry(os.path.join(self.tmp.name, "check"), self.oracle, ["q"], {"q": "boom"})
        self.assertEqual(got["failed"], 1)


if __name__ == "__main__":
    unittest.main()
