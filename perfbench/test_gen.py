"""Tests of the benchmark's own pieces (no JVM needed).

Run from the root of a graft checkout:  python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def generate_in_subprocess(workload, seed, d, trace):
    """Generates in a fresh interpreter, which has its own string-hash
    seed, so nondeterminism that differs between processes shows."""
    code = (f"import sys; sys.path.insert(0, {HERE!r}); import gen; "
            f"gen.generate({workload!r}, {seed}, {d!r}, {trace!r})")
    subprocess.run([sys.executable, "-c", code], check=True)


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def assert_inputs(self, workload, trace=False):
        a, b, c = (os.path.join(self.tmp.name, x) for x in "abc")
        gen.generate(workload, 7, a, trace)
        generate_in_subprocess(workload, 7, b, trace)
        gen.generate(workload, 8, c, trace)
        self.assertEqual(files(a), files(b))
        self.assertTrue(files(a))
        same = [f for f in files(a) if filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                   shallow=False)]
        self.assertEqual(same, files(a), "same seed must give byte-identical inputs")
        differ = [f for f in files(a) if not filecmp.cmp(
            os.path.join(a, f), os.path.join(c, f), shallow=False)]
        self.assertTrue(differ, "another seed must give other inputs")
        return a, c, differ

    def test_cel_msgs(self):
        self.assert_inputs("cel_msgs")

    def test_paged_stream(self):
        a, _, _ = self.assert_inputs("paged_stream")
        with open(os.path.join(a, "pages_meta.json")) as f:
            meta = json.load(f)
        self.assertGreater(sum(p["late"] for p in meta["pages"]), 0)

    def test_traced_paged_stream(self):
        a, c, differ = self.assert_inputs("paged_stream", trace=True)
        differ = [f for f in differ if f.startswith("analytics")]
        self.assertTrue(differ, "another seed must permute the fixture")
        # the seed permutes rows and query order, never the content
        import duckdb
        con = duckdb.connect()
        for f in differ:
            if f.endswith(".parquet"):
                q = "SELECT * FROM read_parquet('{}') ORDER BY ALL"
                self.assertEqual(con.execute(q.format(os.path.join(a, f))).fetchall(),
                                 con.execute(q.format(os.path.join(c, f))).fetchall(), f)
        with open(os.path.join(a, "analytics", "order.txt")) as f:
            self.assertEqual(sorted(f.read().split()), sorted(metrics.QUERIES))


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_metrics(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(b["end_to_end"], metrics.END_TO_END)
        self.assertEqual(b["per_layer"], metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(gen.WRITERS))


if __name__ == "__main__":
    unittest.main()
