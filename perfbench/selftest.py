"""Self-tests of the benchmark itself (not of the program under test).

    python3 perfbench/selftest.py            # all, ~5 minutes
    python3 perfbench/selftest.py --quick    # no Spark runs, ~30 seconds

Run from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import gates  # noqa: E402
import workloads  # noqa: E402

SEEDS = (1, 2, 3)
QUICK = "--quick" in sys.argv
WORK = os.path.join(HERE, ".work")      # ignored by git, like run.py's


def _expected(docs):
    return gates.oracle_table(gates.oracle_rows(docs))


def _spans_out(expected):
    return sum(len(spans) for spans in expected["spans"].to_pylist())


class SeedChangesContentNotAmount(unittest.TestCase):
    def test_document_amounts_equal_across_seeds(self):
        corpora = [corpus.documents(600, 1_000, s) for s in SEEDS]
        shapes = [corpus.shape(docs) for docs in corpora]
        self.assertEqual(shapes[0], shapes[1])
        self.assertEqual(shapes[0], shapes[2])
        self.assertEqual(set(shapes[0]["docs_per_kind"]), {
            "edge", "mega", "plain", "boiler", "media", "layout"})
        for a, b in ((0, 1), (0, 2), (1, 2)):
            self.assertNotEqual(corpora[a], corpora[b])
        outs = {_spans_out(_expected(docs)) for docs in corpora}
        self.assertEqual(len(outs), 1)

    def test_levels_shard_amounts_equal_across_seeds(self):
        corpora = [corpus.levels_documents(200, s) for s in SEEDS]
        shapes = [corpus.shape(docs) for docs in corpora]
        self.assertEqual(shapes[0], shapes[1])
        self.assertEqual(shapes[0], shapes[2])
        self.assertNotEqual(corpora[0], corpora[1])

    def test_vectors_keep_count_and_cosines(self):
        import numpy as np
        vs = [corpus.vectors(400, 12, 64, s) for s in SEEDS]
        self.assertTrue(all(v.shape == (400, 64) for v in vs))
        self.assertFalse(np.array_equal(vs[0], vs[1]))

        def cos(v):
            n = v / np.linalg.norm(v, axis=1, keepdims=True)
            return n @ n.T
        np.testing.assert_allclose(cos(vs[0]), cos(vs[1]), atol=1e-5)


class SameSeedSameBytes(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)

    def _digest(self, path):
        h = hashlib.sha256()
        for name in sorted(os.listdir(path)):
            with open(os.path.join(path, name), "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    def test_documents_parquet_byte_identical(self):
        with tempfile.TemporaryDirectory(dir=WORK) as tmp:
            digests, expected = [], []
            for run in range(2):
                path = os.path.join(tmp, f"d{run}")
                expected.append(workloads.prepare_documents(
                    path, 300, 7, shards=2)[1])
                digests.append(self._digest(path))
            self.assertEqual(digests[0], digests[1])
            self.assertTrue(expected[0].equals(expected[1]))
            self.assertTrue(expected[0].equals(
                _expected(corpus.documents(300, workloads.MEGA_SPANS, 7))))

    def test_vectors_parquet_byte_identical(self):
        with tempfile.TemporaryDirectory(dir=WORK) as tmp:
            for run in range(2):
                corpus.write_vectors(corpus.vectors(200, 12, 64, 7),
                                     os.path.join(tmp, f"v{run}.parquet"))
            with open(os.path.join(tmp, "v0.parquet"), "rb") as a, \
                    open(os.path.join(tmp, "v1.parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read())


class GateCatchesMismatch(unittest.TestCase):
    def test_one_span_mismatch_fails_extraction_gate(self):
        import pyarrow as pa
        expected = _expected(corpus.documents(200, 200, 5))
        self.assertEqual(gates.extraction_mismatches(expected, expected), 0)
        rows = expected.to_pylist()
        victim = next(r for r in rows if len(r["spans"]) > 2)
        victim["spans"][1]["text"] += "x"
        planted = pa.Table.from_pylist(rows, schema=expected.schema)
        self.assertEqual(gates.extraction_mismatches(planted, expected), 1)
        dropped = expected.slice(1)
        self.assertEqual(gates.extraction_mismatches(dropped, expected), 1)

    def test_one_row_mismatch_fails_vector_gate(self):
        import pandas as pd
        good = pd.DataFrame({"qid": [1, 1, 2], "nbr_id": [2, 3, 1],
                             "rank": [1, 2, 1], "cosine": [0.9, 0.8, 0.9]})
        self.assertEqual(gates.vector_mismatches(good, good), 0)
        bad = good.copy()
        bad.loc[1, "nbr_id"] = 4
        self.assertEqual(gates.vector_mismatches(bad, good), 1)
        off = good.copy()
        off.loc[2, "cosine"] += 1e-4
        self.assertEqual(gates.vector_mismatches(off, good), 1)


def _run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace), "--small"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=400)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


EXACT = ("spark.jobs_per_pass", "spark.stages_per_pass",
         "spark.tasks_per_pass", "spark.exchange_bytes_per_pass",
         "operators.fused.py_bytes_sent", "datapipe.similarity.py_bytes_sent",
         "datapipe.similarity.pairs_scored", "operators.fused.spans_out")


@unittest.skipIf(QUICK, "--quick skips Spark runs")
class TracedRuns(unittest.TestCase):
    """Two traced runs of one seed, and one untraced run."""

    @classmethod
    def setUpClass(cls):
        cls.traced = [_run("extract_mixed", 11, 1) for _ in range(2)]
        cls.untraced = _run("vector_topk", 11, 0)

    def test_counts_repeat_exactly(self):
        a, b = (r["metrics"] for r in self.traced)
        for name in EXACT:
            self.assertEqual(a[name]["value"], b[name]["value"], name)

    def test_no_negative_readings(self):
        for result in self.traced + [self.untraced]:
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            for name, m in result["metrics"].items():
                self.assertGreaterEqual(m["value"], 0, name)
                if m["unit"] in ("s", "items/s", "MB"):
                    self.assertGreater(m["value"], 0, name)


if __name__ == "__main__":
    unittest.main(argv=[sys.argv[0]] + [a for a in sys.argv[1:]
                                        if a != "--quick"])
