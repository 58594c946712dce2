"""Checks of the benchmark's own code.

    python3 perfbench/selfcheck.py          # from the checkout root

- the same seed reproduces the same corpus digest, another seed does not;
- a wrong query result, a raising operation and a corrupted roundtrip
  output are counted as failed operations (the last check starts a small
  Spark session).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus, harness, run, workloads  # noqa: E402


class _Context:
    def setJobGroup(self, *a) -> None:
        pass

    def setLocalProperty(self, *a) -> None:
        pass


class _Session:
    sparkContext = _Context()


class _Rss:
    armed = False


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_digest(self) -> None:
        a = corpus.table_digest(corpus.generate(7, 500, 50257))
        b = corpus.table_digest(corpus.generate(7, 500, 50257))
        c = corpus.table_digest(corpus.generate(8, 500, 50257))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_shape(self) -> None:
        t = corpus.generate(3, 700, 128256)
        n_tok = t.column("n_tok").to_pylist()
        tokens = t.column("tokens").to_pylist()
        self.assertTrue(all(64 <= n <= 2048 for n in n_tok))
        self.assertEqual([len(x) for x in tokens], n_tok)
        self.assertEqual(len(set(tokens[13])), 1)  # every 13th doc: constant
        self.assertEqual(tokens[7], sorted(tokens[7]))  # every 7th: sorted
        self.assertGreaterEqual(tokens[1][0], 128256)  # outlier at position 0
        src = t.column("source").to_pylist()
        self.assertGreater(src.count("src_0") / len(src), 0.5)

    def test_bands_hold_their_token_share(self) -> None:
        t = corpus.generate(5, 4000, 50257)
        n_tok = t.column("n_tok").to_numpy().astype("int64")
        for lo, hi in workloads.make_bands(n_tok, 5, 1 / 8, 50):
            share = n_tok[(n_tok >= lo) & (n_tok <= hi)].sum() / n_tok.sum()
            self.assertGreater(share, 0.1)
            self.assertLess(share, 0.16)


class _Answers(workloads.OrcSelect):
    """Query results computed from the reference, without Spark."""

    wrong_by = 0

    def __init__(self) -> None:
        super().__init__(os.path.join(ROOT, ".perfbench_work"), 1)
        self.bands = [(64, 100)]
        self.ref_n_tok = workloads.np.array([70, 80, 250])
        self.ref_tok_sum = workloads.np.array([1, 2, 3])

    def op(self, spark, i):
        n, s, t = self.expected(i)
        return [n + self.wrong_by, s, t]


class _WrongAnswers(_Answers):
    """Every query result is off by one row."""

    wrong_by = 1


class CountingTest(unittest.TestCase):
    def test_wrong_query_result_is_failed(self) -> None:
        ops = run.measure(_Answers(), _Session(), _Rss(), 0.0)
        ops += run.measure(_WrongAnswers(), _Session(), _Rss(), 0.0)
        self.assertEqual([o["ok"] for o in ops], [True, False])

    def test_raising_operation_is_failed(self) -> None:
        class Boom(_Answers):
            def op(self, spark, i):
                raise RuntimeError("boom")

        ops = run.measure(Boom(), _Session(), _Rss(), 0.0)
        self.assertEqual([o["ok"] for o in ops], [False])


class CorruptionTest(unittest.TestCase):
    """A byte flipped in a blob part file between the encode and the
    decode half of a roundtrip fails its check."""

    def test_corrupted_output_is_failed(self) -> None:
        base = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(base, exist_ok=True)
        work = tempfile.mkdtemp(prefix="perfbench-selfcheck-", dir=base)
        try:
            harness.prepare_env(ROOT, work)
            spark = harness.Spark(work, 2)
            try:
                session = spark.start()

                class Corrupting(workloads.RoundTrip):
                    rows = 400
                    corrupt = False

                    def write(self, spark):
                        rows = super().write(spark)
                        if self.corrupt:
                            _flip_blob_byte(sorted(glob.glob(os.path.join(self.out, "part-*.parquet")))[0])
                        return rows

                wl = Corrupting(work, 11)
                wl.make_inputs()
                wl.setup(session)
                wl.reference(session)
                ops = run.measure(wl, session, _Rss(), 0.0)
                wl.corrupt = True
                ops += run.measure(wl, session, _Rss(), 0.0)
                self.assertEqual([o["ok"] for o in ops], [True, False])
            finally:
                spark.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _flip_blob_byte(path: str) -> None:
    """Rewrite ``path`` with one byte of the tokens blob flipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    data = t.column("data").to_pylist()
    k = t.column("column").to_pylist().index("tokens")
    blob = bytearray(data[k])
    blob[len(blob) // 2] ^= 0xFF
    data[k] = bytes(blob)
    t = t.set_column(t.schema.get_field_index("data"), "data", pa.array(data, pa.binary()))
    pq.write_table(t, path, compression="none")


if __name__ == "__main__":
    unittest.main()
