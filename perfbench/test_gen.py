"""Tests for the benchmark's input generators, output checks and result-line helpers.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import filecmp
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import run


def _files(d):
    return sorted(os.listdir(d))


class GeneratorTest(unittest.TestCase):

    def _make(self, workload, seed, tmp):
        out = os.path.join(tmp, f"{workload}-{seed}-{len(os.listdir(tmp))}")
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_gives_identical_tables(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.GENERATORS:
                a, b = self._make(w, 7, tmp), self._make(w, 7, tmp)
                self.assertEqual(_files(a), _files(b))
                for f in _files(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False), f"{w}/{f}")

    def test_other_seed_gives_other_values(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.GENERATORS:
                a, b = self._make(w, 1, tmp), self._make(w, 2, tmp)
                self.assertTrue(any(
                    not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                    for f in _files(a)), w)

    def test_catalog_directory_holds_only_tables(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.GENERATORS:
                d = self._make(w, 3, tmp)
                self.assertTrue(all(f.endswith(".parquet") for f in _files(d)), w)

    def test_wide_catalog_work_is_fixed_across_seeds(self):
        shapes = []
        with tempfile.TemporaryDirectory() as tmp:
            for seed in (1, 2, 3):
                d = self._make("wide_catalog", seed, tmp)
                rows, kinds, per_table = 0, collections.Counter(), []
                for f in _files(d):
                    meta = pq.ParquetFile(os.path.join(d, f))
                    rows += meta.metadata.num_rows
                    names = [n for n in meta.schema_arrow.names if n != "id"]
                    kinds.update(n.split("_", 1)[1] for n in names)
                    per_table.append((meta.metadata.num_rows, len(names)))
                    self.assertTrue(300 <= meta.metadata.num_rows <= 20000)
                shapes.append(per_table)
                self.assertEqual(len(_files(d)), gen.WIDE_TABLES)
                self.assertEqual(dict(kinds), gen.WIDE_TYPE_COUNTS)
                self.assertAlmostEqual(rows, gen.WIDE_ROWS, delta=gen.WIDE_TABLES * 300)
        self.assertNotEqual(shapes[0], shapes[1])


    def test_documents_follow_the_engine_test_corpus(self):
        with tempfile.TemporaryDirectory() as tmp:
            d = self._make("curation_keys", 5, tmp)
            text = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        self.assertEqual(len(text), gen.CURATION_DOCS)
        words = [t.split() for t in text]
        self.assertLessEqual({w for ws in words for w in ws}, set(gen.VOCAB) | {"dup"})
        self.assertTrue(all(10 <= len([w for w in ws if w != "dup"]) <= 100 for ws in words))
        # each "dup" document repeats an earlier document verbatim
        dups = [i for i, t in enumerate(text) if t.endswith(" dup")]
        self.assertTrue(0.02 * len(text) <= len(dups) <= 0.08 * len(text), len(dups))
        self.assertTrue(all(text[i][:-len(" dup")] in text[:i] for i in dups))


class CheckTest(unittest.TestCase):

    def test_a_catalog_table_runner_did_not_return_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            for name in ("a", "b"):
                pq.write_table(pa.table({"x": [1, 2]}), os.path.join(tmp, f"{name}.parquet"))
            result = {"runs": [{"run_ts": "2024-01-01 06:00:00", "stats_prefix": "p",
                                "tables": {}}]}
            outcomes = check.check_runner(result, tmp)
        self.assertEqual([op for op, _ in outcomes],
                         ["2024-01-01 06:00:00/a", "2024-01-01 06:00:00/b"])
        self.assertTrue(all(err for _, err in outcomes))


class UnitTest(unittest.TestCase):

    def test_units_follow_metric_suffixes(self):
        self.assertEqual(run.unit_of("scan.wall_s"), "s")
        self.assertEqual(run.unit_of("scan.input_bytes"), "bytes")
        self.assertEqual(run.unit_of("jvm.heap_peak_mb"), "MB")
        self.assertEqual(run.unit_of("scan.core_util"), "ratio")
        self.assertEqual(run.unit_of("trace.other_run_frac"), "ratio")
        self.assertEqual(run.unit_of("scan.jobs"), "count")


if __name__ == "__main__":
    unittest.main()
