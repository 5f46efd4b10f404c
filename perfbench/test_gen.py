"""Self-tests of the benchmark's input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "test-tmp")


def files(d):
    return {os.path.relpath(os.path.join(p, n), d): open(os.path.join(p, n), "rb").read()
            for p, _, names in os.walk(d) for n in names}


def series(d):
    """{(table, metric): tuple of values} of a forecast catalog."""
    out = {}
    for f in sorted(os.listdir(d)):
        t = pq.read_table(os.path.join(d, f))
        for m in t.column_names[1:]:
            out[(f, m)] = tuple(t.column(m).to_pylist())
    return out


def tree(d, skip):
    """(path, size, mtime) of every file under d outside `skip`."""
    seen = set()
    for p, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if os.path.join(p, x) != skip and x != ".git"]
        for n in names:
            st = os.stat(os.path.join(p, n))
            seen.add((os.path.join(p, n), st.st_size, st.st_mtime_ns))
    return seen


class GenTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def path(self, name):
        return os.path.join(self.tmp, name)

    def test_same_seed_gives_byte_identical_inputs(self):
        gen.forecast_catalog(self.path("a"), 11, 6)
        gen.forecast_catalog(self.path("b"), 11, 6)
        self.assertEqual(files(self.path("a")), files(self.path("b")))
        gen.fixtures(self.path("fa"), 11, 0.001)
        gen.fixtures(self.path("fb"), 11, 0.001)
        self.assertEqual(files(self.path("fa")), files(self.path("fb")))

    def test_another_seed_changes_every_series(self):
        a = series_of(self.path("s1"), 1, 6)
        b = series_of(self.path("s2"), 2, 6)
        self.assertEqual(a.keys(), b.keys())
        for key in a:
            self.assertNotEqual(a[key], b[key], key)

    def test_no_two_series_in_a_catalog_are_identical(self):
        s = series_of(self.path("c"), 5, 12)
        self.assertEqual(len(set(s.values())), len(s))

    def test_generators_write_only_their_output_dir(self):
        out = self.path("out")
        before = tree(ROOT, out)
        gen.forecast_catalog(out, 3, 3)
        gen.fixtures(os.path.join(out, "fx"), 3, 0.001)
        self.assertEqual(before, tree(ROOT, out))
        self.assertTrue(os.listdir(out))


def series_of(d, seed, n):
    gen.forecast_catalog(d, seed, n)
    return series(d)


if __name__ == "__main__":
    unittest.main()
