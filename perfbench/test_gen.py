"""The generator's contract: the same seed gives byte-identical inputs,
another seed gives different ones.

    python3 perfbench/test_gen.py
"""
import os
import tempfile
import unittest

import gen


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


class SeededInputs(unittest.TestCase):

    def _gen(self, fn, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        fn(d, seed)
        return _files(d)

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def check(self, fn):
        a, b, c = self._gen(fn, 7), self._gen(fn, 7), self._gen(fn, 8)
        self.assertTrue(a)
        self.assertEqual(a, b)
        for name in a:
            self.assertNotEqual(a[name], c[name], name)

    def test_events_and_changelog(self):
        self.check(lambda d, s: gen.gen_batch_stream_table(d, s, 5_000, 500, 3, 3600, 1.0))

    def test_documents(self):
        self.check(lambda d, s: gen.gen_documents(d, s, 2_000, 500, 0.1, 5, 0.02, 1, 60))

    def test_stream_rows(self):
        import numpy as np
        v = np.arange(1000, dtype=np.uint64)
        a, b = gen.stream_salt(7), gen.stream_salt(8)
        self.assertTrue((gen.stream_bits(v, a, 1) == gen.stream_bits(v, a, 1)).all())
        self.assertFalse((gen.stream_bits(v, a, 1) == gen.stream_bits(v, b, 1)).all())


if __name__ == "__main__":
    unittest.main()
