"""Self-test of the query_mix table generator: python3 perfbench/test_tables.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import tables  # noqa: E402


class TablesTest(unittest.TestCase):

    def test_same_seed_same_rows(self):
        a, b = tables.build(3, 0.001), tables.build(3, 0.001)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(tables.build(4, 0.001)["lineitem"]))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            tables.write(os.path.join(d, "a"), 5, 0.001)
            tables.write(os.path.join(d, "b"), 5, 0.001)
            for name in os.listdir(os.path.join(d, "a")):
                with open(os.path.join(d, "a", name), "rb") as x, \
                        open(os.path.join(d, "b", name), "rb") as y:
                    self.assertEqual(x.read(), y.read(), name)

    def test_all_ten_tables_with_duplicates_planted(self):
        t = tables.build(1, 0.01)
        self.assertEqual(len(t), 10)
        docs = t["documents"].column("text").to_pylist()
        self.assertLess(len(set(docs)), len(docs))


if __name__ == "__main__":
    unittest.main()
