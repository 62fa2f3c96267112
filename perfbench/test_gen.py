"""Tests of the seeded input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import gen


class Sbs1GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        a = gen.feed_bytes(gen.sbs1_lines(7, 5000, malformed=True)[0])
        b = gen.feed_bytes(gen.sbs1_lines(7, 5000, malformed=True)[0])
        c = gen.feed_bytes(gen.sbs1_lines(8, 5000, malformed=True)[0])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_malformed_count_is_exact(self):
        for n in (100, 4321, 25000):
            lines, bad = gen.sbs1_lines(3, n, malformed=True)
            self.assertEqual(len(bad), n // gen.MALFORMED_EVERY)
            arity = [len(x.split(",")) for x in lines]
            self.assertEqual({i for i, k in enumerate(arity) if k != 22}, set(bad))
            self.assertTrue(all(arity[i] in (21, 23) for i in bad))

    def test_corpus_is_valid_and_numbered(self):
        lines, bad = gen.sbs1_lines(5, 3000)
        self.assertEqual(bad, [])
        for i, line in enumerate(lines):
            f = line.split(",")
            self.assertEqual(len(f), 22)
            self.assertEqual(int(f[5]), i)  # flight_id is the sequence number
            self.assertTrue(line)

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.tables(11, d1)
            gen.tables(11, d2)
            names = sorted(os.listdir(d1))
            self.assertEqual(len(names), 10)
            for name in names:
                with open(os.path.join(d1, name), "rb") as f1, \
                        open(os.path.join(d2, name), "rb") as f2:
                    self.assertEqual(f1.read(), f2.read(), name)


if __name__ == "__main__":
    unittest.main()
