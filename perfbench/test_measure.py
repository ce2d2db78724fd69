"""Tests of the benchmark's pure parts. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pandas as pd

import measure


class TailTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(measure.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(measure.percentile([5], 99), 5)
        self.assertEqual(measure.percentile(range(101), 90), 90)

    def test_tail_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, beyond = measure.tail(xs)
        self.assertEqual(p, 90)  # p95 leaves only 5 beyond
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(v, 90.1)

    def test_tail_with_many_samples_reaches_p99(self):
        self.assertEqual(measure.tail(list(range(2000)))[:1], (99,))  # p99.9: 2 beyond
        self.assertEqual(measure.tail(list(range(20000)))[:1], (99.9,))

    def test_tail_falls_back_to_median(self):
        p, v, beyond = measure.tail([3, 1, 2])
        self.assertEqual((p, v, beyond), (50, 2, 1))


class DigestTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"b": [1.0 / 3, 2.5, None], "a": ["x", "y", "z"],
                             "c": [[1, 2], [3], []]})

    def test_order_independent(self):
        df = self.frame()
        shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]]
        self.assertEqual(measure.digest(df), measure.digest(shuffled))

    def test_sensitive_to_values_and_count(self):
        df = self.frame()
        changed = df.copy()
        changed.loc[0, "a"] = "w"
        self.assertNotEqual(measure.digest(df), measure.digest(changed))
        self.assertNotEqual(measure.digest(df), measure.digest(df.iloc[:2]))
        self.assertTrue(measure.digest(df).startswith("3:"))

    def test_floats_compare_at_nine_digits(self):
        a = pd.DataFrame({"x": [0.1 + 0.2]})
        b = pd.DataFrame({"x": [0.3]})
        self.assertEqual(measure.digest(a), measure.digest(b))


class ResidueTest(unittest.TestCase):
    def test_accounting(self):
        with tempfile.TemporaryDirectory() as tmp:
            ckpt = os.path.join(tmp, "graft-ckpt")
            other = os.path.join(tmp, "graft-ooo")
            fixture = os.path.join(other, "fixture")
            os.makedirs(fixture)
            with open(os.path.join(fixture, "f"), "wb") as fh:
                fh.write(b"x" * 100)
            before = measure.snapshot([ckpt, other])

            for q in ("q1-1", "q2-2"):
                os.makedirs(os.path.join(ckpt, q, "state"))
                with open(os.path.join(ckpt, q, "state", "1.delta"), "wb") as fh:
                    fh.write(b"x" * 1024 * 1024)
            with open(os.path.join(fixture, "f"), "ab") as fh:  # grown by 50 bytes
                fh.write(b"y" * 50)
            with open(os.path.join(other, "new"), "wb") as fh:
                fh.write(b"z" * 200)

            left = measure.residue(before, measure.snapshot([ckpt, other]))
            self.assertEqual(left[os.path.join(fixture, "f")], 50)
            m = measure.residue_metrics(left, [ckpt], [other])
            self.assertEqual(m["fs.ckpt_dirs_left"], 2)
            self.assertAlmostEqual(m["fs.ckpt_mib_left"], 2.0)
            self.assertAlmostEqual(m["fs.tmp_mib_left"], 250 / measure.MIB)
            self.assertAlmostEqual(m["residue_mib"], 2.0 + 250 / measure.MIB)

    def test_nothing_left(self):
        m = measure.residue_metrics({}, ["/x/graft-ckpt"], ["/x/graft-tpcds"])
        self.assertEqual(m, {"fs.ckpt_dirs_left": 0, "fs.ckpt_mib_left": 0.0,
                             "fs.tmp_mib_left": 0.0, "residue_mib": 0.0})


class UnionTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(measure._union_ms([(0, 10), (5, 15), (20, 30)], 2, 25), 18)
        self.assertEqual(measure._union_ms([], 0, 10), 0)


if __name__ == "__main__":
    unittest.main()
