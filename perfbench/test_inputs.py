"""Tests of the seeded input copy. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import inputs


def first_ids(dest, table, column):
    part = sorted(os.listdir(os.path.join(dest, f"{table}.parquet")))[0]
    t = pq.read_table(os.path.join(dest, f"{table}.parquet", part), columns=[column])
    return t.column(column).to_pylist()[:20]


class SeededInputsTest(unittest.TestCase):
    def test_copy_holds_the_source_rows_and_depends_only_on_the_seed(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, n, "sf0.1") for n in ("a", "b", "c"))
            inputs.write_seeded(a, 1)
            inputs.write_seeded(b, 1)
            inputs.write_seeded(c, 2)
            for dest in (a, b, c):
                self.assertEqual(inputs.self_check(dest), [])
            self.assertEqual(first_ids(a, "events", "event_id"), first_ids(b, "events", "event_id"))
            self.assertNotEqual(first_ids(a, "events", "event_id"), first_ids(c, "events", "event_id"))
            for t in inputs.TABLES:
                self.assertGreaterEqual(len(os.listdir(os.path.join(a, f"{t}.parquet"))), 2)

    def test_self_check_catches_a_lost_row(self):
        with tempfile.TemporaryDirectory() as tmp:
            dest = os.path.join(tmp, "sf0.1")
            inputs.write_seeded(dest, 3)
            part = os.path.join(dest, "documents.parquet", "part-00000.parquet")
            t = pq.read_table(part)
            pq.write_table(t.slice(1), part)
            self.assertEqual(inputs.self_check(dest), ["documents"])


if __name__ == "__main__":
    unittest.main()
