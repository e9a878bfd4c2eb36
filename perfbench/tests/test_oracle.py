"""Tests of the DuckDB-side result fingerprint (perfbench/oracle.py).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402


class EncTest(unittest.TestCase):
    def test_scalars(self):
        self.assertEqual(oracle.enc(None), "n")
        self.assertEqual(oracle.enc(True), "b1")
        self.assertEqual(oracle.enc(-12), "i-12")
        self.assertEqual(oracle.enc("ab"), "sab")
        # doubles by their IEEE bits, -0.0 as 0.0
        self.assertEqual(oracle.enc(1.0), "f3ff0000000000000")
        self.assertEqual(oracle.enc(-0.0), oracle.enc(0.0))
        self.assertEqual(oracle.enc(decimal.Decimal("1.50")), "d1.5")
        self.assertEqual(oracle.enc(decimal.Decimal("100")), "d100")

    def test_dates_and_timestamps_share_microseconds(self):
        d = datetime.date(2024, 1, 2)
        ts = datetime.datetime(2024, 1, 2)
        self.assertEqual(oracle.enc(d), oracle.enc(ts))
        self.assertEqual(oracle.enc(ts), "t1704153600000000")
        utc = datetime.datetime(2024, 1, 2, tzinfo=datetime.timezone.utc)
        self.assertEqual(oracle.enc(utc), oracle.enc(ts))

    def test_fingerprint_is_order_independent_and_column_sorted(self):
        a = oracle.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[2], ["a", "b"])
        c = oracle.fingerprint(["a", "b"], [("y", 2), ("x", 3)])
        self.assertNotEqual(a[1], c[1])


if __name__ == "__main__":
    unittest.main()
