"""Unit tests of the benchmark's own arithmetic and oracle comparison.

    python3 -m unittest discover -s kbench -p 'test_*.py'
"""
import datetime
import decimal
import unittest

import oracle
import stats


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)

    def test_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        for n in (40, 100, 250, 1000, 10000):
            self.assertGreaterEqual(stats.samples_beyond(n, stats.tail_percentile(n)), 10)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_children_and_overlap(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 90, 120), self.span(5, 2, 12, 18)]
        st = stats.self_times(spans)
        # children of 1 cover [10, 50] and [90, 100] of its interval
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 14)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 6)

    def test_leaf_is_whole_duration(self):
        self.assertEqual(stats.self_times([self.span(7, 0, 5, 9)]), {7: 4})

    def test_covered_merges_nested_intervals(self):
        self.assertEqual(stats.covered([(0, 10), (2, 3), (5, 12)], 0, 20), 12)


class OracleNormalisation(unittest.TestCase):
    def test_cells(self):
        self.assertEqual(oracle.norm(decimal.Decimal("12.50")), 12.5)
        self.assertEqual(oracle.norm(3.0), 3)
        self.assertEqual(oracle.norm(float("nan")), "nan")
        self.assertEqual(oracle.norm(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), 1_000_005)
        utc1 = datetime.timezone(datetime.timedelta(hours=1))
        self.assertEqual(oracle.norm(datetime.datetime(1970, 1, 1, 1, 0, 1, tzinfo=utc1)),
                         1_000_000)
        self.assertEqual(oracle.norm(datetime.date(1970, 1, 3)), 2)
        self.assertEqual(oracle.norm(b"\x01\xff"), "01ff")
        self.assertEqual(oracle.norm({"a": 1.0, "b": [2.5]}), [1, [2.5]])
        self.assertIs(oracle.norm(True), True)

    def test_columns_by_name_rows_as_bag(self):
        got = [[2, "b"], [1, "a"], [1, "a"]]
        exp = [("a", 1), ("a", 1), ("b", 2)]
        self.assertIsNone(oracle.compare(["n", "s"], got, ["s", "n"], exp))

    def test_float_tolerance_and_int_float(self):
        self.assertIsNone(oracle.compare(["x"], [[0.30000000000000004]], ["x"], [(0.3,)]))
        self.assertIsNone(oracle.compare(["x"], [[3]], ["x"], [(3.0,)]))
        self.assertIsNotNone(oracle.compare(["x"], [[0.31]], ["x"], [(0.3,)]))

    def test_mismatches_are_described(self):
        self.assertIn("columns", oracle.compare(["a"], [[1]], ["b"], [(1,)]))
        self.assertIn("rows", oracle.compare(["a"], [[1]], ["a"], [(1,), (1,)]))
        self.assertIn("row 0", oracle.compare(["a"], [["x"]], ["a"], [("y",)]))

    def test_term_lexical_form(self):
        cell = [1, "42", "http://www.w3.org/2001/XMLSchema#integer", None, 42.0]
        self.assertEqual(oracle.term_lex(cell), "42")
        self.assertEqual(oracle.term_lex("urn:x"), "urn:x")


if __name__ == "__main__":
    unittest.main()
