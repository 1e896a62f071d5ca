"""Tests of the benchmark's own checks and arithmetic.

    python3 perfbench/test_checks.py
"""
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


class CompareTest(unittest.TestCase):
    def table(self):
        return pd.DataFrame({
            "k": [1, 2, 3],
            "name": ["a", "b", None],
            "x": [0.5, 1.25, float("nan")],
            "v": [[1.0, 2.0], [3.0], []],
        })

    def test_equal_in_any_row_and_column_order(self):
        got = self.table()
        exp = got.iloc[::-1][["x", "v", "k", "name"]]
        self.assertIsNone(checks.compare(got, exp))

    def test_one_cell_change_fails(self):
        for col, value in [("k", 9), ("name", "z"), ("x", 0.5000001), ("v", [1.0, 2.5])]:
            exp = self.table()
            exp.at[1, col] = value
            self.assertIsNotNone(checks.compare(self.table(), exp), col)

    def test_null_against_value_fails(self):
        exp = self.table()
        exp.at[2, "name"] = "c"
        self.assertIsNotNone(checks.compare(self.table(), exp))

    def test_missing_row_fails(self):
        self.assertIsNotNone(checks.compare(self.table(), self.table().iloc[:2]))

    def test_extra_column_fails(self):
        exp = self.table().assign(extra=0)
        self.assertIsNotNone(checks.compare(self.table(), exp))


class ReplayTest(unittest.TestCase):
    # docs 1..7 in two waves; keys are (band, sig)
    KEYS = {1: {(0, 10), (1, 11)}, 2: {(0, 10), (1, 99)}, 3: {(0, 30)},
            4: {(1, 11)}, 5: {(0, 50)}, 6: {(0, 30), (1, 60)}}
    WAVES = [[1, 2, 3], [4, 5, 6, 7]]   # 7 has no keys

    def test_rule(self):
        got, sizes = checks.replay_admission(self.WAVES, self.KEYS)
        # 2 shares (0,10) with lower 1 in its wave; 4 hits 1's (1,11) and
        # 6 hits 3's (0,30) in the store; 5 and 7 are new
        self.assertEqual(got, {1: False, 2: True, 3: False, 4: True,
                               5: False, 6: True, 7: False})
        self.assertEqual(sizes, [3, 4])

    def test_within_wave_duplicate_of_a_duplicate(self):
        # 3 shares a key only with 2, which itself is a duplicate of 1:
        # the rule still makes 3 a duplicate (any lower id of the wave)
        keys = {1: {(0, 1)}, 2: {(0, 1), (1, 2)}, 3: {(1, 2)}}
        got, _ = checks.replay_admission([[1, 2, 3]], keys)
        self.assertEqual(got, {1: False, 2: True, 3: True})

    def decisions(self, flip=None):
        want, _ = checks.replay_admission(self.WAVES, self.KEYS)
        rows = sorted(want.items())
        if flip is not None:
            rows = [(d, (not v) if d == flip else v) for d, v in rows]
        return pd.DataFrame(rows, columns=["doc_id", "is_dup"])

    def test_replayed_decisions_pass(self):
        self.assertIsNone(checks.check_decisions(self.decisions(), self.WAVES, self.KEYS))

    def test_one_flipped_decision_fails(self):
        for d in range(1, 8):
            self.assertIsNotNone(
                checks.check_decisions(self.decisions(flip=d), self.WAVES, self.KEYS), d)

    def test_document_decided_twice_or_never_fails(self):
        twice = pd.concat([self.decisions(), self.decisions().iloc[:1]])
        self.assertIsNotNone(checks.check_decisions(twice, self.WAVES, self.KEYS))
        self.assertIsNotNone(checks.check_decisions(self.decisions().iloc[1:],
                                                    self.WAVES, self.KEYS))


class UpsertTest(unittest.TestCase):
    def test_updates_then_inserts_in_wave_order(self):
        con = duckdb.connect()
        base = ("SELECT * FROM (VALUES (1, 10, 'O', 1.0, TIMESTAMP '1995-01-01', '1-URGENT'),"
                " (2, 20, 'F', 2.0, TIMESTAMP '1995-01-02', '2-HIGH')) t(" +
                ", ".join(checks.ORDERS_COLS) + ")")
        waves = []
        d = self.enterContext(tempfile.TemporaryDirectory())
        for i, rows in enumerate([
                "(1, 99, 'P', 5.0, TIMESTAMP '1996-01-01', '1-URGENT'), "
                "(3, 30, 'O', 3.0, TIMESTAMP '1995-01-03', '2-HIGH')",
                "(3, 31, 'F', 7.0, TIMESTAMP '1997-01-01', '2-HIGH')"]):
            f = os.path.join(d, f"w{i}.parquet")
            con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(" +
                        ", ".join(checks.ORDERS_COLS) + f")) TO '{f}' (FORMAT PARQUET)")
            waves.append(f)
        seen = []
        checks.upsert_reference(con, base, waves,
                                lambda i: seen.append(con.execute("SELECT count(*) FROM orders").fetchone()[0]))
        self.assertEqual(seen, [3, 3])
        got = con.execute("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                          "FROM orders ORDER BY 1").fetchall()
        # updates keep the key's other columns (custkey 10, 30); inserts
        # take every column of the source row
        self.assertEqual(got, [(1, 10, "P", 5.0), (2, 20, "F", 2.0), (3, 30, "F", 7.0)])


class StatsTest(unittest.TestCase):
    SAMPLE = [4.0, 1.0, 9.0, 2.0, 16.0]

    def test_median(self):
        self.assertEqual(checks.median(self.SAMPLE), 4.0)
        self.assertEqual(checks.median([3.0, 1.0, 2.0, 10.0]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(checks.geomean([1.0, 4.0, 16.0]), 4.0, places=12)
        self.assertAlmostEqual(checks.geomean(self.SAMPLE), (4 * 1 * 9 * 2 * 16) ** 0.2, places=12)
        with self.assertRaises(ValueError):
            checks.geomean([1.0, 0.0])

    def test_quartile_spread(self):
        # statistics.quantiles(n=4), exclusive method: Q1 1.5, Q3 12.5
        self.assertAlmostEqual(checks.quartile_spread(self.SAMPLE), (12.5 - 1.5) / 4.0)


if __name__ == "__main__":
    unittest.main()
