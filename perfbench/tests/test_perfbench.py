"""Tests of the benchmark itself (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import math
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import gen  # noqa: E402
import replay  # noqa: E402
import stats  # noqa: E402


def tree_digest(d):
    return build.digest(sorted(os.path.join(p, f) for p, _, fs in os.walk(d) for f in fs), d)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, str(i)) for i in range(3))
            for seed, out in ((5, a), (5, b), (6, c)):
                gen.sync_inputs(seed, out, n_symbols=20, history_days=30, cycles=3)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_duplicates_have_a_unique_winner(self):
        with tempfile.TemporaryDirectory() as d:
            gen.sync_inputs(3, d, n_symbols=30, history_days=60, cycles=2, dup_frac=0.5,
                            stale_frac=0.5)
            ties = duckdb.sql(f"""SELECT count(*) FROM (
                SELECT filename, symbol, date
                FROM read_parquet('{d}/*/prices.parquet', filename = true) GROUP BY ALL
                HAVING count(*) <> count(DISTINCT close))""").fetchone()[0]
            self.assertEqual(ties, 0)


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = [float(i) for i in range(1, 31)]  # 30 samples
        value, pct = stats.tail(xs, 0)
        self.assertEqual(value, 20.0)  # 21..30 lie beyond it
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_failures_count_beyond(self):
        xs = [float(i) for i in range(1, 31)]
        self.assertEqual(stats.tail(xs, 4)[0], 24.0)
        self.assertEqual(stats.tail(xs[:5], 10)[0], 5.0)
        self.assertEqual(stats.tail(xs[:5], 11)[0], math.inf)

    def test_too_few_samples_report_the_slowest(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0], 0), (3.0, 100.0))
        self.assertEqual(stats.tail([float(i) for i in range(11)], 0)[0], 0.0)


class SpanTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_self_time_with_overlapping_children(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),  # overlap 30-40
                 self.span(3, 0, 90, 120),                           # runs past the parent
                 self.span(4, 1, 15, 20)]                            # grandchild
        t = stats.self_times(spans)
        self.assertEqual(t[0], 100 - 50 - 10)
        self.assertEqual(t[1], 30 - 5)
        self.assertEqual(t[4], 5)

    def test_driver_only_remainder(self):
        jobs = [(10, 20), (15, 25), (50, 60), (95, 130)]
        self.assertEqual(stats.driver_only(0, 100, jobs), 100 - 15 - 10 - 5)
        self.assertEqual(stats.driver_only(0, 100, []), 100)


class ReplayTest(unittest.TestCase):
    """Backfill A and B, then one cycle with an intra-batch duplicate, a stale
    replay, a new listing (C) and a not-yet-final row for today."""

    def write(self, path, schema, rows):
        cols = list(zip(*rows))
        pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                                schema=schema), path)

    def test_tiny_sync(self):
        day0 = dt.date(2024, 1, 1)

        def day(k):
            return day0 + dt.timedelta(days=k)

        def at(k):  # extraction instant of cycle k
            return dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=k, hours=-2)

        def price(sym, k, close, ts):
            return (sym, day(k), close, close, close, close, ts)

        def company(sym, k, listed):
            return (sym, sym + " Corp", "S", "s", day(listed), at(k))

        with tempfile.TemporaryDirectory() as d:
            self.write(f"{d}/company_0.parquet", gen.COMPANY_SCHEMA,
                       [company("A", 0, -10), company("B", 0, -10)])
            self.write(f"{d}/history.parquet", gen.PRICE_SCHEMA,
                       [price("A", -2, 1.0, at(0)), price("A", -1, 2.0, at(0)),
                        price("B", -1, 5.0, at(0))])
            os.makedirs(f"{d}/cycle_001")
            self.write(f"{d}/cycle_001/company.parquet", gen.COMPANY_SCHEMA,
                       [company("A", 1, -10), company("B", 1, -10), company("C", 1, -1)])
            self.write(f"{d}/cycle_001/prices.parquet", gen.PRICE_SCHEMA, [
                price("A", 0, 10.0, at(1)), price("A", 0, 11.0, at(1)),  # duplicate: 11 wins
                price("A", -1, 99.0, at(-5)),                            # stale: wins the argmax,
                price("B", 0, 6.0, at(1)),                               # loses the guard
                price("C", -1, 7.0, at(1)), price("C", 0, 8.0, at(1)),   # new listing
                price("A", 1, 12.0, at(1))])                             # today: not final yet
            con = duckdb.connect()
            replay.replay(con, d, day0.isoformat(), 1)
            got = con.sql("SELECT symbol, date, close FROM prices ORDER BY 1, 2").fetchall()
            self.assertEqual(got, [("A", day(-2), 1.0), ("A", day(-1), 2.0), ("A", day(0), 11.0),
                                   ("B", day(-1), 5.0), ("B", day(0), 6.0),
                                   ("C", day(-1), 7.0), ("C", day(0), 8.0)])
            self.assertEqual(con.sql("SELECT count(*) FROM company").fetchone()[0], 3)


if __name__ == "__main__":
    unittest.main()
