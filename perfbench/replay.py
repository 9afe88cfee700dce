"""DuckDB replay of the daily sync, the output check of ``daily_sync``.

The replay runs the same staged extracts through the sync's semantics in
SQL -- watermark per symbol, fetch window, argmax dedup on ``close``,
recency-guarded merge -- and the engine's final price table and company
snapshot must equal it exactly."""
import datetime as dt

import duckdb

PRICE_COLS = "symbol, date, open, high, low, close, extracted_at"


def _sync(con, extract, today, lookback, freshness=1):
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE w AS
        SELECT symbol, target_start, target_end FROM (
          SELECT c.symbol,
                 COALESCE(l.latest_date, DATE '1970-01-01') + ({1 - lookback}) AS target_start,
                 DATE '{today}' - {freshness} AS target_end
          FROM company c
          LEFT JOIN (SELECT symbol, max(date) AS latest_date FROM prices GROUP BY symbol) l
            ON c.symbol = l.symbol)
        WHERE target_start <= target_end""")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE s AS
        SELECT {PRICE_COLS} FROM (
          SELECT e.*, row_number() OVER (PARTITION BY e.symbol, e.date
                                         ORDER BY e.close DESC, e.extracted_at DESC) AS rn
          FROM read_parquet('{extract}') e JOIN w ON e.symbol = w.symbol
          WHERE e.date BETWEEN w.target_start AND w.target_end)
        WHERE rn = 1""")
    con.execute(f"""
        CREATE OR REPLACE TABLE prices AS
        SELECT t.* FROM prices t
          LEFT JOIN s ON s.symbol = t.symbol AND s.date = t.date
          WHERE s.symbol IS NULL OR s.extracted_at < t.extracted_at
        UNION ALL
        SELECT s.* FROM s
          LEFT JOIN prices t ON s.symbol = t.symbol AND s.date = t.date
          WHERE t.symbol IS NULL OR s.extracted_at >= t.extracted_at""")


def replay(con, inputs, day0, cycles):
    """Build tables ``prices`` and ``company`` in ``con``: the backfill
    (lookback 36,500) followed by ``cycles`` daily cycles (lookback 3)."""
    day0 = dt.date.fromisoformat(day0)
    con.execute(f"CREATE OR REPLACE TABLE company AS SELECT * FROM '{inputs}/company_0.parquet'")
    con.execute(f"CREATE OR REPLACE TABLE prices AS SELECT {PRICE_COLS} "
                f"FROM '{inputs}/history.parquet' LIMIT 0")
    _sync(con, f"{inputs}/history.parquet", day0, 36500)
    for c in range(1, cycles + 1):
        d = f"{inputs}/cycle_{c:03d}"
        con.execute(f"CREATE OR REPLACE TABLE company AS SELECT * FROM '{d}/company.parquet'")
        _sync(con, f"{d}/prices.parquet", day0 + dt.timedelta(days=c), 3)


def _diff(con, got, want, cols):
    n = con.execute(f"""SELECT
        (SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL SELECT {cols} FROM {want})),
        (SELECT count(*) FROM (SELECT {cols} FROM {want} EXCEPT ALL SELECT {cols} FROM {got}))
        """).fetchone()
    return n


def check(inputs, day0, cycles, dump):
    """Compare the engine's dumps with the replay; returns error strings."""
    con = duckdb.connect()
    replay(con, inputs, day0, cycles)
    errors = []
    extra, missing = _diff(con, f"read_parquet('{dump}/prices/*.parquet')", "prices", PRICE_COLS)
    if extra or missing:
        errors.append(f"daily_sync prices: {extra} rows not in the replay, "
                      f"{missing} replay rows missing")
    cols = "symbol, company_name, sector, subsector, listing_date, extracted_at"
    extra, missing = _diff(con, f"read_parquet('{dump}/company/*.parquet')", "company", cols)
    if extra or missing:
        errors.append(f"daily_sync company: {extra} rows not in the replay, "
                      f"{missing} replay rows missing")
    return errors
