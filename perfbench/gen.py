"""The seeded input generator of the daily_sync workload.

Everything here is a pure function of the seed and the size arguments:
the same seed writes byte-identical parquet files.

* ``sync_inputs`` stages what the daily sync fetches: a PSE-shaped company
  directory and daily OHLC prices per symbol.  It writes one backfill
  extract and, per cycle, a company snapshot and a price extract that
  carries intra-batch duplicates, stale replays (an older
  ``extracted_at``), a not-yet-final row for "today" and the full history
  of the few symbols newly listed that cycle.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
SYNC_DAY0 = dt.date(2024, 1, 1)  # "today" of the backfill; cycle c runs on day0 + c
WINDOW_DAYS = 6  # days of recent prices each cycle's extract re-sends
SECTORS = ["Financials", "Industrial", "Holding Firms", "Property",
           "Services", "Mining and Oil"]

PRICE_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("date", pa.date32()),
    ("open", pa.float64()), ("high", pa.float64()),
    ("low", pa.float64()), ("close", pa.float64()),
    ("extracted_at", pa.timestamp("us", tz="UTC")),
])
COMPANY_SCHEMA = pa.schema([
    ("symbol", pa.string()), ("company_name", pa.string()),
    ("sector", pa.string()), ("subsector", pa.string()),
    ("listing_date", pa.date32()),
    ("extracted_at", pa.timestamp("us", tz="UTC")),
])


def _write(table, path):
    # fixed writer settings, so the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 22)


def _symbols(rng, n):
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        s = "".join(rng.choice(letters, k))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _extracted_at(cycle):
    """Extraction instant of cycle ``cycle`` in epoch microseconds (22:00 UTC
    the evening before its day)."""
    day = (SYNC_DAY0 - EPOCH).days + cycle
    return (day * 86_400 - 2 * 3_600) * 1_000_000


class _Prices:
    """The ground-truth OHLC random walk of every symbol, indexed by
    (symbol, day - first day)."""

    def __init__(self, rng, n_symbols, first, n_days):
        self.first = first
        start = rng.uniform(5.0, 500.0, n_symbols)
        steps = rng.normal(0.0, 0.015, (n_symbols, n_days))
        self.close = np.round(start[:, None] * np.exp(np.cumsum(steps, 1)), 2)
        spread = rng.uniform(0.0, 0.03, (n_symbols, n_days))
        self.high = np.round(self.close * (1 + spread), 2)
        self.low = np.round(self.close * (1 - spread), 2)
        self.open = np.round((self.high + self.low) / 2, 2)


def _price_rows(rng, prices, symbols, sym, day, cycle, dup_frac, stale_frac):
    """Rows for the (symbol index, epoch day) pairs ``sym``/``day`` extracted
    in ``cycle``: each pair once, a share again with a different close (an
    intra-batch duplicate), and a share once more with an older
    ``extracted_at`` (a stale replay).  Closes within one pair are distinct,
    so the max-close winner is unique."""
    n = len(sym)
    revision = 0.01 * (cycle % 7)  # re-fetched days change, so merges update
    sign = np.where(rng.random(n) < 0.5, 1, -1)
    dup = rng.random(n) < dup_frac            # within 0.49 of the fresh close
    dup_shift = sign * 0.01 * rng.integers(1, 50, n)
    stale = rng.random(n) < stale_frac        # 0.50 to 0.99 away: wins or loses
    stale_shift = -sign * 0.01 * rng.integers(50, 100, n)
    back = rng.integers(2, 30, n)
    idx = np.concatenate([np.arange(n), np.flatnonzero(dup), np.flatnonzero(stale)])
    shift = np.concatenate([np.zeros(n), dup_shift[dup], stale_shift[stale]]) + revision
    ts = np.concatenate([np.full(n + dup.sum(), _extracted_at(cycle)),
                         _extracted_at(cycle - back[stale])])
    s, d = sym[idx], day[idx]
    j = d - prices.first
    cols = [pa.array(np.asarray(symbols, dtype=object)[s], pa.string()),
            pa.array(d.astype(np.int32), pa.date32()),
            prices.open[s, j], prices.high[s, j], prices.low[s, j],
            np.round(prices.close[s, j] + shift, 2),
            pa.array(ts.astype(np.int64), pa.timestamp("us", tz="UTC"))]
    return pa.table(cols, schema=PRICE_SCHEMA)


def _company_table(companies, cycle):
    cols = {k: [c[k] for c in companies] for k in COMPANY_SCHEMA.names[:-1]}
    cols["extracted_at"] = pa.array([_extracted_at(cycle)] * len(companies),
                                    pa.timestamp("us", tz="UTC"))
    return pa.table(cols, schema=COMPANY_SCHEMA)


def _spans(starts, ends):
    """(index, day) pairs covering day in [starts[i], ends[i]) for every i."""
    lens = np.maximum(ends - starts, 0)
    idx = np.repeat(np.arange(len(starts)), lens)
    offs = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
    return idx, np.repeat(starts, lens) + offs


def sync_inputs(seed, out_dir, n_symbols=300, history_days=400, cycles=40,
                listings_per_cycle=2, dup_frac=0.05, stale_frac=0.03):
    """Stage the daily-sync extracts under ``out_dir``:

    * ``history.parquet`` / ``company_0.parquet`` -- the backfill;
    * ``cycle_NNN/{company,prices}.parquet`` for cycle 1..``cycles``.

    Returns day 0, the "today" of the backfill."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_all = n_symbols + cycles * listings_per_cycle
    symbols = _symbols(rng, n_all)
    day0 = (SYNC_DAY0 - EPOCH).days
    # listed before the backfill: a listing day anywhere in the first half
    # of the history, so histories have different lengths; a symbol new in
    # cycle c was listed 30-120 days before its first sync
    listed = np.concatenate([
        day0 - history_days + rng.integers(0, history_days // 2, n_symbols),
        np.repeat(day0 + np.arange(1, cycles + 1), listings_per_cycle)
        - rng.integers(30, 120, n_all - n_symbols)])
    first = int(listed.min())
    prices = _Prices(rng, n_all, first, day0 + cycles + 1 - first)
    sectors = rng.integers(0, len(SECTORS), n_all)
    subsectors = rng.integers(0, 20, n_all)
    companies = [{"symbol": s, "company_name": f"{s} Holdings, Inc. \"{s.lower()}\"",
                  "sector": SECTORS[sectors[i]], "subsector": f"sub-{subsectors[i]}",
                  "listing_date": EPOCH + dt.timedelta(days=int(listed[i]))}
                 for i, s in enumerate(symbols)]

    _write(_company_table(companies[:n_symbols], 0),
           os.path.join(out_dir, "company_0.parquet"))
    sym, day = _spans(listed[:n_symbols], np.full(n_symbols, day0))
    _write(_price_rows(rng, prices, symbols, sym, day, 0, dup_frac, stale_frac),
           os.path.join(out_dir, "history.parquet"))
    for cycle in range(1, cycles + 1):
        today = day0 + cycle
        n = n_symbols + cycle * listings_per_cycle
        d = os.path.join(out_dir, f"cycle_{cycle:03d}")
        os.makedirs(d, exist_ok=True)
        _write(_company_table(companies[:n], cycle), os.path.join(d, "company.parquet"))
        # every listed symbol re-sends its last WINDOW_DAYS days plus a
        # provisional row for today; a new listing sends its whole history
        start = np.maximum(listed[:n], today - WINDOW_DAYS)
        start[n - listings_per_cycle:] = listed[n - listings_per_cycle:n]
        sym, day = _spans(start, np.full(n, today + 1))
        _write(_price_rows(rng, prices, symbols, sym, day, cycle, dup_frac, stale_frac),
               os.path.join(d, "prices.parquet"))
    return SYNC_DAY0.isoformat()
