"""Seeded input generator and pandas reference for the benchmark.

Every input file is written from ``numpy.random.default_rng(seed)``
before any timer starts; the same seed gives byte-identical files.
Alongside the files the generator keeps, per symbol, the bars the
pipeline should see after parsing and keep-first dedupe (``Clean``).
The expected output counts and the pandas recomputation of candles
are derived from those, with the reference pipeline's semantics:

* repair at a timeframe reindexes each symbol onto the grid
  ``min(ts), min(ts) + step, ..., <= max(ts)`` (exact-stamp join),
  forward-fills VOLUME and linearly interpolates prices;
* candles use left-closed, left-labelled buckets and drop buckets
  without a CLOSE (``drop_incomplete``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PRICE_COLS = ("open", "high", "low", "close")
BAR_COLS = (*PRICE_COLS, "volume")
_PANDAS_FREQ = {"1T": "1min", "5T": "5min", "1H": "1h"}
_STEP_S = {"1T": 60, "5T": 300, "1H": 3600}


def step_seconds(rule: str) -> int:
    return _STEP_S[rule]


@dataclass
class Clean:
    """One symbol's bars as the pipeline should hold them after
    normalize: unique UTC stamps (epoch seconds), sorted."""

    ts: np.ndarray
    cols: dict[str, np.ndarray]

    def frame(self) -> pd.DataFrame:
        df = pd.DataFrame(self.cols)
        df.index = pd.to_datetime(self.ts, unit="s")
        return df


@dataclass
class Unit:
    """One ``run_pipeline`` input directory and what it should produce."""

    raw_dir: str
    clean: dict[str, Clean]
    rows: int  # input rows as written, duplicates included
    bytes: int


@dataclass
class Inputs:
    units: list[Unit] = field(default_factory=list)
    # an extra unit whose output is known not to match the reference
    # (the pandas-default nanosecond Parquet file); see workloads
    vendor: Unit | None = None


def _walk(rng: np.random.Generator, n: int, p0: float) -> dict[str, np.ndarray]:
    """OHLCV bars on a log random walk; LOW <= OPEN, CLOSE <= HIGH holds
    on every bar (and survives 5-decimal rounding, which is monotone)."""
    close = p0 * np.exp(np.cumsum(rng.normal(0.0, 1e-3, n)))
    open_ = np.concatenate(([p0], close[:-1]))
    wick = np.abs(rng.normal(0.0, 5e-4, (2, n)))
    high = np.maximum(open_, close) * (1.0 + wick[0])
    low = np.minimum(open_, close) * (1.0 - wick[1])
    cols = {"open": open_, "high": high, "low": low, "close": close}
    cols = {k: np.round(v, 5) for k, v in cols.items()}
    cols["volume"] = rng.integers(1, 1000, n).astype(np.float64)
    return cols


def _bars(
    rng: np.random.Generator,
    start_s: int,
    minutes: int,
    keep: np.ndarray | None,
    missing: float,
    dup: float,
) -> tuple[np.ndarray, dict[str, np.ndarray], np.ndarray]:
    """Minute bars from *start_s*. *keep* masks the session (True = open);
    *missing* drops that share of open bars at random. Returns
    (unique stamps, columns, row index as written with duplicates)."""
    ts = start_s + 60 * np.arange(minutes, dtype=np.int64)
    cols = _walk(rng, minutes, float(rng.uniform(20.0, 400.0)))
    mask = rng.random(minutes) >= missing
    if keep is not None:
        mask &= keep
    ts = ts[mask]
    cols = {k: v[mask] for k, v in cols.items()}
    # exact duplicate rows, written right after their original
    order = np.arange(len(ts))
    dups = np.flatnonzero(rng.random(len(ts)) < dup)
    written = np.sort(np.concatenate((order, dups)), kind="stable")
    return ts, cols, written


def _frame(ts: np.ndarray, cols: dict[str, np.ndarray], rows: np.ndarray) -> pd.DataFrame:
    df = pd.DataFrame({"time": pd.to_datetime(ts[rows], unit="s", utc=True)})
    for c in BAR_COLS:
        df[c] = cols[c][rows]
    return df


def _write_csv(df: pd.DataFrame, path: str) -> None:
    out = df.copy()
    out["time"] = out["time"].dt.strftime("%Y-%m-%d %H:%M:%S")
    out.to_csv(path, index=False, lineterminator="\n")


def _write_parquet_us(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", compression="snappy")


def _unit(raw_dir: str, clean: dict[str, Clean], rows: int) -> Unit:
    names = sorted(os.listdir(raw_dir))
    size = sum(os.path.getsize(os.path.join(raw_dir, n)) for n in names)
    return Unit(raw_dir=raw_dir, clean=clean, rows=rows, bytes=size)


def backfill_dense(root: str, seed: int, symbols: int, days: int) -> Inputs:
    """*symbols* x *days* of UTC 1-minute bars, 3% missing, 1% duplicated.
    Even symbols are CSV with string stamps, odd ones microsecond
    Parquet. The last symbol is the vendor file: written with plain
    pandas ``to_parquet`` defaults (nanosecond stamps), in its own
    directory."""
    rng = np.random.default_rng([seed, 1])
    start = int(pd.Timestamp("2024-03-04", tz="UTC").timestamp())
    main = os.path.join(root, "raw")
    vendor = os.path.join(root, "vendor")
    os.makedirs(main)
    os.makedirs(vendor)
    clean: dict[str, Clean] = {}
    vendor_clean: dict[str, Clean] = {}
    rows = vendor_rows = 0
    for i in range(symbols):
        sym = f"S{i:02d}"
        ts, cols, written = _bars(rng, start, days * 1440, None, 0.03, 0.01)
        df = _frame(ts, cols, written)
        if i == symbols - 1:
            df.to_parquet(os.path.join(vendor, f"{sym}_1m.parquet"))
            vendor_clean[sym] = Clean(ts, cols)
            vendor_rows += len(df)
            continue
        if i % 2 == 0:
            _write_csv(df, os.path.join(main, f"{sym}_1m.csv"))
        else:
            _write_parquet_us(df, os.path.join(main, f"{sym}_1m.parquet"))
        clean[sym] = Clean(ts, cols)
        rows += len(df)
    return Inputs(
        units=[_unit(main, clean, rows)],
        vendor=_unit(vendor, vendor_clean, vendor_rows),
    )


def daily_append(root: str, seed: int, symbols: int, days: int) -> Inputs:
    """*days* consecutive one-day files, each holding *symbols* symbols
    of UTC 1-minute bars (symbol column, microsecond Parquet), 3%
    missing and 1% duplicated. Each day is its own input directory, so
    one ``run_pipeline`` call ingests one day."""
    rng = np.random.default_rng([seed, 3])
    start = int(pd.Timestamp("2024-05-01", tz="UTC").timestamp())
    prices = rng.uniform(20.0, 400.0, symbols)
    inputs = Inputs()
    for d in range(days):
        raw = os.path.join(root, f"day{d:03d}")
        os.makedirs(raw)
        day0 = start + d * 86400
        frames, clean = [], {}
        for i in range(symbols):
            sym = f"D{i:02d}"
            ts, cols, written = _bars(rng, day0, 1440, None, 0.03, 0.01)
            # continue each symbol's walk from the previous day's close
            scale = prices[i] / cols["open"][0]
            for c in PRICE_COLS:
                cols[c] = np.round(cols[c] * scale, 5)
            prices[i] = cols["close"][-1]
            df = _frame(ts, cols, written)
            df.insert(0, "symbol", sym)
            frames.append(df)
            clean[sym] = Clean(ts, cols)
        day = pd.concat(frames, ignore_index=True)
        stamp = pd.Timestamp(day0, unit="s").strftime("%Y%m%d")
        _write_parquet_us(day, os.path.join(raw, f"bars_{stamp}.parquet"))
        inputs.units.append(_unit(raw, clean, len(day)))
    return inputs


def expected_rows(clean: dict[str, Clean], rule: str) -> dict[str, int]:
    """Candles per symbol at *rule*: one per grid stamp from the
    symbol's first to its last bar (every bucket holds exactly one grid
    row, and interpolation fills every CLOSE)."""
    step = step_seconds(rule)
    return {s: int((c.ts[-1] - c.ts[0]) // step + 1) for s, c in clean.items() if len(c.ts)}


def on_grid_rows(clean: dict[str, Clean], rule: str) -> dict[str, int]:
    """Bars per symbol that sit on the symbol's *rule* grid: the rows the
    repair keeps; the rest of the grid is inserted."""
    step = step_seconds(rule)
    return {s: int(np.count_nonzero((c.ts - c.ts[0]) % step == 0)) for s, c in clean.items()}


def reference_candles(clean: Clean, rule: str) -> pd.DataFrame:
    """pandas recomputation of one symbol's candles: reindex to the
    grid -> ffill VOLUME -> interpolate prices -> first/max/min/last/sum."""
    freq = _PANDAS_FREQ[rule]
    bars = clean.frame()
    grid = pd.date_range(bars.index[0], bars.index[-1], freq=pd.Timedelta(step_seconds(rule), "s"))
    r = bars.reindex(grid)
    r["volume"] = r["volume"].ffill()
    for c in PRICE_COLS:
        r[c] = r[c].interpolate(method="linear", limit_direction="both")
    out = r.resample(freq, label="left", closed="left").agg(
        {"open": "first", "high": "max", "low": "min", "close": "last", "volume": "sum"}
    )
    out = out[out["close"].notna()]
    out.columns = [c.upper() for c in out.columns]
    out.index.name = "TIMESTAMP"
    return out


def generate(workload: str, root: str, seed: int, size: dict) -> Inputs:
    makers = {
        "backfill_dense": backfill_dense,
        "daily_append": daily_append,
    }
    return makers[workload](root, seed, **size)
