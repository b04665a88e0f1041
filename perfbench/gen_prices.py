"""Seeded yfinance-style inputs for the pipeline workloads, and their
pure-pandas expected outputs.

The generator writes what the daily flow receives from its sources:

- two-level-header wide price CSVs (``Price`` row, ``Ticker`` row,
  ``Date`` row, then one row per trading day), the layout of
  ``yfinance.download(...).to_csv()``;
- the constituents scrape as parquet, with the raw Wikipedia columns.

Planted features: about 2% missing bars (all five fields empty, so the
forward-fill has work), and a two-day gap in the first ticker of each
asset class; two failed downloads, all-null columns for
tickers that have since left the index (so no constituent row expects
them); the dotted scrape symbols ``BRK.B`` and ``BF.B``, whose prices
arrive under Yahoo's dashed names ``BRK-B`` and ``BF-B``; and the 7 FX
pairs with the ``JPY=X``/``CHF=X``/``CAD=X`` recode. Prices are emitted at
their warehouse precision (stocks 2 dp, FX 5 dp, USDJPY 3 dp), so the
staging round is an identity and the expected values are exact.

``expected_outputs`` is an independent twin of the flow's semantics,
written from the reference's description, not from the Spark code: it
drops all-null wide columns (so a failed download, or a ticker whose
only bar in a one-day fetch is missing, gets no row), keeps all-null
rows of surviving tickers, strips ``=X`` and recodes, then
forward-fills OHLC from the previous row's raw close and sets missing
volume to 0.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

FIELDS = ("Close", "High", "Low", "Open", "Volume")
FX_TICKERS = ("EURUSD=X", "GBPUSD=X", "AUDUSD=X", "NZDUSD=X", "JPY=X", "CHF=X", "CAD=X")
FX_RECODE = {"CHF": "USDCHF", "CAD": "USDCAD", "JPY": "USDJPY"}
FX_START = {"EURUSD": 1.1, "GBPUSD": 1.3, "AUDUSD": 0.7, "NZDUSD": 0.65, "JPY": 110.0, "CHF": 0.95, "CAD": 1.3}
FAILED_DOWNLOADS = ("DLSTA", "DLSTB")  # longer than any generated ticker
MISSING_BAR_RATE = 0.02
FIRST_DAY = dt.date(2000, 1, 3)  # first trading day of the reference's backfill floor
BOOTSTRAP_STAMP = dt.date(2000, 1, 1)
SECTORS = ("Energy", "Materials", "Industrials", "Utilities", "Health Care", "Financials", None)


def trading_days(n: int) -> list[dt.date]:
    return [d.date() for d in pd.bdate_range(FIRST_DAY, periods=n)]


def fx_symbol(ticker: str) -> str:
    stripped = ticker.replace("=X", "")
    return FX_RECODE.get(stripped, stripped)


class Universe:
    """Tickers, the constituents scrape and the price history of one
    seed, as wide frames per field: ``history[kind][field]``."""

    def __init__(self, seed: int, n_stocks: int, n_days: int):
        rng = np.random.default_rng(seed)
        names: set[str] = set()
        while len(names) < n_stocks - 2:
            k = int(rng.integers(1, 5))
            names.add("".join(rng.choice(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), k)))
        names -= {"BRK", "BF"}
        self.stocks = sorted(names) + ["BF-B", "BRK-B"]
        self.days = trading_days(n_days)
        self.scrape = self._scrape(rng)
        self.history = {
            "sp_stocks": self._walk(rng, self.stocks, 2, [float(rng.uniform(10, 500)) for _ in self.stocks], True),
            "fx": self._walk(
                rng,
                list(FX_TICKERS),
                None,
                [FX_START[t.replace("=X", "")] for t in FX_TICKERS],
                False,
            ),
        }

    def _scrape(self, rng) -> pd.DataFrame:
        rows = []
        for t in self.stocks:
            sector = SECTORS[int(rng.integers(len(SECTORS)))]
            idx = int(rng.integers(3))
            flags = [None, None, None]
            flags[idx] = True
            rows.append(
                {
                    "Symbol": t.replace("-", "."),
                    "Security": f"{t} Holdings",
                    "GICS Sector": sector,
                    "GICS Sub-Industry": None if sector is None else f"{sector} Sub",
                    "in_sp400": flags[0],
                    "in_sp500": flags[1],
                    "in_sp600": flags[2],
                }
            )
        return pd.DataFrame(rows)

    def _walk(self, rng, tickers, decimals, starts, stock: bool) -> dict[str, pd.DataFrame]:
        n_days, n_t = len(self.days), len(tickers)
        steps = rng.normal(0.0, 0.01, (n_days, n_t))
        close = np.asarray(starts) * np.exp(np.cumsum(steps, axis=0))
        spread = np.abs(rng.normal(0.0, 0.005, (n_days, n_t))) * close
        open_ = close * (1 + rng.normal(0.0, 0.003, (n_days, n_t)))
        high = np.maximum(open_, close) + spread
        low = np.minimum(open_, close) - spread
        if stock:
            volume = rng.integers(10_000, 50_000_000, (n_days, n_t)).astype("float64")
        else:
            volume = np.zeros((n_days, n_t))
        missing = rng.random((n_days, n_t)) < MISSING_BAR_RATE
        missing[1:3, 0] = True  # a two-day gap: its second day stays null (the fill reads the raw close)
        out = {}
        for name, arr in (("Open", open_), ("High", high), ("Low", low), ("Close", close), ("Volume", volume)):
            if name != "Volume":
                if decimals is not None:
                    arr = np.round(arr, decimals)
                else:  # FX: USDJPY 3 dp, other pairs 5 dp
                    dp = np.array([3 if t == "JPY=X" else 5 for t in tickers])
                    arr = np.stack([np.round(arr[:, j], dp[j]) for j in range(n_t)], axis=1)
            arr = np.where(missing, np.nan, arr)
            out[name] = pd.DataFrame(arr, index=self.days, columns=tickers)
        return out


def write_wide_csv(path: str, bars: dict[str, pd.DataFrame], failed: tuple[str, ...] = ()) -> None:
    """The yfinance multi-index frame, written the way ``to_csv`` does:
    a ``Price`` row, a ``Ticker`` row, a ``Date`` row, then the bars.
    ``failed`` tickers are appended as all-empty columns."""
    frames = {}
    for f in FIELDS:
        frame = bars[f].copy()
        for t in failed:
            frame[t] = np.nan
        frames[f] = frame
    wide = pd.concat(frames, axis=1, names=["Price", "Ticker"])
    wide.index = pd.DatetimeIndex(wide.index, name="Date")
    wide.to_csv(path)


def write_fetch(universe: Universe, out_dir: str) -> dict[str, str]:
    """One fetch of every day: the stock and FX wide CSVs."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"sp_stocks": os.path.join(out_dir, "sp_stocks.csv"), "fx": os.path.join(out_dir, "fx.csv")}
    write_wide_csv(paths["sp_stocks"], universe.history["sp_stocks"], FAILED_DOWNLOADS)
    write_wide_csv(paths["fx"], universe.history["fx"])
    return paths


def write_scrape(universe: Universe, path: str) -> str:
    universe.scrape.to_parquet(path, index=False)
    return path


# ---------------------------------------------------------------------------
# the pandas twin


def _transform(bars: dict[str, pd.DataFrame], kind: str) -> pd.DataFrame:
    """One fetch, wide → long: tickers with no value at all in the
    fetch vanish (their columns are all-null and pruned); the others
    keep one row per day, missing bars included."""
    close = bars["Close"]
    alive = [t for t in close.columns if any(bars[f][t].notna().any() for f in FIELDS)]
    rows = []
    for t in alive:
        sym = fx_symbol(t) if kind == "fx" else t
        for d in close.index:
            rows.append((d, sym, *(bars[f].at[d, t] for f in ("Open", "High", "Low", "Close", "Volume"))))
    return pd.DataFrame(rows, columns=["date_stamp", "symbol", "open", "high", "low", "close", "volume"])


def _ffill(lake: pd.DataFrame) -> pd.DataFrame:
    lake = lake.sort_values(["symbol", "date_stamp"]).reset_index(drop=True)
    prev_close = lake.groupby("symbol")["close"].shift(1)
    for c in ("open", "high", "low", "close"):
        lake[c] = lake[c].where(lake[c].notna(), prev_close)
    lake["volume"] = lake["volume"].fillna(0)
    return lake


def expected_outputs(universe: Universe) -> dict:
    """Expected ``fct_prices`` / ``dim_symbols`` after one backfill of
    every day of ``universe``, as the digest ``digest_frame`` computes."""
    lakes = {kind: _transform(universe.history[kind], kind) for kind in ("fx", "sp_stocks")}
    fct = pd.concat([_ffill(lakes["fx"]), _ffill(lakes["sp_stocks"])], ignore_index=True)
    scrape = universe.scrape
    stock_syms = sorted(scrape["Symbol"].str.replace(".", "-", regex=False))
    fx_syms = sorted(lakes["fx"]["symbol"].unique())
    return {
        "fct": digest_frame(fct),
        "fct_symbols": sorted(fct["symbol"].unique()),
        "dim_rows": len(fx_syms) + len(stock_syms),
        "dim_symbols": sorted(fx_syms + stock_syms),
        "dim_missing_sector": int(scrape["GICS Sector"].isna().sum()),
    }


def digest_frame(fct: pd.DataFrame) -> dict:
    """Order-free digest of ``fct_prices``: row count, null closes,
    and integer sums of prices at 1e-5 resolution, one of them weighted
    by the day number so a value on the wrong date shows."""
    days = (pd.to_datetime(fct["date_stamp"]) - pd.Timestamp("2000-01-01")).dt.days
    out = {"rows": len(fct), "null_close": int(fct["close"].isna().sum())}
    for c in ("open", "high", "low", "close"):
        out[f"sum_{c}"] = int(np.round(fct[c].fillna(0) * 1e5).astype("int64").sum())
    out["sum_day_close"] = int((days * np.round(fct["close"].fillna(0) * 1e5).astype("int64")).sum())
    out["sum_volume"] = int(fct["volume"].astype("int64").sum())
    return out
