"""Ingestion adapter (SURVEY.md §2.1 S1, §3 E1): Yahoo Finance OHLCV
→ long-format bars → partitioned parquet.

The reference downloads sequentially in 10-ticker chunks
(``data_download_yahoo.py:80-102``) and melts yfinance's
(ticker, field) column MultiIndex to long rows (P4, ``:27-64``).
Spark-side the melt disappears (we build long format directly) and the
chunks are packed into one ``mapInPandas`` task per core slot, each
fetching its contiguous run of chunks in order, so a cluster
parallelizes the network fetches without paying a Python task per
chunk (DESIGN.md §4.32).

``yfinance`` is not installed in this environment — the fetch function
is injectable and the default raises with a clear message. A
deterministic synthetic fetcher is provided for tests/offline runs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

NS = 1_000_000_000

BARS_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("adj_close", T.DoubleType()),
        T.StructField("window_start", T.LongType()),
    ]
)

FetchFn = Callable[[list[str], str, str, str], pd.DataFrame]


def yfinance_fetch(tickers: list[str], start: str, end: str, interval: str) -> pd.DataFrame:
    """Real network fetch via yfinance (matches
    ``data_download_yahoo.py:85-102`` semantics: [start, end) day
    range, prepost=False, group_by ticker → long format)."""
    try:
        import yfinance as yf  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover - not installed here
        raise NotImplementedError(
            "yfinance is not installed in this environment; pass a custom "
            "fetch_fn (e.g. synthetic_fetch) to download_bars"
        ) from e
    raw = yf.download(tickers, start=start, end=end, interval=interval, group_by="ticker")
    rows = []
    for t in tickers:
        if t not in raw.columns.get_level_values(0):
            continue
        sub = raw[t].dropna(how="all")
        for idx, r in sub.iterrows():
            rows.append(
                {
                    "ticker": t,
                    "volume": float(r.get("Volume", float("nan"))),
                    "open": float(r.get("Open", float("nan"))),
                    "close": float(r.get("Close", float("nan"))),
                    "high": float(r.get("High", float("nan"))),
                    "low": float(r.get("Low", float("nan"))),
                    "adj_close": float(r.get("Adj Close", r.get("Close", float("nan")))),
                    "window_start": int(pd.Timestamp(idx).value),
                }
            )
    return pd.DataFrame(rows, columns=[f.name for f in BARS_SCHEMA.fields])


def synthetic_fetch(tickers: list[str], start: str, end: str, interval: str) -> pd.DataFrame:
    """Deterministic offline stand-in: a 60s random walk per ticker
    over the session (seeded by ticker+date), same schema as the real
    fetch."""
    rows = []
    # bars start at the 09:30 ET session open (14:30 UTC standard
    # time) so the market-hours filter keeps them
    start_dt = datetime.fromisoformat(start).replace(tzinfo=timezone.utc) + timedelta(
        hours=14, minutes=30
    )
    n = 390 if interval == "1m" else 1
    step = 60 if interval == "1m" else 86400
    for t in tickers:
        seed = int.from_bytes(hashlib.md5(f"{t}|{start}".encode()).digest()[:4], "big")
        rng = np.random.default_rng(seed)
        price = 50.0 + rng.uniform(0, 200)
        ts = int(start_dt.timestamp())
        for _ in range(n):
            price *= 1 + rng.normal(0, 0.001)
            rows.append(
                {
                    "ticker": t,
                    "volume": float(rng.integers(100, 100_000)),
                    "open": price * 0.9995,
                    "close": price,
                    "high": price * (1 + abs(rng.normal(0, 0.0005))),
                    "low": price * (1 - abs(rng.normal(0, 0.0005))),
                    "adj_close": price * 0.97,
                    "window_start": ts * NS,
                }
            )
            ts += step
    return pd.DataFrame(rows, columns=[f.name for f in BARS_SCHEMA.fields])


def download_bars(
    spark: SparkSession,
    tickers: list[str],
    execution_date: str,
    interval: str = "1m",
    chunk_size: int = 10,
    fetch_fn: FetchFn = yfinance_fetch,
) -> DataFrame:
    """Distributed chunked download (E1).

    Chunks of ``chunk_size`` tickers (F8, ``stockdata/utils.py:89-107``)
    are packed into ``min(n_chunks, defaultParallelism)`` tasks over
    ``spark.range``, with no shuffle: each task calls ``fetch_fn`` once
    per chunk of its contiguous slice, in order, so every call gets
    exactly one chunk and each core slot has at most one fetch in
    flight. The cluster parallelizes what the reference does
    sequentially; one Python task per slot rather than per chunk
    avoids a fixed per-task cost (DESIGN.md §4.32), at the price that
    a slow chunk delays the later chunks of its task. End date is
    exclusive next-day (F7, ``data_download_yahoo.py:70-73``). No
    tickers → an empty frame.
    """
    end_date = (
        datetime.fromisoformat(execution_date) + timedelta(days=1)
    ).strftime("%Y-%m-%d")
    chunks = [tickers[i : i + chunk_size] for i in range(0, len(tickers), chunk_size)]
    if not chunks:
        return spark.createDataFrame([], BARS_SCHEMA)
    n_tasks = min(len(chunks), spark.sparkContext.defaultParallelism)

    def fetch_slice(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for i in b["id"].tolist():
                yield fetch_fn(chunks[i], execution_date, end_date, interval)

    return spark.range(len(chunks), numPartitions=n_tasks).mapInPandas(
        fetch_slice, schema=BARS_SCHEMA
    )
