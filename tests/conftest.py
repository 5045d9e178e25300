from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from stock_indicators_etl_spark.session import get_spark

NS = 1_000_000_000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests", master="local[4]", shuffle_partitions=4, long_lived=True
    )
    yield s


def make_bars(
    tickers=("AAPL", "MSFT"),
    n=120,
    start_ns=1_704_106_800 * NS,  # 2024-01-01 09:00 ET-ish, arbitrary
    step_s=60,
    gaps=None,  # dict ticker -> list of (index, gap_seconds) overrides
    nulls=None,  # dict ticker -> list of indices with null prices
    seed=7,
) -> pd.DataFrame:
    """Reference-shaped bars fixture (FIXTURES.md §1)."""
    rng = np.random.default_rng(seed)
    rows = []
    for t in tickers:
        ts = start_ns
        price = 100.0 + rng.uniform(-5, 5)
        tgaps = dict((gaps or {}).get(t, []))
        tnulls = set((nulls or {}).get(t, []))
        for i in range(n):
            if i > 0:
                ts += int(tgaps.get(i, step_s)) * NS
            price *= 1.0 + rng.normal(0, 0.002)
            high = price * (1 + abs(rng.normal(0, 0.001)))
            low = price * (1 - abs(rng.normal(0, 0.001)))
            null_row = i in tnulls
            rows.append(
                {
                    "ticker": t,
                    "volume": float(rng.integers(100, 10_000)),
                    "open": None if null_row else price * 0.999,
                    "close": None if null_row else price,
                    "high": None if null_row else high,
                    "low": None if null_row else low,
                    "adj_close": None if null_row else price * 0.95,
                    "window_start": ts,
                }
            )
    return pd.DataFrame(rows)
