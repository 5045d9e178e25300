"""Seeded input generators for the benchmark.

Everything the program sees is produced here from ``--seed``: the
same seed gives byte-identical inputs.

* :func:`make_bars` — reference-shaped one-minute OHLCV bars
  (FIXTURES.md §1): a 09:30–15:59 US/Eastern session plus pre- and
  post-market rows, 120 s and 180 s gaps (filled by the pipeline),
  breaking gaps (> 180 s and an irregular 90 s step), ~1% nulls, rows
  with a null ticker, one singleton segment per day and one ticker that
  only trades pre-market.
* :func:`make_corpus` — ~120-word documents with planted near-duplicate
  clusters whose sizes follow a Zipf law, plus "near-miss" copies that
  collide in LSH but fail Jaccard verification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NS = 1_000_000_000
STEP_NS = 60 * NS
SESSION_BARS = 390  # 09:30 .. 15:59 ET
CLOSE_BARS = 420  # 16:30 ET, the reference's close bound, in bars after the open
PRE_BARS = 4  # 09:26 .. 09:29 ET, removed by the market-hours filter
POST_BARS = 4  # 16:30 .. 16:33 ET, removed by the market-hours filter
PRICE_COLS = ["open", "close", "high", "low", "adj_close"]
BAR_COLUMNS = ["ticker", "volume", "open", "close", "high", "low", "adj_close", "window_start"]

#: Trading days of the generated archive (January 2024, US/Eastern
#: standard time, so the session is 14:30–21:00 UTC and never crosses
#: a UTC date boundary).
TRADING_DAYS = ["2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"]


def tickers(n: int) -> list[str]:
    """``n`` distinct symbols; the last one only trades pre-market."""
    return [f"S{i:04d}" for i in range(n)]


def session_open_ns(day: str) -> int:
    return pd.Timestamp(f"{day} 09:30", tz="US/Eastern").value


def _one_series(rng: np.random.Generator, open_ns: int, session_bars: int) -> dict[str, np.ndarray]:
    """One ticker-day of bars before row-level damage: pre-market rows,
    ``session_bars`` bars from the open, then post-market rows."""
    offsets = np.concatenate([
        np.arange(-PRE_BARS, session_bars), np.arange(CLOSE_BARS, CLOSE_BARS + POST_BARS)
    ])
    n = len(offsets)
    keep = np.ones(n, dtype=bool)
    ws = open_ns + offsets.astype(np.int64) * STEP_NS
    # 120 s / 180 s gaps: drop one or two bars; they are re-created by gap-fill
    for i in np.flatnonzero(rng.random(n) < 0.012):
        keep[i : i + 1 + int(rng.random() < 0.4)] = False
    # breaking gaps: drop 3..12 bars, so the series splits into segments
    for i in np.flatnonzero(rng.random(n) < 0.003):
        keep[i : i + int(rng.integers(3, 13))] = False
    # irregular step: a bar 30 s late gives a 90 s gap, which also breaks
    late = rng.random(n) < 0.002
    ws = ws + late.astype(np.int64) * (30 * NS)

    ret = rng.normal(0.0, 0.001, n)
    close = (20.0 + 480.0 * rng.random()) * np.exp(np.cumsum(ret))
    open_ = np.concatenate([[close[0]], close[:-1]])
    wick = np.abs(rng.normal(0.0, 0.0005, (2, n)))
    high = np.maximum(open_, close) * (1.0 + wick[0])
    low = np.minimum(open_, close) * (1.0 - wick[1])
    adj = close * (1.0 - 0.5 * rng.random())  # k in (0.5, 1]
    volume = rng.integers(100, 100_000, n).astype(np.float64)
    cols = {
        "volume": volume, "open": open_, "close": close, "high": high,
        "low": low, "adj_close": adj, "window_start": ws,
    }
    # ~1% nulls: whole price rows and volume alone
    null_px = rng.random(n) < 0.007
    for c in PRICE_COLS:
        cols[c] = np.where(null_px, np.nan, cols[c])
    cols["volume"] = np.where(rng.random(n) < 0.003, np.nan, volume)
    return {k: v[keep] for k, v in cols.items()}


def make_bars(
    seed: int, n_tickers: int, days: list[str], session_bars: int = SESSION_BARS
) -> pd.DataFrame:
    """Bars for ``n_tickers`` over ``days``, with a ``src`` column naming
    the symbol each row was requested for (its ``ticker`` may be null).
    Each series covers the first ``session_bars`` minutes of the session
    (the whole session by default).

    Per day, ticker 0 carries a singleton segment (dropped by the
    pipeline), the last ticker trades only before the open (empty after
    the market-hours filter) and a handful of rows lose their ticker.
    """
    rng = np.random.default_rng(seed)
    syms = tickers(n_tickers)
    frames = []
    for day in days:
        open_ns = session_open_ns(day)
        for j, sym in enumerate(syms):
            if j == n_tickers - 1:
                k = 10
                cols = _one_series(rng, open_ns, session_bars)
                cols = {c: v[:k] for c, v in cols.items()}
                cols["window_start"] = open_ns - np.arange(k, 0, -1, dtype=np.int64) * STEP_NS
            else:
                cols = _one_series(rng, open_ns, session_bars)
            if j == 0:
                # isolate one session bar with >180 s gaps on both sides
                ws = cols["window_start"]
                mid = open_ns + (session_bars // 2) * STEP_NS
                near = np.abs(ws - mid) <= 6 * STEP_NS
                near &= ws != mid
                cols = {c: v[~near] for c, v in cols.items()}
            f = pd.DataFrame(cols)
            f.insert(0, "ticker", sym)
            f["src"] = sym
            frames.append(f)
    bars = pd.concat(frames, ignore_index=True)
    null_tick = rng.choice(len(bars), size=5 * len(days), replace=False)
    bars.loc[null_tick, "ticker"] = None
    bars["window_start"] = bars["window_start"].astype(np.int64)
    return bars[[*BAR_COLUMNS, "src"]]


# --------------------------------------------------------------------------
# near-duplicate corpus
# --------------------------------------------------------------------------

VOCAB = 30_000
DOC_WORDS = 120
BRANCHES = 2


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, VOCAB, n)


def _edit(rng: np.random.Generator, base: np.ndarray, n_subs: int) -> np.ndarray:
    out = base.copy()
    pos = rng.choice(len(out), size=n_subs, replace=False)
    out[pos] = _words(rng, n_subs)
    return out


def _cluster_sizes(total: int, max_cluster: int, zipf_a: float) -> list[int]:
    """Cluster sizes summing to ``total``, drawn once from a Zipf law."""
    rng = np.random.default_rng(0)
    sizes: list[int] = []
    while sum(sizes) < total:
        sizes.append(int(min(rng.zipf(zipf_a) + 1, max_cluster, total - sum(sizes) + 1)))
    return sizes


def make_corpus(
    seed: int, n_docs: int, max_cluster: int = 150, zipf_a: float = 1.8
) -> pd.DataFrame:
    """``n_docs`` documents (doc_id, lang, text) with planted clusters.

    Half the corpus sits in clusters whose sizes follow a Zipf law
    truncated at ``max_cluster`` (below the LSH bucket cap of 512, so the
    uncapped DuckDB oracle and the capped pipeline agree). The sizes are
    the same for every seed, so seeds vary the text and the edit trees,
    not how skewed the buckets are. Each copy
    edits one of the first ``BRANCHES`` members of its cluster, so a
    cluster is a shallow tree of edits: far members share less text than
    near ones and label propagation needs a few rounds. One singleton in
    four is a heavy edit of some cluster root, similar enough to share LSH
    bands now and then but mostly below the 0.5 Jaccard threshold.
    """
    rng = np.random.default_rng(seed)
    docs: list[np.ndarray] = []
    roots: list[np.ndarray] = []
    for size in _cluster_sizes(n_docs // 2, max_cluster, zipf_a):
        cluster = [_words(rng, DOC_WORDS)]
        for _ in range(size - 1):
            parent = cluster[int(rng.integers(min(len(cluster), BRANCHES)))]
            cluster.append(_edit(rng, parent, int(rng.integers(1, 5))))
        roots.append(cluster[0])
        docs.extend(cluster)
    while len(docs) < n_docs:
        if len(docs) % 4 == 0:
            # 14..21 substitutions: Jaccard about 0.3..0.48 to the root
            root = roots[int(rng.integers(len(roots)))]
            docs.append(_edit(rng, root, int(rng.integers(14, 22))))
        else:
            docs.append(_words(rng, DOC_WORDS))
    order = rng.permutation(n_docs)
    text = [" ".join(f"w{w}" for w in docs[i]) for i in order]
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "lang": "en", "text": text}
    )
