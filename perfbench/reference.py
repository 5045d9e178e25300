"""Output checks, run outside the timed region.

* Bars: a pandas/NumPy re-derivation of the indicator pipeline
  (filter → segment → gap-fill → interpolate → 20 indicator columns →
  dropna), written here independently of the program's kernels, and a
  bar-for-bar comparison on a seeded sample of series.
* Near-dup corpus: the repository's DuckDB oracle SQL for
  ``neardup_components``; the canonical survivors must be exactly the
  docs the oracle maps to themselves.

Each ``check_*`` returns a list of problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NS = 1_000_000_000
STEP_NS = 60 * NS
ALLOWED_GAPS_S = (60, 120, 180)
VALUE_COLS = ["adj_close", "close", "high", "low", "volume", "open"]
OUTPUT_COLUMNS = [
    "window_start", "close_price", "rocp_1", "rocp_2", "rocp_3", "rocp_4", "rocp_5",
    "rsi", "mfi", "ultosc", "cmo", "aroonosc", "macd_hist", "ppo", "sok", "sok_hist",
    "adx", "adx_hist", "ticker",
]
RTOL = ATOL = 1e-9


# --------------------------------------------------------------------------
# TA-Lib style kernels (Wilder smoothing, SMA-seeded EMAs)
# --------------------------------------------------------------------------


def _div0(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """``num / den`` with 0 where ``den`` is 0 (TA-Lib convention)."""
    safe = np.where(den == 0.0, 1.0, den)
    return np.where(den == 0.0, 0.0, num / safe)


def _recur(seed: float, xs: np.ndarray, alpha: float) -> np.ndarray:
    """``[seed, y1, y2, ...]`` with ``y_i = y_{i-1}·(1−alpha) + x_i·alpha``."""
    out = np.empty(len(xs) + 1)
    y = out[0] = seed
    for i, x in enumerate(xs):
        y = y * (1.0 - alpha) + x * alpha
        out[i + 1] = y
    return out


def _mean(xs: np.ndarray) -> float:
    s = 0.0
    for x in xs:
        s += x
    return s / len(xs)


def wilder_gain_loss(x: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Wilder-averaged gains and losses, aligned to ``x[n:]``."""
    d = np.diff(x)
    gain, loss = np.maximum(d, 0.0), np.maximum(-d, 0.0)
    return (
        _recur(_mean(gain[:n]), gain[n:], 1.0 / n),
        _recur(_mean(loss[:n]), loss[n:], 1.0 / n),
    )


def rsi(x: np.ndarray, n: int = 14) -> np.ndarray:
    out = np.full(len(x), np.nan)
    if len(x) > n:
        ag, al = wilder_gain_loss(x, n)
        out[n:] = _div0(100.0 * ag, ag + al)
    return out


def cmo(x: np.ndarray, n: int = 14) -> np.ndarray:
    out = np.full(len(x), np.nan)
    if len(x) > n:
        ag, al = wilder_gain_loss(x, n)
        out[n:] = _div0(100.0 * (ag - al), ag + al)
    return out


def macdfix_hist(x: np.ndarray, signal: int = 9) -> np.ndarray:
    """MACDFIX histogram: EMA12/EMA26 with the fixed multipliers 0.15 and
    0.075, both started at the slow lookback (index 25); signal EMA seeded
    with the SMA of the first ``signal`` MACD values."""
    m, start = len(x), 25
    lookback = start + signal - 1
    out = np.full(m, np.nan)
    if m <= lookback:
        return out
    fast = _recur(_mean(x[start - 11 : start + 1]), x[start + 1 :], 0.15)
    slow = _recur(_mean(x[: start + 1]), x[start + 1 :], 0.075)
    macd = fast - slow  # aligned to x[start:]
    sig = _recur(_mean(macd[:signal]), macd[signal:], 2.0 / (signal + 1.0))
    out[lookback:] = macd[signal - 1 :] - sig
    return out


def adx(h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 14):
    """(+DI, −DI, ADX) with TA-Lib's Wilder sums; +DI/−DI valid from
    index n, ADX from 2n−1."""
    m = len(h)
    pdi, mdi, adx_ = (np.full(m, np.nan) for _ in range(3))
    if m <= n:
        return pdi, mdi, adx_
    up, down = np.diff(h), -np.diff(lo)
    pdm = np.where((up > down) & (up > 0), up, 0.0)
    mdm = np.where((down > up) & (down > 0), down, 0.0)
    tr = np.maximum(h[1:], c[:-1]) - np.minimum(lo[1:], c[:-1])
    s_tr, s_p, s_m = (
        n * _recur(_mean(v[:n]), v[n:], 1.0 / n) for v in (tr, pdm, mdm)
    )
    p, q = _div0(100.0 * s_p, s_tr), _div0(100.0 * s_m, s_tr)
    dx = _div0(100.0 * np.abs(p - q), p + q)
    pdi[n:], mdi[n:] = p, q
    if m >= 2 * n:
        adx_[2 * n - 1 :] = _recur(_mean(dx[:n]), dx[n:], 1.0 / n)
    return pdi, mdi, adx_


# --------------------------------------------------------------------------
# the pipeline, one series at a time
# --------------------------------------------------------------------------


def _lag(a: np.ndarray, k: int) -> np.ndarray:
    return np.concatenate([np.full(min(k, len(a)), np.nan), a[:-k]])[: len(a)]


def _indicators(g: pd.DataFrame) -> dict[str, np.ndarray]:
    ac, c = g["adj_close"].to_numpy(), g["close"].to_numpy()
    h, lo, v = g["high"].to_numpy(), g["low"].to_numpy(), g["volume"].to_numpy()
    row = np.arange(1, len(g) + 1)
    out: dict[str, np.ndarray] = {"window_start": g["window_start"].to_numpy(), "close_price": ac}
    for k in range(1, 6):
        prev = _lag(ac, k)
        out[f"rocp_{k}"] = _div0(ac - prev, prev)

    def roll_sum(a, n):
        return pd.Series(a).rolling(n, min_periods=1).sum().to_numpy()

    out["rsi"] = rsi(ac) / 100.0

    tp = (h + lo + c) / 3.0
    prev_tp = _lag(tp, 1)
    pos = np.where(tp > prev_tp, tp * v, 0.0)
    neg = np.where(tp < prev_tp, tp * v, 0.0)
    ps, ns = roll_sum(pos, 14), roll_sum(neg, 14)
    out["mfi"] = np.where(row > 14, _div0(100.0 * ps, ps + ns), np.nan) / 100.0

    prev_c = _lag(c, 1)
    low_t, high_t = np.fmin(lo, prev_c), np.fmax(h, prev_c)
    bp, tr = c - low_t, high_t - low_t
    a7, a14, a28 = (_div0(roll_sum(bp, n), roll_sum(tr, n)) for n in (7, 14, 28))
    ult = 100.0 * (4.0 * a7 + 2.0 * a14 + a28) / 7.0
    out["ultosc"] = np.where(row > 28, ult, np.nan) / 100.0

    out["cmo"] = cmo(ac) / 100.0

    aroon = np.full(len(g), np.nan)
    for i in range(25, len(g)):
        wh, wl = h[i - 25 : i + 1][::-1], lo[i - 25 : i + 1][::-1]
        # bars since the extreme; a tie resolves to the most recent bar
        aroon[i] = 100.0 * (np.argmin(wl) - np.argmax(wh)) / 25.0
    out["aroonosc"] = aroon / 100.0

    out["macd_hist"] = macdfix_hist(ac) / 10.0

    sma12 = pd.Series(ac).rolling(12, min_periods=1).mean().to_numpy()
    sma26 = pd.Series(ac).rolling(26, min_periods=1).mean().to_numpy()
    out["ppo"] = np.where(row >= 26, _div0(100.0 * (sma12 - sma26), sma26), np.nan) / 100.0

    ll = pd.Series(lo).rolling(5, min_periods=1).min().to_numpy()
    hh = pd.Series(h).rolling(5, min_periods=1).max().to_numpy()
    k = np.where(row >= 5, _div0(100.0 * (c - ll), hh - ll), np.nan)
    d = pd.Series(k).rolling(3, min_periods=1).mean().to_numpy()
    out["sok"] = np.where(row >= 7, k, np.nan) / 100.0
    out["sok_hist"] = np.where(row >= 7, k - d, np.nan) / 100.0

    pdi, mdi, adx_ = adx(h, lo, c)
    out["adx"] = adx_ / 100.0
    out["adx_hist"] = (pdi - mdi) / 100.0
    return out


def _segments(g: pd.DataFrame) -> list[pd.DataFrame]:
    """Split one ticker's bars where the step is not an allowed gap; drop
    segments of fewer than two rows."""
    gap_s = g["window_start"].diff() / NS
    breaks = gap_s.notna() & ~gap_s.isin([float(s) for s in ALLOWED_GAPS_S])
    return [seg for _, seg in g.groupby(breaks.cumsum().to_numpy()) if len(seg) >= 2]


def _fill_and_interpolate(seg: pd.DataFrame) -> pd.DataFrame:
    ws = seg["window_start"].to_numpy()
    grid = np.arange(ws[0], ws[-1] + 1, STEP_NS)
    out = {"window_start": grid}
    for col in VALUE_COLS:
        known = seg[col].notna().to_numpy()
        vals = seg[col].to_numpy()
        # np.interp clamps to the first/last known value at the edges
        out[col] = np.interp(grid, ws[known], vals[known]) if known.any() else np.full(len(grid), np.nan)
    return pd.DataFrame(out)


def indicator_reference(bars: pd.DataFrame, lo_ns: int, hi_ns: int) -> pd.DataFrame:
    """Expected pipeline output for ``bars`` of one trading day whose
    market session is ``[lo_ns, hi_ns)``."""
    bars = bars[bars["ticker"].notna()]
    bars = bars[(bars["window_start"] >= lo_ns) & (bars["window_start"] < hi_ns)]
    frames = []
    for ticker, g in bars.sort_values(["ticker", "window_start"]).groupby("ticker"):
        for i, seg in enumerate(_segments(g)):
            f = pd.DataFrame(_indicators(_fill_and_interpolate(seg)))
            f["ticker"] = f"{ticker}-{i}"
            frames.append(f)
    if not frames:
        return pd.DataFrame(columns=OUTPUT_COLUMNS)
    return pd.concat(frames, ignore_index=True)[OUTPUT_COLUMNS].dropna().reset_index(drop=True)


def check_indicators(
    got: pd.DataFrame, bars: pd.DataFrame, lo_ns: int, hi_ns: int, sample: list[str]
) -> list[str]:
    """Compare the program's output with the re-derivation on the series
    of the sampled tickers (bar for bar), plus whole-output invariants."""
    problems = []
    if list(got.columns) != OUTPUT_COLUMNS:
        return [f"columns {list(got.columns)} != {OUTPUT_COLUMNS}"]
    if len(got) == 0:
        return ["empty output"]
    if got.drop(columns="ticker").isna().any().any():
        problems.append("output has nulls")
    parent = got["ticker"].str.rsplit("-", n=1).str[0]
    exp = indicator_reference(bars[bars["ticker"].isin(sample)], lo_ns, hi_ns)
    mine = got[parent.isin(sample)]
    key = ["ticker", "window_start"]
    exp = exp.sort_values(key).reset_index(drop=True)
    mine = mine.sort_values(key).reset_index(drop=True)
    if len(mine) != len(exp) or not (mine[key] == exp[key]).all().all():
        problems.append(f"sampled rows differ: got {len(mine)}, expected {len(exp)}")
        return problems
    for col in OUTPUT_COLUMNS[1:-1]:
        a, b = mine[col].to_numpy(float), exp[col].to_numpy(float)
        bad = ~np.isclose(a, b, rtol=RTOL, atol=ATOL)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            problems.append(
                f"{col}: {int(bad.sum())} values differ, first at "
                f"{exp.loc[i, 'ticker']}@{exp.loc[i, 'window_start']}: {a[i]!r} != {b[i]!r}"
            )
    return problems


# --------------------------------------------------------------------------
# near-dup survivors against the DuckDB oracle
# --------------------------------------------------------------------------


def oracle_components(corpus: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, component) from the repository's DuckDB oracle SQL.

    The edge CTE is marked MATERIALIZED: otherwise DuckDB 1.0 re-plans
    the whole LSH + verification chain in every step of the recursive
    reachability CTE (the result is the same, ~7x slower)."""
    import duckdb

    from stock_indicators_etl_spark.queries_llm import SQL_NEARDUP_COMPONENTS

    sql = SQL_NEARDUP_COMPONENTS.replace("\ne AS (", "\ne AS MATERIALIZED (")
    if sql == SQL_NEARDUP_COMPONENTS:
        raise RuntimeError("oracle SQL no longer has the edge CTE 'e'")
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.register("documents", corpus)
        return con.execute(sql).df()
    finally:
        con.close()


def check_survivors(got: pd.DataFrame, corpus: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """The survivors must be exactly the oracle's canonical docs, with
    their text unchanged."""
    want = set(oracle.loc[oracle["doc_id"] == oracle["component"], "doc_id"])
    ids = got["doc_id"].tolist()
    problems = []
    if len(ids) != len(set(ids)):
        problems.append("duplicate survivors")
    have = set(ids)
    if have != want:
        problems.append(
            f"survivors differ from the oracle: {len(have - want)} extra, {len(want - have)} missing"
        )
    text = corpus.set_index("doc_id")["text"]
    if not (got.set_index("doc_id")["text"] == text.reindex(got["doc_id"]).to_numpy()).all():
        problems.append("survivor text differs from the input")
    return problems
