"""Named queries for the driver contract (``__spark_entry__.py``).

Each query is one :class:`Query` record (see ``RECORDS`` at the bottom
of this module and ``RECORDS_LLM`` in ``queries_llm``): a PySpark
DataFrame program paired with an equivalent ANSI SQL string that
DuckDB runs on the same parquet tables — the driver compares row
counts, schemas, and order-insensitive value hashes at sf0.01
(SURVEY.md §5 item 1).

Conventions shared by BOTH sides so hashes agree:
- computed doubles are ``floor((x) * 1000000 + 0.5) / 1000000``;
- epoch-ns ints via Spark ``unix_micros·1000`` ≡ DuckDB ``epoch_ns``;
- explicit ``CASE WHEN den = 0 THEN 0`` division guards (no reliance
  on engine ÷0 semantics);
- TA-Lib lookback nulls via identical ``row_number`` guards;
- deterministic tie-breaks on every top-k / argmax.

The ``events`` table stands in for the bar series (FIXTURES.md §3):
``user_id`` → ticker, ``epoch_ns(ts)`` → window_start, ``value`` →
price; synthetic OHLCV columns are derived arithmetically so both
engines see identical inputs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_indicators_etl_spark.functions.timefns import market_bounds_ns
from stock_indicators_etl_spark.operators.rolling import (
    with_aroonosc,
    with_cci,
    with_mfi,
    with_mom,
    with_ppo,
    with_rocp,
    with_stochf,
    with_ultosc,
)
from stock_indicators_etl_spark.operators.timegrid import (
    fill_gaps,
    interpolate_linear,
    market_hours_filter,
    segment_series,
)

NS = 1_000_000_000
STEP_NS = 60 * NS


@dataclass(frozen=True)
class Query:
    """Everything the driver, the oracle check and bench know about
    one query.

    ``driver``: registered with the driver's ``queries()`` (it records
    at most 50); the rest are ``extra_queries()``, checked bit-exact
    by ``scripts/check_oracle.py --extras``.
    ``eager``: ``build`` itself does the operator's work (collects,
    eager checkpoints, fixpoint loops, persists), so bench rebuilds
    the frame inside the timed section — a prebuilt handle would time
    only the tail of the plan.
    ``warm``: untimed warm runs before timing; HOF-heavy plans need 2
    for the JIT to finish tiering (measured 2-4x on the dedup family).
    ``bench``: False where the work is already timed by another record.
    """

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle_sql: str
    driver: bool = False
    eager: bool = False
    warm: int = 1
    bench: bool = True


# Rounding convention: Spark's round() is HALF_UP on exact decimals,
# DuckDB's differs at half-way doubles — so both sides round via
# floor(x·10^d + 0.5)/10^d, which is bit-identical for identical x.
def _rc(c, d: int = 6):
    p = float(10**d)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)


def R6(expr: str) -> str:
    return f"floor(({expr}) * 1000000 + 0.5) / 1000000"


def R4(expr: str) -> str:
    return f"floor(({expr}) * 10000 + 0.5) / 10000"

# ---------------------------------------------------------------------------
# shared input prep
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ns`` = int64 epoch-ns event time.

    Handles every ``ts`` physical type the testdata has shipped with:

    - int64 (TIMESTAMP(NANOS) parquet read under
      ``spark.sql.legacy.parquet.nanosAsLong``): epoch-ns directly,
      truncated to µs (DuckDB reads TIMESTAMP_NS parquet as
      µs-TIMESTAMP, so its ``epoch_ns(ts)`` is µs-truncated too);
    - TIMESTAMP_NTZ (µs parquet, isAdjustedToUTC=false — Spark 4's
      ``inferTimestampNTZ`` default): ``timestampdiff`` from the NTZ
      epoch, which is session-timezone independent and equals DuckDB's
      ``epoch_ns`` of the same naive value;
    - TIMESTAMP (LTZ): ``unix_micros``, also tz-independent.
    """
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":
        ns = F.expr("ts DIV 1000") * F.lit(1000)
    elif ts_type == "timestamp_ntz":
        ns = (
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            * F.lit(1000)
        )
    else:
        ns = F.unix_micros("ts") * F.lit(1000)
    return e.withColumn("ns", ns.cast("long"))


def events_as_bars(
    spark: SparkSession, sf_dir: str, with_id: bool = False
) -> DataFrame:
    """events → bar-shaped series: key=user_id, ws=epoch-ns(ts),
    synthetic OHLCV derived from ``value``/``event_id`` (portable
    arithmetic, identical in the SQL prelude below).

    ``with_id=True`` additionally carries ``bar_id`` (the source
    ``event_id``, unique) for callers whose cumulative/lag windows
    need a total order even if duplicate ``(user_id, ns)`` pairs ever
    appear — raw-event series lack the grid rollup's one-row-per-bar
    uniqueness guarantee, so order-sensitive consumers tiebreak on it
    (``rolling.series_window`` docstring)."""
    e = _events(spark, sf_dir)
    v = F.col("value")
    cols = [
        F.col("user_id").cast("string").alias("ticker"),
        F.col("ns").alias("window_start"),
        v.alias("adj_close"),
        v.alias("close"),
        (v + F.lit(1.0)).alias("high"),
        (v - F.lit(1.0)).alias("low"),
        (F.col("event_id") % F.lit(97) + F.lit(1)).cast("double").alias("volume"),
    ]
    if with_id:
        cols.append(F.col("event_id").alias("bar_id"))
    return e.select(*cols)


#: SQL prelude mirroring :func:`events_as_bars` (DuckDB).
BARS_CTE = """
bars AS (
  SELECT CAST(user_id AS VARCHAR) AS ticker,
         epoch_ns(ts) AS window_start,
         value AS adj_close,
         value AS close,
         value + 1.0 AS high,
         value - 1.0 AS low,
         CAST(event_id % 97 + 1 AS DOUBLE) AS volume
  FROM events
)
"""


def minute_bars(
    spark: SparkSession, sf_dir: str, step_s: int = 60, key: str = "user_id"
) -> DataFrame:
    """events bucketed to a step grid per key: avg value per bucket
    (the grid input for segmentation / gap-fill / interpolation)."""
    e = _events(spark, sf_dir)
    step = step_s * NS
    return (
        e.select(F.col(key).cast("string").alias("ticker"), "ns", "value")
        .groupBy("ticker", (F.expr(f"ns DIV {step}") * F.lit(step)).alias("window_start"))
        .agg(_rc(F.avg("value")).alias("price"))
    )


def MINUTE_BARS_CTE(step_s: int = 60) -> str:
    step = step_s * NS
    return f"""
m AS (
  SELECT CAST(user_id AS VARCHAR) AS ticker,
         (epoch_ns(ts) // {step}) * {step} AS window_start,
         {R6('avg(value)')} AS price
  FROM events
  GROUP BY 1, 2
)
"""


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    return df.withColumns({c: _rc(F.col(c)) for c in cols})


# ---------------------------------------------------------------------------
# P7/F1-F2: market-hours range filter
# ---------------------------------------------------------------------------

SESSION_DATE = "2024-01-02"
_LO, _HI = market_bounds_ns(SESSION_DATE)


def q_market_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = events_as_bars(spark, sf_dir)
    return market_hours_filter(bars, _LO, _HI).select(
        "ticker", "window_start", "adj_close", "volume"
    )


SQL_MARKET_HOURS = f"""
WITH {BARS_CTE}
SELECT ticker, window_start, adj_close, volume
FROM bars WHERE window_start >= {_LO} AND window_start < {_HI}
"""

# ---------------------------------------------------------------------------
# W5/W6: ROCP + MOM
# ---------------------------------------------------------------------------


def q_rocp(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_rocp(events_as_bars(spark, sf_dir), "adj_close", ks=(1, 2, 3, 4, 5))
    out = with_mom(out, "adj_close", n=10)
    return _r6(
        out.select("ticker", "window_start", "rocp_1", "rocp_2", "rocp_3", "rocp_4", "rocp_5", "mom"),
        "rocp_1", "rocp_2", "rocp_3", "rocp_4", "rocp_5", "mom",
    )


def _rocp_sql_term(k: int) -> str:
    lagv = f"lag(adj_close, {k}) OVER w"
    return (
        f"floor((CASE WHEN {lagv} = 0 THEN 0 ELSE (adj_close - {lagv}) / {lagv} END) * 1000000 + 0.5) / 1000000"
        f" AS rocp_{k}"
    )


SQL_ROCP = f"""
WITH {BARS_CTE}
SELECT ticker, window_start,
       {", ".join(_rocp_sql_term(k) for k in range(1, 6))},
       floor((adj_close - lag(adj_close, 10) OVER w) * 1000000 + 0.5) / 1000000 AS mom
FROM bars
WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
"""

# ---------------------------------------------------------------------------
# W1: segmentation (on the minute grid)
# ---------------------------------------------------------------------------


def q_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_series(
        minute_bars(spark, sf_dir), key_cols=("ticker",), allowed_gaps_s=(60, 120, 180)
    ).select("ticker", "window_start", "price", "segment_id", "sub_ticker")


SEGMENT_CTES = f"""
{MINUTE_BARS_CTE()},
g AS (
  SELECT *, (window_start - lag(window_start) OVER (PARTITION BY ticker ORDER BY window_start)) / {NS} AS gap_s
  FROM m
),
s AS (
  SELECT *, sum(CASE WHEN gap_s IS NOT NULL AND gap_s NOT IN (60, 120, 180) THEN 1 ELSE 0 END)
            OVER (PARTITION BY ticker ORDER BY window_start ROWS UNBOUNDED PRECEDING) AS raw_seg
  FROM g
),
c AS (
  SELECT *, count(*) OVER (PARTITION BY ticker, raw_seg) AS seg_n FROM s
),
seg AS (
  SELECT ticker, window_start, price,
         CAST(dense_rank() OVER (PARTITION BY ticker ORDER BY raw_seg) - 1 AS INT) AS segment_id
  FROM c WHERE seg_n >= 2
),
segf AS (
  SELECT *, concat(ticker, '-', CAST(segment_id AS VARCHAR)) AS sub_ticker FROM seg
)
"""

SQL_SEGMENTATION = f"""
WITH {SEGMENT_CTES}
SELECT ticker, window_start, price, segment_id, sub_ticker FROM segf
"""

# ---------------------------------------------------------------------------
# W2: gap-fill  +  W4: interpolation (on segmented minute grid)
# ---------------------------------------------------------------------------


def _segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_series(
        minute_bars(spark, sf_dir), key_cols=("ticker",), allowed_gaps_s=(60, 120, 180)
    )


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fill_gaps(
        _segmented(spark, sf_dir),
        key_cols=("sub_ticker",),
        carry_cols=("ticker",),
        synthetic_col="synth",
    ).select("ticker", "sub_ticker", "window_start", "price", "synth")


GAPFILL_CTES = f"""
{SEGMENT_CTES},
gf AS (
  SELECT ticker, sub_ticker, window_start, price, false AS synth FROM segf
  UNION ALL
  SELECT ticker, sub_ticker,
         unnest(generate_series(prev_ws + {STEP_NS}, window_start - {STEP_NS}, {STEP_NS})) AS window_start,
         NULL AS price, true AS synth
  FROM (
    SELECT *, lag(window_start) OVER (PARTITION BY sub_ticker ORDER BY window_start) AS prev_ws
    FROM segf
  )
  WHERE prev_ws IS NOT NULL AND window_start - prev_ws > {STEP_NS}
)
"""

SQL_GAPFILL = f"""
WITH {GAPFILL_CTES}
SELECT ticker, sub_ticker, window_start, price, synth FROM gf
"""


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    filled = fill_gaps(
        _segmented(spark, sf_dir), key_cols=("sub_ticker",), carry_cols=("ticker",)
    )
    out = interpolate_linear(filled, ["price"], key_cols=("sub_ticker",))
    return _r6(out.select("ticker", "sub_ticker", "window_start", "price"), "price")


SQL_INTERPOLATE = f"""
WITH {GAPFILL_CTES},
ip AS (
  SELECT ticker, sub_ticker, window_start, price,
         last_value(price IGNORE NULLS) OVER (PARTITION BY sub_ticker ORDER BY window_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN price IS NOT NULL THEN window_start END IGNORE NULLS)
             OVER (PARTITION BY sub_ticker ORDER BY window_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(price IGNORE NULLS) OVER (PARTITION BY sub_ticker ORDER BY window_start
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN price IS NOT NULL THEN window_start END IGNORE NULLS)
             OVER (PARTITION BY sub_ticker ORDER BY window_start
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM gf
)
SELECT ticker, sub_ticker, window_start,
       floor((CASE WHEN price IS NOT NULL THEN price
                  WHEN prev_v IS NULL THEN next_v
                  WHEN next_v IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v)
                       * (CAST(window_start - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
             END) * 1000000 + 0.5) / 1000000 AS price
FROM ip
"""

# ---------------------------------------------------------------------------
# W8 MFI / W9 ULTOSC / W11 AROONOSC / W13 PPO / W14 STOCHF / W16 CCI
# (raw TA-Lib scale, rounded)
# ---------------------------------------------------------------------------


def q_distinct_users_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT users over CUBE(event_type, day-of-week) via
    HLL registers — the distinct-counts-don't-roll-up problem solved
    in ONE fact-table pass: the register index joins every grouping
    set, so Expand + max(rho) builds all four register files at once
    (llmdata/sketches.hll_distinct_cube). Day-of-week is pure integer
    epoch-day arithmetic ((days+4) mod 7, Sun=0) — no calendar
    function, no timezone, no engine drift."""
    from stock_indicators_etl_spark.llmdata.sketches import hll_distinct_cube

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("(ns div 86400000000000 + 4) % 7").alias("dow"),
        "user_id",
    )
    return hll_distinct_cube(ev, "event_type", "dow", "user_id")


def _sql_distinct_users_cube() -> str:
    from stock_indicators_etl_spark.llmdata.sketches import (
        _HLL_R,
        _HLL_SUFFIX_BITS,
        HLL_M,
        HLL_NUMER,
    )

    sb, rmax, m = _HLL_SUFFIX_BITS, _HLL_R, HLL_M
    return f"""
WITH src AS (
  SELECT event_type,
         (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
              AS BIGINT) AS h
  FROM events
),
reg AS (
  SELECT event_type, dow, h // {1 << sb} AS idx,
         CASE WHEN h % {1 << sb} = 0 THEN {rmax}
              ELSE {sb + 1} - length(bin(h % {1 << sb})) END AS rho
  FROM src
),
l1 AS (
  SELECT event_type, dow, idx, max(rho) AS mrho,
         CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS gid
  FROM reg
  GROUP BY GROUPING SETS ((event_type, dow, idx), (event_type, idx),
                          (dow, idx), (idx))
),
agg AS (
  SELECT event_type, dow, gid, count(*) AS present,
         sum((CAST(1 AS BIGINT) << ({rmax} - mrho))) AS s_present
  FROM l1 GROUP BY event_type, dow, gid
)
SELECT event_type, dow, gid,
       CAST({m} - present AS BIGINT) AS zero_registers,
       CAST(s_present + ({m} - present) * (CAST(1 AS BIGINT) << {rmax})
            AS BIGINT) AS register_sum,
       {HLL_NUMER!r} / CAST(s_present + ({m} - present)
            * (CAST(1 AS BIGINT) << {rmax}) AS DOUBLE) AS raw_est
FROM agg
"""


SQL_DISTINCT_USERS_CUBE = _sql_distinct_users_cube()


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation matrix over the four
    lineitem numerics — quantity / price(dollars) / discount(%) /
    tax(%) — all 14 running sums exact BIGINTs in ONE combinable
    aggregate; each corr is a fixed IEEE expression over identical
    integers (operators/stats.corr_matrix)."""
    from stock_indicators_etl_spark.operators.stats import corr_matrix

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return corr_matrix(
        li,
        "l_returnflag",
        {
            "qty": ("l_quantity", 1),
            "price": ("l_extendedprice", 1),
            "disc": ("l_discount", 100),
            "tax": ("l_tax", 100),
        },
    )


def _sql_corr_pair(a: str, b: str) -> str:
    return f"""
  SELECT l_returnflag, '{a}' AS feat_a, '{b}' AS feat_b,
         CAST(n AS BIGINT) AS n,
         CASE WHEN CAST(n AS DOUBLE) * s_{a}_{a} - CAST(s_{a} AS DOUBLE) * s_{a} > 0
               AND CAST(n AS DOUBLE) * s_{b}_{b} - CAST(s_{b} AS DOUBLE) * s_{b} > 0
              THEN (CAST(n AS DOUBLE) * s_{a}_{b} - CAST(s_{a} AS DOUBLE) * s_{b})
                   / sqrt((CAST(n AS DOUBLE) * s_{a}_{a} - CAST(s_{a} AS DOUBLE) * s_{a})
                        * (CAST(n AS DOUBLE) * s_{b}_{b} - CAST(s_{b} AS DOUBLE) * s_{b}))
         END AS corr
  FROM sums"""


def _sql_corr_matrix() -> str:
    names = ["qty", "price", "disc", "tax"]
    pairs = [
        _sql_corr_pair(a, b)
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    return f"""
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 1 + 0.5) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 1 + 0.5) AS BIGINT) AS price,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc,
         CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax
  FROM lineitem
),
sums AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(sum(qty) AS BIGINT) AS s_qty,
         CAST(sum(price) AS BIGINT) AS s_price,
         CAST(sum(disc) AS BIGINT) AS s_disc,
         CAST(sum(tax) AS BIGINT) AS s_tax,
         CAST(sum(qty * qty) AS BIGINT) AS s_qty_qty,
         CAST(sum(price * price) AS BIGINT) AS s_price_price,
         CAST(sum(disc * disc) AS BIGINT) AS s_disc_disc,
         CAST(sum(tax * tax) AS BIGINT) AS s_tax_tax,
         CAST(sum(qty * price) AS BIGINT) AS s_qty_price,
         CAST(sum(qty * disc) AS BIGINT) AS s_qty_disc,
         CAST(sum(qty * tax) AS BIGINT) AS s_qty_tax,
         CAST(sum(price * disc) AS BIGINT) AS s_price_disc,
         CAST(sum(price * tax) AS BIGINT) AS s_price_tax,
         CAST(sum(disc * tax) AS BIGINT) AS s_disc_tax
  FROM q GROUP BY l_returnflag
)
{chr(10).join("UNION ALL" + p if i else p for i, p in enumerate(pairs))}
"""


SQL_CORR_MATRIX = _sql_corr_matrix()


#: epoch-day of 2024-01-16 — the month's midpoint split for the
#: drift monitor (2024-01-01 = epoch day 19723)
DRIFT_SPLIT_DAY = 19738
_DAY_NS = 86_400_000_000_000


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per-event-type total-variation
    distance of `value` between the month's first and second half
    (operators/dq.histogram_drift). TVD is computed as the exact
    integer statistic Σ|ca·nb − cb·na| over shared-bounds equi-width
    bins, then ONE IEEE division — no float-sum fold to pin."""
    from stock_indicators_etl_spark.operators.dq import histogram_drift

    ev = _events(spark, sf_dir)
    day = F.expr(f"ns div {_DAY_NS}")
    a = ev.filter(day < DRIFT_SPLIT_DAY)
    b = ev.filter(day >= DRIFT_SPLIT_DAY)
    return histogram_drift(a, b, ("event_type",), "value", n_bins=16)


SQL_HISTOGRAM_DRIFT = f"""
WITH u AS (
  SELECT event_type,
         CASE WHEN epoch_ns(ts) // {_DAY_NS} < {DRIFT_SPLIT_DAY}
              THEN 'a' ELSE 'b' END AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
bounds AS (
  SELECT event_type, min(cents) AS mn, max(cents) AS mx
  FROM u GROUP BY event_type
),
binned AS (
  SELECT u.event_type, u.side,
         (u.cents - b.mn) * 16 // (b.mx - b.mn + 1) AS bin
  FROM u JOIN bounds b ON u.event_type = b.event_type
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM binned GROUP BY event_type, bin
),
totals AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b
  FROM counts GROUP BY event_type
)
SELECT c.event_type, t.n_a, t.n_b,
       CAST(count(*) AS BIGINT) AS n_bins_used,
       CAST(sum(abs(c.ca * t.n_b - c.cb * t.n_a)) AS BIGINT) AS l1_scaled,
       CASE WHEN t.n_a = 0 OR t.n_b = 0 THEN 1.0
            ELSE CAST(sum(abs(c.ca * t.n_b - c.cb * t.n_a)) AS DOUBLE)
                 / (2.0 * CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)) END AS tvd
FROM counts c JOIN totals t ON c.event_type = t.event_type
GROUP BY c.event_type, t.n_a, t.n_b
"""


def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EXACT lower-median of integer-cents value via
    the two-pass histogram plan (operators/stats.exact_median_hist):
    two combinable aggregations + a one-bin selection — never a
    per-key sort of the whole group. The oracle is a one-line
    quantile_disc(0.5), which picks the identical lower-median rank
    floor((n-1)/2)+1 = (n+1) div 2."""
    from stock_indicators_etl_spark.operators.stats import exact_median_hist

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return exact_median_hist(ev, key_cols=("event_type",), value_col="value")


SQL_EXACT_MEDIAN = """
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, count(*) AS n,
       quantile_disc(cents, 0.5) AS median_cents
FROM c GROUP BY event_type
"""


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EXACT Q1/median/Q3 via the generalized two-pass
    histogram (operators/stats.exact_quantiles_hist): integer
    quantile_disc ranks ceil(n·p) computed as pure integer
    arithmetic, selection restricted to the union of rank-holding
    bins — still no per-key sort at any group size."""
    from stock_indicators_etl_spark.operators.stats import exact_quantiles_hist

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return exact_quantiles_hist(
        ev, key_cols=("event_type",), value_col="value",
        probs=((1, 4), (1, 2), (3, 4)),
    )


SQL_EXACT_QUANTILES = """
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, count(*) AS n,
       quantile_disc(cents, 0.25) AS q1_4_cents,
       quantile_disc(cents, 0.50) AS q1_2_cents,
       quantile_disc(cents, 0.75) AS q3_4_cents
FROM c GROUP BY event_type
"""


ROBUST_N = 20


def q_rolling_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 robust price band per series: lower-median/Q1/Q3/
    min/max as integer-rank order statistics over the sorted window
    list — exact BIGINT cents, no interpolation convention
    (operators/rolling.with_rolling_robust)."""
    from stock_indicators_etl_spark.operators.rolling import with_rolling_robust

    out = with_rolling_robust(events_as_bars(spark, sf_dir), n=ROBUST_N)
    return out.select(
        "ticker", "window_start", "n_w",
        "med_cents", "q1_cents", "q3_cents", "min_cents", "max_cents",
    )


SQL_ROLLING_ROBUST = f"""
WITH {BARS_CTE},
c AS (
  SELECT ticker, window_start,
         CAST(floor(close * 100 + 0.5) AS BIGINT) AS cents
  FROM bars
),
lw AS (
  SELECT ticker, window_start,
         list_sort(list(cents) OVER (PARTITION BY ticker ORDER BY window_start
             ROWS BETWEEN {ROBUST_N - 1} PRECEDING AND CURRENT ROW)) AS arr
  FROM c
)
SELECT ticker, window_start,
       CAST(len(arr) AS BIGINT) AS n_w,
       arr[(len(arr) + 1) // 2] AS med_cents,
       arr[greatest(1, (len(arr) + 1) // 4)] AS q1_cents,
       arr[least(len(arr), (3 * (len(arr) + 1)) // 4)] AS q3_cents,
       arr[1] AS min_cents,
       arr[len(arr)] AS max_cents
FROM lw
"""


def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_mfi(events_as_bars(spark, sf_dir), n=14)
    return _r6(out.select("ticker", "window_start", "mfi"), "mfi")


SQL_MFI = f"""
WITH {BARS_CTE},
t AS (
  SELECT ticker, window_start,
         (high + low + close) / 3.0 AS tp,
         (high + low + close) / 3.0 * volume AS mf,
         row_number() OVER w AS rn,
         lag((high + low + close) / 3.0) OVER w AS prev_tp
  FROM bars
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
),
fl AS (
  SELECT *,
         CASE WHEN prev_tp IS NULL THEN NULL WHEN tp > prev_tp THEN mf ELSE 0.0 END AS pos_f,
         CASE WHEN prev_tp IS NULL THEN NULL WHEN tp < prev_tp THEN mf ELSE 0.0 END AS neg_f
  FROM t
),
sm AS (
  SELECT ticker, window_start, rn,
         sum(pos_f) OVER fr AS pos, sum(neg_f) OVER fr AS neg
  FROM fl
  WINDOW fr AS (PARTITION BY ticker ORDER BY window_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT ticker, window_start,
       floor((CASE WHEN rn <= 14 THEN NULL
                  WHEN pos + neg < 1.0 THEN 0.0
                  ELSE 100.0 * pos / (pos + neg) END) * 1000000 + 0.5) / 1000000 AS mfi
FROM sm
"""


def q_ultosc(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_ultosc(events_as_bars(spark, sf_dir))
    return _r6(out.select("ticker", "window_start", "ultosc"), "ultosc")


SQL_ULTOSC = f"""
WITH {BARS_CTE},
t AS (
  SELECT ticker, window_start, row_number() OVER w AS rn,
         close - least(low, lag(close) OVER w) AS bp,
         greatest(high, lag(close) OVER w) - least(low, lag(close) OVER w) AS tr
  FROM bars
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
),
sm AS (
  SELECT ticker, window_start, rn,
         sum(bp) OVER f7 AS bp7, sum(tr) OVER f7 AS tr7,
         sum(bp) OVER f14 AS bp14, sum(tr) OVER f14 AS tr14,
         sum(bp) OVER f28 AS bp28, sum(tr) OVER f28 AS tr28
  FROM t
  WINDOW f7 AS (PARTITION BY ticker ORDER BY window_start ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         f14 AS (PARTITION BY ticker ORDER BY window_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         f28 AS (PARTITION BY ticker ORDER BY window_start ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
)
SELECT ticker, window_start,
       floor((CASE WHEN rn <= 28 THEN NULL ELSE
         100.0 * (4.0 * (CASE WHEN tr7 = 0 THEN 0 ELSE bp7 / tr7 END)
                + 2.0 * (CASE WHEN tr14 = 0 THEN 0 ELSE bp14 / tr14 END)
                + (CASE WHEN tr28 = 0 THEN 0 ELSE bp28 / tr28 END)) / 7.0 END) * 1000000 + 0.5) / 1000000 AS ultosc
FROM sm
"""


def q_aroonosc(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_aroonosc(events_as_bars(spark, sf_dir), n=25)
    return _r6(out.select("ticker", "window_start", "aroonosc"), "aroonosc")


SQL_AROONOSC = f"""
WITH {BARS_CTE},
t AS (
  SELECT ticker, window_start, high, low, row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
),
mx AS (
  SELECT ticker, window_start, rn,
         (max(struct_pack(v := high, i := rn)) OVER fr).i AS idx_hi,
         (max(struct_pack(v := -low, i := rn)) OVER fr).i AS idx_lo
  FROM t
  WINDOW fr AS (PARTITION BY ticker ORDER BY window_start ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
)
SELECT ticker, window_start,
       floor((CASE WHEN rn <= 25 THEN NULL
             ELSE 100.0 * CAST(idx_hi - idx_lo AS DOUBLE) / 25.0 END) * 1000000 + 0.5) / 1000000 AS aroonosc
FROM mx
"""


def q_ppo(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_ppo(events_as_bars(spark, sf_dir))
    return _r6(out.select("ticker", "window_start", "ppo"), "ppo")


SQL_PPO = f"""
WITH {BARS_CTE},
t AS (
  SELECT ticker, window_start, row_number() OVER w AS rn,
         avg(adj_close) OVER (w ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS sma12,
         avg(adj_close) OVER (w ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS sma26
  FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
)
SELECT ticker, window_start,
       floor((CASE WHEN rn < 26 THEN NULL
                  WHEN sma26 = 0 THEN 0.0
                  ELSE 100.0 * (sma12 - sma26) / sma26 END) * 1000000 + 0.5) / 1000000 AS ppo
FROM t
"""


def q_stochf(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_stochf(events_as_bars(spark, sf_dir))
    return _r6(out.select("ticker", "window_start", "sok", "sod"), "sok", "sod")


SQL_STOCHF = f"""
WITH {BARS_CTE},
t AS (
  SELECT ticker, window_start, close, row_number() OVER w AS rn,
         min(low) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ll,
         max(high) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS hh
  FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
),
k AS (
  SELECT ticker, window_start, rn,
         CASE WHEN rn >= 5 THEN
           CASE WHEN hh - ll = 0 THEN 0.0 ELSE 100.0 * (close - ll) / (hh - ll) END
         END AS raw_k
  FROM t
),
d AS (
  SELECT ticker, window_start, rn, raw_k,
         avg(raw_k) OVER (PARTITION BY ticker ORDER BY window_start
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS sod_raw
  FROM k
)
SELECT ticker, window_start,
       floor((CASE WHEN rn >= 7 THEN raw_k END) * 1000000 + 0.5) / 1000000 AS sok,
       floor((CASE WHEN rn >= 7 THEN sod_raw END) * 1000000 + 0.5) / 1000000 AS sod
FROM d
"""


def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_cci(events_as_bars(spark, sf_dir), n=14)
    return _r6(out.select("ticker", "window_start", "cci"), "cci")


SQL_CCI = f"""
WITH {BARS_CTE},
t AS (
  SELECT ticker, window_start, (high + low + close) / 3.0 AS tp,
         row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
),
a AS (
  SELECT ticker, window_start, tp, rn,
         avg(tp) OVER fr AS sma,
         list(tp) OVER fr AS lst
  FROM t
  WINDOW fr AS (PARTITION BY ticker ORDER BY window_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
md AS (
  SELECT ticker, window_start, tp, rn, sma,
         list_sum(list_transform(lst, x -> abs(x - sma))) / 14.0 AS meandev
  FROM a
)
SELECT ticker, window_start,
       floor((CASE WHEN rn < 14 THEN NULL
                  WHEN meandev = 0 THEN 0.0
                  ELSE (tp - sma) / (0.015 * meandev) END) * 1000000 + 0.5) / 1000000 AS cci
FROM md
"""

# ---------------------------------------------------------------------------
# F4: ISO week functions  +  general engine breadth (agg / join / top-k)
# ---------------------------------------------------------------------------


def q_iso_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.groupBy(
            F.weekofyear("o_orderdate").alias("iso_week"),
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("long").alias("iso_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _rc(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )


SQL_ISO_WEEK = """
SELECT week(o_orderdate) AS iso_week,
       CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
       count(*) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS sum_price
FROM orders
GROUP BY 1, 2
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation over lineitem (scan+filter+agg)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _rc(F.sum("l_quantity"), 4).alias("sum_qty"),
            _rc(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            _rc(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            _rc(F.avg("l_quantity"), 6).alias("avg_qty"),
            _rc(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty,
       floor((sum(l_extendedprice)) * 10000 + 0.5) / 10000 AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000 AS sum_disc_price,
       floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty,
       floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: orders ⋈ customer ⋈ nation ⋈ region with broadcast
    dims (SURVEY.md J2 analog; nation/region are broadcast-size)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _rc(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT r_name, n_name,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k with deterministic tie-break (window rank)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
    )


SQL_TOP_ORDERS_PER_SEGMENT = """
SELECT c_mktsegment, rk, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rk <= 5
"""

# ---------------------------------------------------------------------------
# Sessionization (batch gaps-and-islands; streaming twin in streaming/)
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ns")
    out = (
        e.select("user_id", "ns", "value")
        .withColumn("prev_ns", F.lag("ns").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev_ns").isNull() | (F.col("ns") - F.col("prev_ns") > SESSION_GAP_S * NS)).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ns").alias("session_start"),
            F.max("ns").alias("session_end"),
            # Order-deterministic float sum: shuffle-order F.sum differs
            # from DuckDB's sequential sum by ulps, which flips the 4dp
            # quantization when a session sum lands on a rounding
            # boundary (VERDICT r1 #1). Fold in ns order on both sides.
            # Production note: plain F.sum keeps map-side combine and is
            # the right default when bit-reproducibility isn't required;
            # this fold exists for oracle parity (sessions are bounded,
            # so the collect_list is too).
            _rc(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct(F.col("ns"), F.col("value")))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["value"],
                ),
                4,
            ).alias("sum_value"),
        )
    )
    return out


SQL_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ns, value FROM events
),
g AS (
  SELECT *, CASE WHEN lag(ns) OVER w IS NULL
                   OR ns - lag(ns) OVER w > {SESSION_GAP_S * NS} THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ns)
),
s AS (
  -- CAST: DuckDB's window sum over ints widens to HUGEINT (→ float64
  -- in pandas); Spark emits BIGINT (VERDICT r1 #2 applies here too)
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ns ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ns) AS session_start, max(ns) AS session_end,
       -- ORDER BY ns, value: Spark folds array_sort(struct(ns, value)),
       -- so ns-ties must break on value here too or tie order is
       -- engine-unspecified (latent ulp hazard)
       floor(list_reduce(list_prepend(0.0, list(value ORDER BY ns, value)), (x, y) -> x + y)
             * 10000 + 0.5) / 10000 AS sum_value
FROM s GROUP BY user_id, session_id
"""

# ---------------------------------------------------------------------------
# Hypertable-style OHLCV rollup (time-bucket aggregation, argmin/argmax)
# ---------------------------------------------------------------------------

BUCKET_S = 3600


def q_ohlcv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    step = BUCKET_S * NS
    return (
        e.select("user_id", "ns", "value", "event_id")
        .groupBy("user_id", (F.expr(f"ns DIV {step}") * F.lit(step)).alias("bucket"))
        .agg(
            # (user_id, ts) is unique in events → ns-keyed argmin/argmax
            # is deterministic without a tie-break
            F.min_by(F.col("value"), F.col("ns")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(F.col("value"), F.col("ns")).alias("close"),
            F.count(F.lit(1)).alias("n"),
            # ns-ordered fold, not F.sum: same rounding-boundary hazard
            # as sessionize (see q_sessionize).
            _rc(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct(F.col("ns"), F.col("value")))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["value"],
                ),
                4,
            ).alias("volume"),
        )
    )


SQL_OHLCV_ROLLUP = f"""
SELECT user_id,
       (epoch_ns(ts) // {BUCKET_S * NS}) * {BUCKET_S * NS} AS bucket,
       arg_min(value, epoch_ns(ts)) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, epoch_ns(ts)) AS close,
       count(*) AS n,
       floor(list_reduce(list_prepend(0.0, list(value ORDER BY epoch_ns(ts), value)), (x, y) -> x + y)
             * 10000 + 0.5) / 10000 AS volume
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# W7 RSI / W10 CMO: full-pipeline oracle via DuckDB list-lambda
# recursion (bit-identical to kernels._seeded_recursion's left fold)
# ---------------------------------------------------------------------------


def _wilder_oracle_sql(out_col: str, formula: str, n: int = 14) -> str:
    """Oracle for the ``momentum_features=[x]`` pipeline on events
    bars: per-ticker Wilder state via ``list_reduce`` replaying the
    exact ``y·(1−1/n) + v·(1/n)`` IEEE sequence of the numpy kernel
    (seeded with a left-fold mean), then ROCP + assembly + dropna.
    ``formula`` maps the state pair q = [avg_gain, avg_loss] to the
    indicator value (raw 0-100 scale; scaled ÷100 in assembly).
    """
    rocps = ",\n         ".join(_rocp_sql_term(k) for k in range(1, 6))
    return f"""
WITH {BARS_CTE},
g AS (
  SELECT ticker,
         list(window_start ORDER BY window_start) AS wss,
         list(adj_close ORDER BY window_start) AS lst
  FROM bars GROUP BY ticker
),
st AS (
  SELECT ticker, wss, lst,
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i <= {n} THEN NULL ELSE
        list_reduce(
          list_prepend(
            [list_reduce(list_prepend(0.0, list_transform(generate_series(2, {n + 1}), j -> greatest(lst[j] - lst[j-1], 0.0))), (x, y) -> x + y) / {n}.0,
             list_reduce(list_prepend(0.0, list_transform(generate_series(2, {n + 1}), j -> greatest(lst[j-1] - lst[j], 0.0))), (x, y) -> x + y) / {n}.0],
            list_transform(generate_series({n + 2}, i), k ->
              [greatest(lst[k] - lst[k-1], 0.0), greatest(lst[k-1] - lst[k], 0.0)])),
          (acc, v) -> [acc[1] * (1.0 - 1.0/{n}.0) + v[1] * (1.0/{n}.0),
                       acc[2] * (1.0 - 1.0/{n}.0) + v[2] * (1.0/{n}.0)])
      END) AS states
  FROM g
),
r AS (
  SELECT ticker, wss, lst,
    list_transform(states, q ->
      CASE WHEN q IS NULL THEN NULL
           WHEN q[1] + q[2] = 0 THEN 0.0
           ELSE {formula} END) AS vals
  FROM st
),
u AS (
  SELECT ticker, unnest(wss) AS window_start, unnest(lst) AS adj_close,
         unnest(vals) AS raw_val
  FROM r
),
f AS (
  SELECT concat(ticker, '-0') AS ticker, window_start,
         adj_close AS close_price,
         {rocps},
         {R6('raw_val / 100.0')} AS {out_col}
  FROM u
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
)
SELECT * FROM f
WHERE {out_col} IS NOT NULL AND rocp_1 IS NOT NULL AND rocp_2 IS NOT NULL
  AND rocp_3 IS NOT NULL AND rocp_4 IS NOT NULL AND rocp_5 IS NOT NULL
"""


SQL_RSI_WILDER = _wilder_oracle_sql("rsi", "100.0 * q[1] / (q[1] + q[2])")
SQL_CMO_WILDER = _wilder_oracle_sql("cmo", "100.0 * (q[1] - q[2]) / (q[1] + q[2])")


def _macdfix_oracle_sql() -> str:
    """Oracle for ``momentum_features=["macd"]``: TA-Lib MACDFIX via
    the same list-lambda replay — EMA12/EMA26 with fixed multipliers
    0.15/0.075 (SMA-seeded), EMA9 signal over the macd list, output
    hist = macd − signal, scaled ÷10 (``indicators.py:432-445``).

    Both EMAs are requested at the slow lookback (TA_INT_MACD): each
    seeds at 1-indexed position 26 with the SMA of its trailing
    window — EMA12 over lst[15..26], EMA26 over lst[1..26] — and both
    recursions start at lst[27] (ADVICE r1 high)."""
    rocps = ",\n         ".join(_rocp_sql_term(k) for k in range(1, 6))
    ema = (
        "list_reduce(list_prepend("
        "list_reduce(list_prepend(0.0, list_transform(generate_series({j0}, 26), j -> lst[j])), (x, y) -> x + y) / {n}.0, "
        "list_transform(generate_series(27, i), k -> lst[k])), "
        "(acc, v) -> acc * (1.0 - {k}) + v * {k})"
    )
    ema12 = ema.format(j0=15, n=12, k="0.15")
    ema26 = ema.format(j0=1, n=26, k="0.075")
    return f"""
WITH {BARS_CTE},
g AS (
  SELECT ticker,
         list(window_start ORDER BY window_start) AS wss,
         list(adj_close ORDER BY window_start) AS lst
  FROM bars GROUP BY ticker
),
m1 AS (
  SELECT ticker, wss, lst,
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i < 26 THEN NULL ELSE {ema12} - {ema26} END) AS macd
  FROM g
),
sg AS (
  SELECT ticker, wss, lst,
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i <= 33 THEN NULL ELSE
        macd[i] -
        list_reduce(
          list_prepend(list_reduce(list_prepend(0.0, list_transform(generate_series(26, 34), j -> macd[j])), (x, y) -> x + y) / 9.0,
                       list_transform(generate_series(35, i), k -> macd[k])),
          (acc, v) -> acc * (1.0 - 2.0/(9.0 + 1.0)) + v * (2.0/(9.0 + 1.0)))
      END) AS hist
  FROM m1
),
u AS (
  SELECT ticker, unnest(wss) AS window_start, unnest(lst) AS adj_close,
         unnest(hist) AS raw_hist
  FROM sg
),
f AS (
  SELECT concat(ticker, '-0') AS ticker, window_start,
         adj_close AS close_price,
         {rocps},
         {R6('raw_hist / 10.0')} AS macd_hist
  FROM u
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
)
SELECT * FROM f
WHERE macd_hist IS NOT NULL AND rocp_1 IS NOT NULL AND rocp_2 IS NOT NULL
  AND rocp_3 IS NOT NULL AND rocp_4 IS NOT NULL AND rocp_5 IS NOT NULL
"""


SQL_MACDFIX_HIST = _macdfix_oracle_sql()


def _adx_oracle_sql(n: int = 14) -> str:
    """Oracle for ``momentum_features=["adx"]``: the doubly-recursive
    ADX family (W15) via two chained list-lambda replays — Wilder
    state triple [TR, +DM, −DM] → ±DI → DX list → Wilder-mean ADX.
    Output keeps the reference's name swap: ``adx`` = ADX/100,
    ``adx_hist`` = (+DI − −DI)/100 (``indicators.py:294-297``)."""
    rocps = ",\n         ".join(_rocp_sql_term(k) for k in range(1, 6))
    up = "lh[{j}]-lh[{j}-1]"
    dn = "ll[{j}-1]-ll[{j}]"

    def pdm(j: str) -> str:
        u, d = up.format(j=j), dn.format(j=j)
        return f"CASE WHEN {u} > {d} AND {u} > 0 THEN {u} ELSE 0.0 END"

    def mdm(j: str) -> str:
        u, d = up.format(j=j), dn.format(j=j)
        return f"CASE WHEN {d} > {u} AND {d} > 0 THEN {d} ELSE 0.0 END"

    def tr(j: str) -> str:
        return f"greatest(lh[{j}], lc[{j}-1]) - least(ll[{j}], lc[{j}-1])"

    def seed(expr: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(2, {n + 1}), j -> {expr})), (x, y) -> x + y) / {n}.0"
        )

    return f"""
WITH {BARS_CTE},
g AS (
  SELECT ticker,
         list(window_start ORDER BY window_start) AS wss,
         list(adj_close ORDER BY window_start) AS lst,
         list(high ORDER BY window_start) AS lh,
         list(low ORDER BY window_start) AS ll,
         list(close ORDER BY window_start) AS lc
  FROM bars GROUP BY ticker
),
st AS (
  SELECT ticker, wss, lst,
    list_transform(generate_series(1, len(lc)), i ->
      CASE WHEN i <= {n} THEN NULL ELSE
        list_reduce(
          list_prepend(
            [{seed(tr('j'))},
             {seed(pdm('j'))},
             {seed(mdm('j'))}],
            list_transform(generate_series({n + 2}, i), k ->
              [{tr('k')}, {pdm('k')}, {mdm('k')}])),
          (acc, v) -> [acc[1] * (1.0 - 1.0/{n}.0) + v[1] * (1.0/{n}.0),
                       acc[2] * (1.0 - 1.0/{n}.0) + v[2] * (1.0/{n}.0),
                       acc[3] * (1.0 - 1.0/{n}.0) + v[3] * (1.0/{n}.0)])
      END) AS states
  FROM g
),
pq AS (
  SELECT ticker, wss, lst,
    list_transform(states, q -> CASE WHEN q IS NULL THEN NULL
      WHEN {n}.0*q[1] = 0 THEN 0.0 ELSE 100.0 * ({n}.0*q[2]) / ({n}.0*q[1]) END) AS pdi,
    list_transform(states, q -> CASE WHEN q IS NULL THEN NULL
      WHEN {n}.0*q[1] = 0 THEN 0.0 ELSE 100.0 * ({n}.0*q[3]) / ({n}.0*q[1]) END) AS mdi
  FROM st
),
dxl AS (
  SELECT ticker, wss, lst, pdi, mdi,
    list_transform(generate_series(1, len(pdi)), i ->
      CASE WHEN pdi[i] IS NULL THEN NULL
           WHEN pdi[i] + mdi[i] = 0 THEN 0.0
           ELSE 100.0 * abs(pdi[i] - mdi[i]) / (pdi[i] + mdi[i]) END) AS dx
  FROM pq
),
ax AS (
  SELECT ticker, wss, lst, pdi, mdi,
    list_transform(generate_series(1, len(pdi)), i ->
      CASE WHEN i < {2 * n} THEN NULL ELSE
        list_reduce(
          list_prepend(list_reduce(list_prepend(0.0, list_transform(generate_series({n + 1}, {2 * n}), j -> dx[j])), (x, y) -> x + y) / {n}.0,
                       list_transform(generate_series({2 * n + 1}, i), k -> dx[k])),
          (acc, v) -> acc * (1.0 - 1.0/{n}.0) + v * (1.0/{n}.0))
      END) AS adxl
  FROM dxl
),
u AS (
  SELECT ticker, unnest(wss) AS window_start, unnest(lst) AS adj_close,
         unnest(adxl) AS raw_adx,
         unnest(pdi) AS raw_pdi, unnest(mdi) AS raw_mdi
  FROM ax
),
f AS (
  SELECT concat(ticker, '-0') AS ticker, window_start,
         adj_close AS close_price,
         {rocps},
         {R6('raw_adx / 100.0')} AS adx,
         {R6('(raw_pdi - raw_mdi) / 100.0')} AS adx_hist
  FROM u
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
)
SELECT * FROM f
WHERE adx IS NOT NULL AND adx_hist IS NOT NULL AND rocp_1 IS NOT NULL
  AND rocp_2 IS NOT NULL AND rocp_3 IS NOT NULL AND rocp_4 IS NOT NULL
  AND rocp_5 IS NOT NULL
"""


SQL_ADX_FAMILY = _adx_oracle_sql()


def _recursive_family_oracle_sql(n: int = 14) -> str:
    """Combined oracle for ``momentum_features=["rsi","cmo","macd",
    "adx"]`` on events bars (``assume_regular``): all four recursive
    families in ONE query — the Wilder pair state drives rsi+cmo, the
    EMA chain drives macd_hist, the triple state drives adx/adx_hist.
    Consolidates the four single-feature driver entries (the external
    harness caps at 50 queries; VERDICT r2 #1) while keeping every
    kernel's math under the same bit-exact list-lambda replay
    (reference ``stockdata/indicators.py:236-297,432-445``)."""
    rocps = ",\n         ".join(_rocp_sql_term(k) for k in range(1, 6))

    def lfsum(items: str) -> str:
        return f"list_reduce(list_prepend(0.0, {items}), (x, y) -> x + y)"

    wilder_states = f"""
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i <= {n} THEN NULL ELSE
        list_reduce(
          list_prepend(
            [{lfsum(f'list_transform(generate_series(2, {n + 1}), j -> greatest(lst[j] - lst[j-1], 0.0))')} / {n}.0,
             {lfsum(f'list_transform(generate_series(2, {n + 1}), j -> greatest(lst[j-1] - lst[j], 0.0))')} / {n}.0],
            list_transform(generate_series({n + 2}, i), k ->
              [greatest(lst[k] - lst[k-1], 0.0), greatest(lst[k-1] - lst[k], 0.0)])),
          (acc, v) -> [acc[1] * (1.0 - 1.0/{n}.0) + v[1] * (1.0/{n}.0),
                       acc[2] * (1.0 - 1.0/{n}.0) + v[2] * (1.0/{n}.0)])
      END)"""

    ema = (
        "list_reduce(list_prepend("
        + lfsum("list_transform(generate_series({j0}, 26), j -> lst[j])")
        + " / {nn}.0, list_transform(generate_series(27, i), k -> lst[k])), "
        "(acc, v) -> acc * (1.0 - {kk}) + v * {kk})"
    )
    ema12 = ema.format(j0=15, nn=12, kk="0.15")
    ema26 = ema.format(j0=1, nn=26, kk="0.075")
    macd_list = f"""
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i < 26 THEN NULL ELSE {ema12} - {ema26} END)"""
    hist_list = f"""
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i <= 33 THEN NULL ELSE
        macd[i] -
        list_reduce(
          list_prepend({lfsum('list_transform(generate_series(26, 34), j -> macd[j])')} / 9.0,
                       list_transform(generate_series(35, i), k -> macd[k])),
          (acc, v) -> acc * (1.0 - 2.0/(9.0 + 1.0)) + v * (2.0/(9.0 + 1.0)))
      END)"""

    up = "lh[{j}]-lh[{j}-1]"
    dn = "ll[{j}-1]-ll[{j}]"

    def pdm(j: str) -> str:
        u, d = up.format(j=j), dn.format(j=j)
        return f"CASE WHEN {u} > {d} AND {u} > 0 THEN {u} ELSE 0.0 END"

    def mdm(j: str) -> str:
        u, d = up.format(j=j), dn.format(j=j)
        return f"CASE WHEN {d} > {u} AND {d} > 0 THEN {d} ELSE 0.0 END"

    def tr(j: str) -> str:
        return f"greatest(lh[{j}], lc[{j}-1]) - least(ll[{j}], lc[{j}-1])"

    adx_states = f"""
    list_transform(generate_series(1, len(lc)), i ->
      CASE WHEN i <= {n} THEN NULL ELSE
        list_reduce(
          list_prepend(
            [{lfsum(f"list_transform(generate_series(2, {n + 1}), j -> {tr('j')})")} / {n}.0,
             {lfsum(f"list_transform(generate_series(2, {n + 1}), j -> {pdm('j')})")} / {n}.0,
             {lfsum(f"list_transform(generate_series(2, {n + 1}), j -> {mdm('j')})")} / {n}.0],
            list_transform(generate_series({n + 2}, i), k ->
              [{tr('k')}, {pdm('k')}, {mdm('k')}])),
          (acc, v) -> [acc[1] * (1.0 - 1.0/{n}.0) + v[1] * (1.0/{n}.0),
                       acc[2] * (1.0 - 1.0/{n}.0) + v[2] * (1.0/{n}.0),
                       acc[3] * (1.0 - 1.0/{n}.0) + v[3] * (1.0/{n}.0)])
      END)"""

    adx_list = f"""
    list_transform(generate_series(1, len(pdi)), i ->
      CASE WHEN i < {2 * n} THEN NULL ELSE
        list_reduce(
          list_prepend({lfsum(f'list_transform(generate_series({n + 1}, {2 * n}), j -> dx[j])')} / {n}.0,
                       list_transform(generate_series({2 * n + 1}, i), k -> dx[k])),
          (acc, v) -> acc * (1.0 - 1.0/{n}.0) + v * (1.0/{n}.0))
      END)"""

    return f"""
WITH {BARS_CTE},
g AS (
  SELECT ticker,
         list(window_start ORDER BY window_start) AS wss,
         list(adj_close ORDER BY window_start) AS lst,
         list(high ORDER BY window_start) AS lh,
         list(low ORDER BY window_start) AS ll,
         list(close ORDER BY window_start) AS lc
  FROM bars GROUP BY ticker
),
wst AS (SELECT *, {wilder_states} AS wstates FROM g),
mc AS (SELECT *, {macd_list} AS macd FROM wst),
hl AS (SELECT *, {hist_list} AS hist FROM mc),
ast AS (SELECT *, {adx_states} AS astates FROM hl),
pq AS (
  SELECT *,
    list_transform(astates, q -> CASE WHEN q IS NULL THEN NULL
      WHEN {n}.0*q[1] = 0 THEN 0.0 ELSE 100.0 * ({n}.0*q[2]) / ({n}.0*q[1]) END) AS pdi,
    list_transform(astates, q -> CASE WHEN q IS NULL THEN NULL
      WHEN {n}.0*q[1] = 0 THEN 0.0 ELSE 100.0 * ({n}.0*q[3]) / ({n}.0*q[1]) END) AS mdi
  FROM ast
),
dxl AS (
  SELECT *,
    list_transform(generate_series(1, len(pdi)), i ->
      CASE WHEN pdi[i] IS NULL THEN NULL
           WHEN pdi[i] + mdi[i] = 0 THEN 0.0
           ELSE 100.0 * abs(pdi[i] - mdi[i]) / (pdi[i] + mdi[i]) END) AS dx
  FROM pq
),
ax AS (SELECT *, {adx_list} AS adxl FROM dxl),
u AS (
  SELECT ticker,
         unnest(wss) AS window_start,
         unnest(lst) AS adj_close,
         unnest(list_transform(wstates, q ->
           CASE WHEN q IS NULL THEN NULL WHEN q[1] + q[2] = 0 THEN 0.0
                ELSE 100.0 * q[1] / (q[1] + q[2]) END)) AS raw_rsi,
         unnest(list_transform(wstates, q ->
           CASE WHEN q IS NULL THEN NULL WHEN q[1] + q[2] = 0 THEN 0.0
                ELSE 100.0 * (q[1] - q[2]) / (q[1] + q[2]) END)) AS raw_cmo,
         unnest(hist) AS raw_hist,
         unnest(adxl) AS raw_adx,
         unnest(pdi) AS raw_pdi, unnest(mdi) AS raw_mdi
  FROM ax
),
f AS (
  SELECT concat(ticker, '-0') AS ticker, window_start,
         adj_close AS close_price,
         {rocps},
         {R6('raw_rsi / 100.0')} AS rsi,
         {R6('raw_cmo / 100.0')} AS cmo,
         {R6('raw_hist / 10.0')} AS macd_hist,
         {R6('raw_adx / 100.0')} AS adx,
         {R6('(raw_pdi - raw_mdi) / 100.0')} AS adx_hist
  FROM u
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
)
SELECT * FROM f
WHERE rsi IS NOT NULL AND cmo IS NOT NULL AND macd_hist IS NOT NULL
  AND adx IS NOT NULL AND adx_hist IS NOT NULL AND rocp_1 IS NOT NULL
  AND rocp_2 IS NOT NULL AND rocp_3 IS NOT NULL AND rocp_4 IS NOT NULL
  AND rocp_5 IS NOT NULL
"""


SQL_RECURSIVE_FAMILY = _recursive_family_oracle_sql()


def _round_indicators(out: DataFrame) -> DataFrame:
    """6dp floor-rounding convention on every computed indicator
    column (matches the DuckDB oracles)."""
    skip = {"window_start", "close_price", "ticker"}
    return out.withColumns(
        {c: _rc(F.col(c)) for c in out.columns if c not in skip}
    )


def _q_recursive(features: list[str]) -> Callable[[SparkSession, str], DataFrame]:
    """Full indicator frame over the events-as-bars series with the
    recursive (Wilder/EMA) families restricted to ``features``."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_indicators_etl_spark.config import IndicatorConfig
        from stock_indicators_etl_spark.operators.pipeline import generate_indicators

        cfg = IndicatorConfig(momentum_features=features)
        out = generate_indicators(
            events_as_bars(spark, sf_dir), cfg, assume_regular=True
        )
        return _round_indicators(out)

    return run


# ---------------------------------------------------------------------------
# Composed full-pipeline oracle: grid stages + the recursive family
# (segmentation and gap-fill are integer-exact, interpolation is a
# single shared IEEE expression, and the Wilder/EMA recursions replay
# bit-identically — so the ENTIRE pipeline hash-compares)
# ---------------------------------------------------------------------------

PW_STEP_S = 600
PW_STEP_NS = PW_STEP_S * NS


def _grid_pipeline(spark: SparkSession, sf_dir: str, **cfg) -> DataFrame:
    """Full pipeline (segment → gap-fill → interpolate → indicators →
    assembly → dropna) on events bucketed per event_type to the
    10-minute grid (dense enough that segments survive the min-2-rows
    rule)."""
    from stock_indicators_etl_spark.config import IndicatorConfig
    from stock_indicators_etl_spark.operators.pipeline import generate_indicators

    mb = minute_bars(spark, sf_dir, step_s=PW_STEP_S, key="event_type").withColumnRenamed(
        "price", "adj_close"
    )
    bars = (
        mb.withColumn("close", F.col("adj_close"))
        .withColumn("high", F.col("adj_close") + F.lit(1.0))
        .withColumn("low", F.col("adj_close") - F.lit(1.0))
        .withColumn("volume", F.lit(1.0))
    )
    steps = (PW_STEP_S, 2 * PW_STEP_S, 3 * PW_STEP_S)
    out = generate_indicators(
        bars, IndicatorConfig(grid_step_s=PW_STEP_S, allowed_gaps_s=steps, **cfg)
    )
    return _round_indicators(out)


def q_pipeline_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid pipeline restricted to the recursive families — every
    stage of which is bit-reproducible in the DuckDB oracle."""
    return _grid_pipeline(
        spark, sf_dir, momentum_features=["rsi", "cmo", "macd", "adx"]
    )


def q_indicator_pipeline_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid pipeline with every indicator, hash-checked end-to-end
    against a full DuckDB list-lambda replay."""
    return _grid_pipeline(spark, sf_dir)


def _interp_sql(c: str) -> str:
    """Linear-interpolation blend for column ``c`` (mirrors
    ``timegrid.interpolate_linear``'s expression exactly)."""
    pv = f"last_value({c} IGNORE NULLS) OVER wb"
    nv = f"first_value({c} IGNORE NULLS) OVER wf"
    pt = f"last_value(CASE WHEN {c} IS NOT NULL THEN window_start END IGNORE NULLS) OVER wb"
    nt = f"first_value(CASE WHEN {c} IS NOT NULL THEN window_start END IGNORE NULLS) OVER wf"
    return (
        f"CASE WHEN {c} IS NOT NULL THEN {c} "
        f"WHEN {pv} IS NULL THEN {nv} "
        f"WHEN {nv} IS NULL THEN {pv} "
        f"ELSE {pv} + ({nv} - {pv}) * (CAST(window_start - {pt} AS DOUBLE) / CAST({nt} - {pt} AS DOUBLE)) END"
    )


def _pipeline_wilder_oracle_sql(n: int = 14, full: bool = False) -> str:
    """``full=False``: recursive families only. ``full=True``: the
    whole default 9-feature pipeline — the rolling indicators (MFI /
    ULTOSC / AROONOSC / PPO / STOCHF) are added as window functions
    over the interpolated grid and joined to the recursion outputs."""
    step = PW_STEP_NS
    gaps = f"({PW_STEP_S}, {2 * PW_STEP_S}, {3 * PW_STEP_S})"
    rocps = ",\n         ".join(_rocp_sql_term(k) for k in range(1, 6))

    # --- recursive-state lambda templates (same shapes as the
    # single-feature oracles, over per-sub_ticker interpolated lists)
    def lfsum(items: str) -> str:
        return f"list_reduce(list_prepend(0.0, {items}), (x, y) -> x + y)"

    wilder_states = f"""
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i <= {n} THEN NULL ELSE
        list_reduce(
          list_prepend(
            [{lfsum(f'list_transform(generate_series(2, {n + 1}), j -> greatest(lst[j] - lst[j-1], 0.0))')} / {n}.0,
             {lfsum(f'list_transform(generate_series(2, {n + 1}), j -> greatest(lst[j-1] - lst[j], 0.0))')} / {n}.0],
            list_transform(generate_series({n + 2}, i), k ->
              [greatest(lst[k] - lst[k-1], 0.0), greatest(lst[k-1] - lst[k], 0.0)])),
          (acc, v) -> [acc[1] * (1.0 - 1.0/{n}.0) + v[1] * (1.0/{n}.0),
                       acc[2] * (1.0 - 1.0/{n}.0) + v[2] * (1.0/{n}.0)])
      END)"""

    # both EMAs seed at position 26 with their trailing-window SMA and
    # recurse from lst[27] — TA_INT_MACD semantics (ADVICE r1 high)
    ema = (
        "list_reduce(list_prepend("
        + lfsum("list_transform(generate_series({j0}, 26), j -> lst[j])")
        + " / {nn}.0, list_transform(generate_series(27, i), k -> lst[k])), "
        "(acc, v) -> acc * (1.0 - {kk}) + v * {kk})"
    )
    ema12 = ema.format(j0=15, nn=12, kk="0.15")
    ema26 = ema.format(j0=1, nn=26, kk="0.075")
    macd_list = f"""
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i < 26 THEN NULL ELSE {ema12} - {ema26} END)"""
    hist_list = f"""
    list_transform(generate_series(1, len(lst)), i ->
      CASE WHEN i <= 33 THEN NULL ELSE
        macd[i] -
        list_reduce(
          list_prepend({lfsum('list_transform(generate_series(26, 34), j -> macd[j])')} / 9.0,
                       list_transform(generate_series(35, i), k -> macd[k])),
          (acc, v) -> acc * (1.0 - 2.0/(9.0 + 1.0)) + v * (2.0/(9.0 + 1.0)))
      END)"""

    up = "lh[{j}]-lh[{j}-1]"
    dn = "ll[{j}-1]-ll[{j}]"

    def pdm(j: str) -> str:
        u, d = up.format(j=j), dn.format(j=j)
        return f"CASE WHEN {u} > {d} AND {u} > 0 THEN {u} ELSE 0.0 END"

    def mdm(j: str) -> str:
        u, d = up.format(j=j), dn.format(j=j)
        return f"CASE WHEN {d} > {u} AND {d} > 0 THEN {d} ELSE 0.0 END"

    def tr(j: str) -> str:
        return f"greatest(lh[{j}], lc[{j}-1]) - least(ll[{j}], lc[{j}-1])"

    adx_states = f"""
    list_transform(generate_series(1, len(lc)), i ->
      CASE WHEN i <= {n} THEN NULL ELSE
        list_reduce(
          list_prepend(
            [{lfsum(f"list_transform(generate_series(2, {n + 1}), j -> {tr('j')})")} / {n}.0,
             {lfsum(f"list_transform(generate_series(2, {n + 1}), j -> {pdm('j')})")} / {n}.0,
             {lfsum(f"list_transform(generate_series(2, {n + 1}), j -> {mdm('j')})")} / {n}.0],
            list_transform(generate_series({n + 2}, i), k ->
              [{tr('k')}, {pdm('k')}, {mdm('k')}])),
          (acc, v) -> [acc[1] * (1.0 - 1.0/{n}.0) + v[1] * (1.0/{n}.0),
                       acc[2] * (1.0 - 1.0/{n}.0) + v[2] * (1.0/{n}.0),
                       acc[3] * (1.0 - 1.0/{n}.0) + v[3] * (1.0/{n}.0)])
      END)"""

    adx_list = f"""
    list_transform(generate_series(1, len(pdi)), i ->
      CASE WHEN i < {2 * n} THEN NULL ELSE
        list_reduce(
          list_prepend({lfsum(f'list_transform(generate_series({n + 1}, {2 * n}), j -> dx[j])')} / {n}.0,
                       list_transform(generate_series({2 * n + 1}, i), k -> dx[k])),
          (acc, v) -> acc * (1.0 - 1.0/{n}.0) + v * (1.0/{n}.0))
      END)"""

    vol_b = ", 1.0 AS volume" if full else ""
    vol_gf_obs = ", volume" if full else ""
    vol_gf_gap = ", NULL" if full else ""
    vol_ip = f", {_interp_sql('volume')} AS volume" if full else ""

    roll_ctes = ""
    roll_join = ""
    roll_cols = ""
    roll_where = ""
    if full:
        roll_ctes = """
r0 AS (
  SELECT sub_ticker, window_start, adj_close, close, high, low, volume,
         row_number() OVER w AS rn,
         (high + low + close) / 3.0 AS tp,
         lag((high + low + close) / 3.0) OVER w AS prev_tp,
         lag(close) OVER w AS prev_c
  FROM ip
  WINDOW w AS (PARTITION BY sub_ticker ORDER BY window_start)
),
r1 AS (
  SELECT *,
         CASE WHEN prev_tp IS NULL THEN NULL WHEN tp > prev_tp THEN tp * volume ELSE 0.0 END AS pos_f,
         CASE WHEN prev_tp IS NULL THEN NULL WHEN tp < prev_tp THEN tp * volume ELSE 0.0 END AS neg_f,
         close - least(low, prev_c) AS bp,
         greatest(high, prev_c) - least(low, prev_c) AS tr_
  FROM r0
),
r2 AS (
  SELECT sub_ticker, window_start, rn, close,
         sum(pos_f) OVER fr14 AS pos14, sum(neg_f) OVER fr14 AS neg14,
         sum(bp) OVER fr7 AS bp7, sum(tr_) OVER fr7 AS tr7,
         sum(bp) OVER fr14 AS bp14, sum(tr_) OVER fr14 AS tr14,
         sum(bp) OVER fr28 AS bp28, sum(tr_) OVER fr28 AS tr28,
         (max(struct_pack(v := high, i := rn)) OVER fr26).i AS idx_hi,
         (max(struct_pack(v := -low, i := rn)) OVER fr26).i AS idx_lo,
         avg(adj_close) OVER fr12 AS sma12,
         avg(adj_close) OVER fr26 AS sma26,
         min(low) OVER fr5 AS ll5, max(high) OVER fr5 AS hh5
  FROM r1
  WINDOW fr5 AS (PARTITION BY sub_ticker ORDER BY window_start ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         fr7 AS (PARTITION BY sub_ticker ORDER BY window_start ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         fr12 AS (PARTITION BY sub_ticker ORDER BY window_start ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
         fr14 AS (PARTITION BY sub_ticker ORDER BY window_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         fr26 AS (PARTITION BY sub_ticker ORDER BY window_start ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         fr28 AS (PARTITION BY sub_ticker ORDER BY window_start ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
),
r3 AS (
  SELECT sub_ticker, window_start, rn,
    CASE WHEN rn > 14 THEN (CASE WHEN pos14 + neg14 < 1.0 THEN 0.0 ELSE 100.0 * pos14 / (pos14 + neg14) END) END AS raw_mfi,
    CASE WHEN rn > 28 THEN 100.0 * (4.0 * (CASE WHEN tr7 = 0 THEN 0.0 ELSE bp7 / tr7 END)
                                  + 2.0 * (CASE WHEN tr14 = 0 THEN 0.0 ELSE bp14 / tr14 END)
                                  + (CASE WHEN tr28 = 0 THEN 0.0 ELSE bp28 / tr28 END)) / 7.0 END AS raw_ultosc,
    CASE WHEN rn > 25 THEN 100.0 * CAST(idx_hi - idx_lo AS DOUBLE) / 25.0 END AS raw_aroon,
    CASE WHEN rn >= 26 THEN (CASE WHEN sma26 = 0 THEN 0.0 ELSE 100.0 * (sma12 - sma26) / sma26 END) END AS raw_ppo,
    CASE WHEN rn >= 5 THEN (CASE WHEN hh5 - ll5 = 0 THEN 0.0 ELSE 100.0 * (close - ll5) / (hh5 - ll5) END) END AS raw_k
  FROM r2
),
roll AS (
  SELECT sub_ticker, window_start, raw_mfi, raw_ultosc, raw_aroon, raw_ppo,
         CASE WHEN rn >= 7 THEN raw_k END AS raw_sok,
         CASE WHEN rn >= 7 THEN avg(raw_k) OVER (PARTITION BY sub_ticker ORDER BY window_start
                                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END AS raw_sod
  FROM r3
),"""
        roll_join = "JOIN roll ON roll.sub_ticker = u.ticker AND roll.window_start = u.window_start"
        roll_cols = f""",
         {R6('raw_mfi / 100.0')} AS mfi,
         {R6('raw_ultosc / 100.0')} AS ultosc,
         {R6('raw_aroon / 100.0')} AS aroonosc,
         {R6('raw_ppo / 100.0')} AS ppo,
         {R6('raw_sok / 100.0')} AS sok,
         {R6('(raw_sok - raw_sod) / 100.0')} AS sok_hist"""
        roll_where = (
            " AND mfi IS NOT NULL AND ultosc IS NOT NULL AND aroonosc IS NOT NULL"
            " AND ppo IS NOT NULL AND sok IS NOT NULL AND sok_hist IS NOT NULL"
        )

    return f"""
WITH m AS (
  SELECT CAST(event_type AS VARCHAR) AS ticker,
         (epoch_ns(ts) // {step}) * {step} AS window_start,
         {R6('avg(value)')} AS price
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT ticker, window_start, price AS adj_close, price AS close,
         price + 1.0 AS high, price - 1.0 AS low{vol_b}
  FROM m
),
gseg AS (
  SELECT *, (window_start - lag(window_start)
             OVER (PARTITION BY ticker ORDER BY window_start)) / {NS} AS gap_s
  FROM b
),
s1 AS (
  SELECT *, sum(CASE WHEN gap_s IS NOT NULL AND gap_s NOT IN {gaps} THEN 1 ELSE 0 END)
            OVER (PARTITION BY ticker ORDER BY window_start ROWS UNBOUNDED PRECEDING) AS raw_seg
  FROM gseg
),
c1 AS (SELECT *, count(*) OVER (PARTITION BY ticker, raw_seg) AS seg_n FROM s1),
segf AS (
  SELECT *, concat(ticker, '-', CAST(dense_rank()
            OVER (PARTITION BY ticker ORDER BY raw_seg) - 1 AS VARCHAR)) AS sub_ticker
  FROM (SELECT * FROM c1 WHERE seg_n >= 2)
),
gf AS (
  SELECT sub_ticker, window_start, adj_close, close, high, low{vol_gf_obs} FROM segf
  UNION ALL
  SELECT sub_ticker,
         unnest(generate_series(prev_ws + {step}, window_start - {step}, {step})) AS window_start,
         NULL, NULL, NULL, NULL{vol_gf_gap}
  FROM (
    SELECT sub_ticker, window_start,
           lag(window_start) OVER (PARTITION BY sub_ticker ORDER BY window_start) AS prev_ws
    FROM segf
  )
  WHERE prev_ws IS NOT NULL AND window_start - prev_ws > {step}
),
ip AS (
  SELECT sub_ticker, window_start,
         {_interp_sql('adj_close')} AS adj_close,
         {_interp_sql('close')} AS close,
         {_interp_sql('high')} AS high,
         {_interp_sql('low')} AS low{vol_ip}
  FROM gf
  WINDOW wb AS (PARTITION BY sub_ticker ORDER BY window_start
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY sub_ticker ORDER BY window_start
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),{roll_ctes}
lists AS (
  SELECT sub_ticker,
         list(window_start ORDER BY window_start) AS wss,
         list(adj_close ORDER BY window_start) AS lst,
         list(high ORDER BY window_start) AS lh,
         list(low ORDER BY window_start) AS ll,
         list(close ORDER BY window_start) AS lc
  FROM ip GROUP BY sub_ticker
),
wst AS (SELECT *, {wilder_states} AS wstates FROM lists),
mc AS (SELECT *, {macd_list} AS macd FROM wst),
hl AS (SELECT *, {hist_list} AS hist FROM mc),
ast AS (SELECT *, {adx_states} AS astates FROM hl),
pq AS (
  SELECT *,
    list_transform(astates, q -> CASE WHEN q IS NULL THEN NULL
      WHEN {n}.0*q[1] = 0 THEN 0.0 ELSE 100.0 * ({n}.0*q[2]) / ({n}.0*q[1]) END) AS pdi,
    list_transform(astates, q -> CASE WHEN q IS NULL THEN NULL
      WHEN {n}.0*q[1] = 0 THEN 0.0 ELSE 100.0 * ({n}.0*q[3]) / ({n}.0*q[1]) END) AS mdi
  FROM ast
),
dxl AS (
  SELECT *,
    list_transform(generate_series(1, len(pdi)), i ->
      CASE WHEN pdi[i] IS NULL THEN NULL
           WHEN pdi[i] + mdi[i] = 0 THEN 0.0
           ELSE 100.0 * abs(pdi[i] - mdi[i]) / (pdi[i] + mdi[i]) END) AS dx
  FROM pq
),
ax AS (SELECT *, {adx_list} AS adxl FROM dxl),
u AS (
  SELECT sub_ticker AS ticker,
         unnest(wss) AS window_start,
         unnest(lst) AS adj_close,
         unnest(list_transform(wstates, q ->
           CASE WHEN q IS NULL THEN NULL WHEN q[1] + q[2] = 0 THEN 0.0
                ELSE 100.0 * q[1] / (q[1] + q[2]) END)) AS raw_rsi,
         unnest(list_transform(wstates, q ->
           CASE WHEN q IS NULL THEN NULL WHEN q[1] + q[2] = 0 THEN 0.0
                ELSE 100.0 * (q[1] - q[2]) / (q[1] + q[2]) END)) AS raw_cmo,
         unnest(hist) AS raw_hist,
         unnest(adxl) AS raw_adx,
         unnest(pdi) AS raw_pdi, unnest(mdi) AS raw_mdi
  FROM ax
),
f AS (
  SELECT ticker, u.window_start AS window_start, adj_close AS close_price,
         {rocps},
         {R6('raw_rsi / 100.0')} AS rsi,
         {R6('raw_cmo / 100.0')} AS cmo,
         {R6('raw_hist / 10.0')} AS macd_hist,
         {R6('raw_adx / 100.0')} AS adx,
         {R6('(raw_pdi - raw_mdi) / 100.0')} AS adx_hist{roll_cols}
  FROM u {roll_join}
  WINDOW w AS (PARTITION BY ticker ORDER BY u.window_start)
)
SELECT * FROM f
WHERE rsi IS NOT NULL AND cmo IS NOT NULL AND macd_hist IS NOT NULL
  AND adx IS NOT NULL AND adx_hist IS NOT NULL AND rocp_1 IS NOT NULL
  AND rocp_2 IS NOT NULL AND rocp_3 IS NOT NULL AND rocp_4 IS NOT NULL
  AND rocp_5 IS NOT NULL{roll_where}
"""


SQL_PIPELINE_WILDER = _pipeline_wilder_oracle_sql()
SQL_INDICATOR_PIPELINE_GRID = _pipeline_wilder_oracle_sql(full=True)

# ---------------------------------------------------------------------------
# W3: regularity check (real, not the reference's inert one)
# ---------------------------------------------------------------------------


def q_regularity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-to-previous ≠ 60s violations on the raw minute grid (W3);
    the reference constructs this check but never raises it
    (``stockdata/indicators.py:25-38,256-261``) — here it's a real
    operator returning the violating rows."""
    from stock_indicators_etl_spark.operators.timegrid import regularity_violations

    out = regularity_violations(
        minute_bars(spark, sf_dir), key_cols=("ticker",), step_ns=STEP_NS
    )
    return out.select(
        "ticker", "window_start", F.col("_gap_ns").alias("gap_ns")
    )


SQL_REGULARITY_CHECK = f"""
WITH {MINUTE_BARS_CTE()},
g AS (
  SELECT ticker, window_start,
         window_start - lag(window_start)
             OVER (PARTITION BY ticker ORDER BY window_start) AS gap_ns
  FROM m
)
SELECT ticker, window_start, gap_ns
FROM g WHERE gap_ns IS NOT NULL AND gap_ns <> {STEP_NS}
"""

# ---------------------------------------------------------------------------
# P4: unpivot / melt (wide OHLCV → long rows)
# ---------------------------------------------------------------------------

_MELT_FIELDS = ["adj_close", "close", "high", "low", "volume"]


def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide bar columns → long (ticker, window_start, field, value)
    rows (P4 — the reference melts yfinance's column-MultiIndex at
    ``data_download_yahoo.py:27-64``). Native ``stack`` generator:
    no shuffle, runs inside the scan's codegen stage."""
    bars = events_as_bars(spark, sf_dir)
    stack_args = ", ".join(f"'{f}', {f}" for f in _MELT_FIELDS)
    return bars.select(
        "ticker",
        "window_start",
        F.expr(f"stack({len(_MELT_FIELDS)}, {stack_args}) AS (field, value)"),
    )


SQL_UNPIVOT_MELT = f"""
WITH {BARS_CTE}
{" UNION ALL ".join(
    f"SELECT ticker, window_start, '{f}' AS field, {f} AS value FROM bars"
    for f in _MELT_FIELDS
)}
"""

# ---------------------------------------------------------------------------
# J2: ticker-universe restriction (broadcast semi join)
# ---------------------------------------------------------------------------


def q_universe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restrict bars to a small ticker universe (J2 — the reference's
    S&P-500 list × bars). The universe side is broadcast: no shuffle
    of the big fact side, the standard 100 TB shape for dimension
    filters. Universe here = every 7th user_id (stands in for the CSV
    ticker file)."""
    bars = events_as_bars(spark, sf_dir)
    universe = (
        bars.select("ticker")
        .distinct()
        .filter(F.col("ticker").cast("long") % 7 == 0)
    )
    return (
        bars.join(F.broadcast(universe), "ticker", "left_semi")
        .groupBy("ticker")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            _rc(F.avg("adj_close")).alias("avg_price"),
        )
    )


SQL_UNIVERSE_JOIN = f"""
WITH {BARS_CTE},
universe AS (
  SELECT DISTINCT ticker FROM bars WHERE CAST(ticker AS BIGINT) % 7 = 0
)
SELECT ticker, count(*) AS n_bars,
       {R6('avg(adj_close)')} AS avg_price
FROM bars
WHERE ticker IN (SELECT ticker FROM universe)
GROUP BY ticker
"""

# ---------------------------------------------------------------------------
# F3/F5/F6/F7: scalar time/string function bundle
# ---------------------------------------------------------------------------


def q_scalar_timefns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function bundle over events: date-string parts (F3),
    name normalization (F5), 19-digit ns sanity check (F6), next-day
    exclusive-end arithmetic (F7). All whole-stage-codegen
    expressions — no UDFs."""
    from stock_indicators_etl_spark.functions.timefns import (
        date_parts,
        next_day,
        ns_is_19_digits,
    )

    e = _events(spark, sf_dir)
    # NTZ-based date: session-timezone independent, matches DuckDB's
    # CAST(ts AS DATE) on the naive stored value.
    d = F.to_date(
        F.expr("timestampadd(MICROSECOND, ns DIV 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')")
    )
    yyyy, mm, dd = date_parts(d)
    return e.select(
        "event_id",
        F.col("ns"),
        yyyy.alias("yyyy"),
        mm.alias("mm"),
        dd.alias("dd"),
        next_day(d).cast("string").alias("next_day"),
        ns_is_19_digits(F.col("ns")).alias("ns_ok"),
        F.lower(F.replace(F.col("event_type"), F.lit("_"), F.lit(" "))).alias(
            "norm_type"
        ),
    )


SQL_SCALAR_TIMEFNS = """
SELECT event_id,
       (epoch_ns(ts) // 1000) * 1000 AS ns,
       strftime(CAST(ts AS DATE), '%Y') AS yyyy,
       strftime(CAST(ts AS DATE), '%m') AS mm,
       strftime(CAST(ts AS DATE), '%d') AS dd,
       strftime(CAST(ts AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d') AS next_day,
       length(CAST((epoch_ns(ts) // 1000) * 1000 AS VARCHAR)) = 19 AS ns_ok,
       lower(replace(event_type, '_', ' ')) AS norm_type
FROM events
"""

# ---------------------------------------------------------------------------
# as-of join (operators/asof.py; driver-registry extras — the external
# report caps at 50 entries, so this is checked via
# `scripts/check_oracle.py --extras` like the recursive singles)
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event joined to the most recent sparse snapshot at or
    before it: snapshots are per-(ticker, 10-min bucket) max-value
    rows, kept only for every 3rd bucket so matches genuinely reach
    backward across buckets and early rows are left-join NULLs. The
    oracle replays it with DuckDB's native ASOF LEFT JOIN — an
    independent implementation of the same semantics (inclusive
    ``l.ts >= r.ts``)."""
    from stock_indicators_etl_spark.operators.asof import asof_join

    B = 600 * NS
    e = _events(spark, sf_dir)
    left = e.select(
        F.col("user_id").cast("string").alias("ticker"),
        F.col("ns").alias("window_start"),
        F.col("value"),
    )
    snap = (
        left.withColumn("bucket", F.expr(f"window_start DIV {B}"))
        .filter(F.col("bucket") % 3 == 0)
        .groupBy("ticker", "bucket")
        .agg(F.max("value").alias("snap_val"))
        .select("ticker", (F.col("bucket") * B).alias("window_start"), "snap_val")
    )
    out = asof_join(left, snap, on="window_start", by=("ticker",), value_cols=["snap_val"])
    return out.select(
        "ticker",
        "window_start",
        _rc(F.col("value")).alias("value"),
        "window_start_r",
        _rc(F.col("snap_val_r")).alias("snap_val"),
    )


SQL_ASOF_JOIN = f"""
WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS ticker,
         epoch_ns(ts) AS window_start,
         value
  FROM events
),
snap AS (
  SELECT ticker,
         bucket * {600 * NS} AS window_start,
         max(value) AS snap_val
  FROM (SELECT ticker, window_start // {600 * NS} AS bucket, value FROM ev)
  WHERE bucket % 3 = 0
  GROUP BY 1, 2
)
SELECT l.ticker, l.window_start, {R6('l.value')} AS value,
       s.window_start AS window_start_r, {R6('s.snap_val')} AS snap_val
FROM ev l ASOF LEFT JOIN snap s
  ON l.ticker = s.ticker AND l.window_start >= s.window_start
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event joined to the sampled intervals containing it:
    every 50th event opens an interval of 1-7 grid steps. The Spark
    side is the binned equi-join (`operators/interval.py`); the oracle
    is DuckDB's plain inequality join — same semantics, independent
    plan."""
    from stock_indicators_etl_spark.operators.interval import interval_join

    B = 600 * NS
    e = _events(spark, sf_dir)
    pts = e.select(
        F.col("user_id").cast("string").alias("ticker"),
        F.col("ns").alias("window_start"),
        F.col("value"),
    )
    iv = e.filter(F.col("event_id") % 50 == 0).select(
        F.col("user_id").cast("string").alias("ticker"),
        F.col("ns").alias("iv_start"),
        (F.col("ns") + (F.col("event_id") % 7 + 1) * F.lit(B)).alias("iv_end"),
        F.col("event_id").alias("ival_id"),
    )
    out = interval_join(
        pts, iv, on="window_start", start_col="iv_start", end_col="iv_end",
        by=("ticker",), bucket_width=B,
    )
    return out.select(
        "ticker", "window_start", _rc(F.col("value")).alias("value"),
        "iv_start", "iv_end", "ival_id",
    )


SQL_INTERVAL_JOIN = f"""
WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS ticker,
         epoch_ns(ts) AS window_start,
         value, event_id
  FROM events
),
iv AS (
  SELECT ticker,
         window_start AS iv_start,
         window_start + (event_id % 7 + 1) * {600 * NS} AS iv_end,
         event_id AS ival_id
  FROM ev WHERE event_id % 50 = 0
)
SELECT p.ticker, p.window_start, {R6('p.value')} AS value,
       i.iv_start, i.iv_end, i.ival_id
FROM ev p JOIN iv i
  ON p.ticker = i.ticker
 AND p.window_start >= i.iv_start AND p.window_start < i.iv_end
"""


# ---------------------------------------------------------------------------
# funnel analysis (operators/funnel.py; driver-registry extra)
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WITHIN_NS = 2 * 86_400 * NS  # 2 days


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest strict-order view→click→purchase funnel per user with
    a 2-day completion bound (chained conditional-min plan; see
    :mod:`..operators.funnel`)."""
    from stock_indicators_etl_spark.operators.funnel import funnel_conversions

    return funnel_conversions(
        _events(spark, sf_dir), steps=FUNNEL_STEPS, within_ns=FUNNEL_WITHIN_NS
    )


SQL_FUNNEL = f"""
WITH e AS (
  SELECT user_id, event_type, (epoch_ns(ts) // 1000) * 1000 AS ns FROM events
),
f0 AS (
  SELECT user_id, min(ns) AS t_0 FROM e
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
n1 AS (
  SELECT e.user_id, min(e.ns) AS t_1
  FROM e JOIN f0 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ns > f0.t_0
  GROUP BY e.user_id
),
f1 AS (SELECT f0.user_id, t_0, t_1 FROM f0 LEFT JOIN n1 USING (user_id)),
n2 AS (
  SELECT e.user_id, min(e.ns) AS t_2
  FROM e JOIN f1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ns > f1.t_1
  GROUP BY e.user_id
),
f2 AS (SELECT f1.user_id, t_0, t_1, t_2 FROM f1 LEFT JOIN n2 USING (user_id))
SELECT user_id, t_0, t_1, t_2,
       COALESCE(t_2 IS NOT NULL AND (t_2 - t_0) <= {FUNNEL_WITHIN_NS}, FALSE) AS converted,
       CASE WHEN t_2 IS NOT NULL THEN t_2 - t_0 END AS duration_ns
FROM f2
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: two BIG-table joins (customer ⋈ orders ⋈
    lineitem — none broadcastable at scale, so the planner's
    SMJ/shuffle-hash choice and AQE sizing actually matter), segment +
    date filters pushed to all three scans, top-10 orders by revenue.

    The revenue sum folds in ``l_linenumber`` order (the repo's
    sorted-fold idiom) so Spark and DuckDB produce bit-identical
    doubles — an order-free float ``sum()`` would rank-flip near ties.
    """
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "l_linenumber",
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("v"),
        )
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        _rc(
            F.expr(
                "aggregate(sort_array(collect_list(struct(l_linenumber, v))), "
                "cast(0.0 as double), (acc, x) -> acc + x.v)"
            ),
            4,
        ).alias("revenue")
    )
    # Global top-10 via orderBy+limit → TakeOrderedAndProject (each
    # partition keeps its own top-10, the driver merges) — never a
    # single-partition window over every order-group. The rank is
    # assigned on the 10-row result, which is trivially small (the
    # link_prediction_scores pattern, operators/graph.py).
    top = agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "rk", "l_orderkey", "revenue", "o_orderdate", "o_orderpriority"
    )


SQL_SHIPPING_PRIORITY = f"""
WITH j AS (
  SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
         l_linenumber, l_extendedprice * (1.0 - l_discount) AS v
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < '1998-06-01'
    AND l_shipdate > '1998-06-01'
),
agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         {R4('list_reduce(list_prepend(0.0, list(v ORDER BY l_linenumber)), (x, y) -> x + y)')} AS revenue
  FROM j GROUP BY 1, 2, 3
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rk
  FROM agg
)
SELECT rk, l_orderkey, revenue, o_orderdate, o_orderpriority
FROM rk WHERE rk <= 10
"""


VS_NATION_A, VS_NATION_B = "NATION_1", "NATION_2"


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional trade volume between two nations
    by ship year. Two broadcast dim joins (nation → supplier, nation →
    customer — pre-filtered to the two nations so the big sides are
    semi-reduced before the big-big joins) around the lineitem ⋈
    orders ⋈ customer spine.

    Revenue sums integer CENTS (``floor(v·10⁴ + 0.5)`` per row, then
    a BIGINT sum): associative and order-free, so it is bit-exact
    cross-engine WITHOUT the sorted-fold trick — the scale-correct
    idiom for large groups where ``collect_list`` would not fit."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").filter(
        F.col("n_name").isin(VS_NATION_A, VS_NATION_B)
    )
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("long")
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            cents.alias("cents"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            (F.sum("cents").cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_VOLUME_SHIPPING = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('{VS_NATION_A}', '{VS_NATION_B}')
  AND n2.n_name IN ('{VS_NATION_A}', '{VS_NATION_B}')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
GROUP BY 1, 2, 3
"""


LARGE_ORDER_QTY = 200


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders whose total lineitem
    quantity exceeds a threshold — a big-table self-referential
    HAVING (aggregate lineitem, filter, then rejoin the survivors to
    orders/customer/lineitem). The qualifying-orders frame is tiny
    after the filter, so both rejoins broadcast it; the quantity sum
    is exact (integer-valued doubles), so no rounding discipline is
    needed."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_ORDER_QTY)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


SQL_LARGE_ORDERS = f"""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {LARGE_ORDER_QTY}
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — orders placed in 1996 H1
    with at least one line item shipped > 90 days after the order
    date, counted by priority. Expressed in Spark SQL so Catalyst's
    subquery planning does the work: the EXISTS decorrelates to a
    LEFT SEMI join on ``l_orderkey`` with the date comparison as the
    join condition — no per-row subquery execution, one semi-join
    shuffle, both date filters pushed to the scans."""
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "q4_orders"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q4_lineitem"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM q4_orders o
        WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
          AND EXISTS (
            SELECT 1 FROM q4_lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS
          )
        GROUP BY o_orderpriority
        """
    )


SQL_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery + NOT EXISTS — customers with
    above-average balance and no orders since 2000-06-01, grouped by
    a pseudo country code (c_custkey mod 10). Catalyst plans the
    scalar subquery as a 1-row broadcast and the NOT EXISTS as a LEFT
    ANTI join.

    The average-balance threshold uses integer cents with FLOOR
    integer division so the cutoff is bit-identical cross-engine — a
    float AVG could flip boundary customers on last-ulp summation
    differences. Spark's ``DIV`` truncates toward zero while DuckDB's
    ``//`` floors, so both sides first subtract the non-negative
    remainder ``((a % b) + b) % b`` (``%`` follows the dividend's sign
    in both engines), making the division exact and therefore
    identical under either rounding rule even when ``sum(cents)`` is
    negative (c_acctbal can be)."""
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView(
        "q22_customer"
    )
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "q22_orders"
    )
    return spark.sql(
        """
        WITH cust AS (
          SELECT c_custkey, c_custkey % 10 AS cgrp,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
          FROM q22_customer
        )
        SELECT cgrp,
               count(*) AS n_custs,
               CAST(sum(cents) AS DOUBLE) / 100.0 AS total_bal
        FROM cust c
        WHERE c.cents > (
            SELECT (sum(cents) - ((sum(cents) % count(*)) + count(*)) % count(*))
                   DIV count(*)
            FROM cust
          )
          AND NOT EXISTS (
            SELECT 1 FROM q22_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= '2000-06-01'
          )
        GROUP BY cgrp
        """
    )


SQL_DORMANT_CUSTOMERS = """
WITH cust AS (
  SELECT c_custkey, c_custkey % 10 AS cgrp,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
)
SELECT cgrp,
       count(*) AS n_custs,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS total_bal
FROM cust c
WHERE c.cents > (
    SELECT (sum(cents) - ((sum(cents) % count(*)) + count(*)) % count(*))
           // count(*)
    FROM cust
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= '2000-06-01'
  )
GROUP BY cgrp
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build over the customer-priority change stream:
    collapse each customer's order-priority sequence into validity
    intervals (operators/scd.py — gaps-and-islands: two window passes
    on one sort + one combinable groupBy, no joins)."""
    from stock_indicators_etl_spark.operators.scd import scd2_history

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = scd2_history(o, "o_custkey", "o_orderpriority", "o_orderdate")
    return out.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "version",
    )


SQL_SCD2_HISTORY = """
WITH flagged AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                OR lag(o_orderpriority) OVER w <> o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderpriority)
),
seg AS (
  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderpriority
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS _seg
  FROM flagged
),
runs AS (
  SELECT o_custkey, _seg,
         min(o_orderpriority) AS o_orderpriority,
         min(o_orderdate) AS vf
  FROM seg GROUP BY o_custkey, _seg
)
SELECT o_custkey, o_orderpriority,
       strftime(vf, '%Y-%m-%d') AS valid_from,
       strftime(lead(vf) OVER (PARTITION BY o_custkey ORDER BY _seg),
                '%Y-%m-%d') AS valid_to,
       _seg AS version
FROM runs
"""


def q_ols_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value (cents) on event_id: integer-exact
    BIGINT sums, then slope/intercept/r as identical IEEE expressions
    over those integers — bit-exact cross-engine at any group size
    (operators/stats.py)."""
    from stock_indicators_etl_spark.operators.stats import ols_by_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    return ols_by_key(ev, "event_type", "event_id", "value")


SQL_OLS_BY_KEY = """
WITH q AS (
  SELECT event_type,
         CAST(event_id AS BIGINT) AS x,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM q GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r
FROM s
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag winsorization of l_extendedprice: exact 5/95
    percentile bounds (6dp-rounded), clip counts, and the clipped sum
    in integer cents (operators/stats.py)."""
    from stock_indicators_etl_spark.operators.stats import winsorize_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    return winsorize_stats(li, "l_returnflag", "l_extendedprice")


SQL_WINSORIZE = """
WITH bounds AS (
  SELECT l_returnflag,
         floor(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) * 1000000 + 0.5) / 1000000 AS lo_bound,
         floor(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) * 1000000 + 0.5) / 1000000 AS hi_bound
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       count(*) AS n,
       CAST(sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) < b.lo_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) > b.hi_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       min(b.lo_bound) AS lo_bound,
       min(b.hi_bound) AS hi_bound,
       CAST(sum(CAST(floor(greatest(least(CAST(l.l_extendedprice AS DOUBLE), b.hi_bound), b.lo_bound) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_clipped_cents
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
"""


def q_winsorize_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization with EXACT two-pass-histogram bounds
    (quantile_disc 5%/95% at ceil(n·p) ranks — no per-key sort, no
    rank error): the production-scale variant that keeps a full
    bit-exact oracle (operators/stats.winsorize_stats_hist)."""
    from stock_indicators_etl_spark.operators.stats import winsorize_stats_hist

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    return winsorize_stats_hist(li, "l_returnflag", "l_extendedprice")


SQL_WINSORIZE_HIST = """
WITH c AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
bounds AS (
  SELECT l_returnflag,
         CAST(quantile_disc(cents, 0.05) AS DOUBLE) / 100.0 AS lo_bound,
         CAST(quantile_disc(cents, 0.95) AS DOUBLE) / 100.0 AS hi_bound
  FROM c GROUP BY l_returnflag
)
SELECT c.l_returnflag,
       count(*) AS n,
       CAST(sum(CASE WHEN c.v < b.lo_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN c.v > b.hi_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       min(b.lo_bound) AS lo_bound,
       min(b.hi_bound) AS hi_bound,
       CAST(sum(CAST(floor(greatest(least(c.v, b.hi_bound), b.lo_bound) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS sum_clipped_cents
FROM c JOIN bounds b ON c.l_returnflag = b.l_returnflag
GROUP BY c.l_returnflag
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AGGREGATE subquery — revenue
    from line items whose quantity is below 20 % of their part's
    average, per brand. Catalyst decorrelates the scalar aggregates
    into one grouped-aggregate join (no per-row subquery); Spark's
    MergeScalarSubqueries fuses the count and sum over the same
    correlated scan.

    Exactness: quantities are integral, so ``q < 0.2·avg(q)`` is the
    INTEGER inequality ``5·q·count < sum`` — no float threshold can
    ulp-flip a boundary row cross-engine. Revenue in integer cents."""
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView(
        "q17_part"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q17_lineitem"
    )
    return spark.sql(
        """
        SELECT p.p_brand,
               count(*) AS n_small,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS revenue
        FROM q17_lineitem l JOIN q17_part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
          AND 5 * CAST(floor(l.l_quantity + 0.5) AS BIGINT)
              * (SELECT count(*) FROM q17_lineitem l2
                 WHERE l2.l_partkey = l.l_partkey)
              < (SELECT sum(CAST(floor(l2.l_quantity + 0.5) AS BIGINT))
                 FROM q17_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        """
    )


SQL_SMALL_QTY_REVENUE = """
SELECT p.p_brand,
       count(*) AS n_small,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
  AND 5 * CAST(floor(l.l_quantity + 0.5) AS BIGINT)
      * (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT CAST(sum(CAST(floor(l2.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated on the SAME
    table — for multi-supplier orders, count per supplier the line
    items where that supplier shipped LAST (another supplier exists
    on the order; none shipped later). Catalyst decorrelates the
    pair into one LEFT SEMI and one LEFT ANTI join against lineitem
    (both on ``l_orderkey``, the inequality riding in the join
    condition). Integer counts — nothing to round.

    (The reference Q21 keys on commit/receipt dates; this testdata
    carries only ``l_shipdate``, so the 'kept waiting' predicate is
    re-expressed on ship order — the decorrelation shape, which is
    what the query exercises, is identical.)"""
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "q21_supplier"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q21_lineitem"
    )
    return spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM q21_supplier s
        JOIN q21_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (
            SELECT 1 FROM q21_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM q21_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s.s_name
        """
    )


SQL_WAITING_SUPPLIERS = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s.s_name
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (operators/dq.py): two snapshots derived
    deterministically from documents — the 'new' batch drops doc_id%5
    rows, gains doc_id%7 rows, and rewrites doc_id%11 texts — then
    classify every key as added/removed/changed/unchanged via one
    (key, md5) full-outer join. The change column is engine-exact (md5
    over string-cast columns)."""
    from stock_indicators_etl_spark.operators.dq import snapshot_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text", "n_chars"
    )
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new, "doc_id", ["lang", "text", "n_chars"])


SQL_SNAPSHOT_DIFF = """
WITH base AS (SELECT doc_id, lang, text, n_chars FROM documents),
old AS (SELECT * FROM base WHERE doc_id % 7 <> 0),
new AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text,
         n_chars
  FROM base WHERE doc_id % 5 <> 0
),
ho AS (
  SELECT doc_id AS k,
         md5(concat_ws(chr(31), coalesce(CAST(lang AS VARCHAR), chr(1)),
                                coalesce(CAST(text AS VARCHAR), chr(1)),
                                coalesce(CAST(n_chars AS VARCHAR), chr(1)))) AS h
  FROM old
),
hn AS (
  SELECT doc_id AS k,
         md5(concat_ws(chr(31), coalesce(CAST(lang AS VARCHAR), chr(1)),
                                coalesce(CAST(text AS VARCHAR), chr(1)),
                                coalesce(CAST(n_chars AS VARCHAR), chr(1)))) AS h
  FROM new
)
SELECT coalesce(ho.k, hn.k) AS doc_id,
       CASE WHEN ho.k IS NULL THEN 'added'
            WHEN hn.k IS NULL THEN 'removed'
            WHEN ho.h = hn.h THEN 'unchanged'
            ELSE 'changed' END AS change
FROM ho FULL OUTER JOIN hn ON ho.k = hn.k
"""


def q_winsorize_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path winsorization: bounds from the Greenwald–Khanna
    ``approx_percentile`` sketch (combinable map-side aggregate; the
    exact ``percentile`` twin is a per-key sort that dominates the
    sweep at scale). Oracle convention: at ``accuracy >= group size``
    the sketch is rank-exact and returns an actual data element, which
    matches DuckDB ``quantile_disc`` (verified per-key in
    tests/test_llmdata.py::test_winsorize_approx_*); production runs
    use the 10^4 default accuracy, where bounds carry <=1e-4 rank
    error and the clip counts shift by at most that rank band."""
    from stock_indicators_etl_spark.operators.stats import winsorize_stats_approx

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    return winsorize_stats_approx(
        li, "l_returnflag", "l_extendedprice", accuracy=1_000_000
    )


SQL_WINSORIZE_APPROX = """
WITH bounds AS (
  SELECT l_returnflag,
         quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo_bound,
         quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi_bound
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       count(*) AS n,
       CAST(sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) < b.lo_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) > b.hi_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       min(b.lo_bound) AS lo_bound,
       min(b.hi_bound) AS hi_bound,
       CAST(sum(CAST(floor(greatest(least(CAST(l.l_extendedprice AS DOUBLE), b.hi_bound), b.lo_bound) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_clipped_cents
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
"""


def q_dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality expectations over lineitem (five rules
    in one aggregate) plus an orphan-foreign-key referential check
    (left-anti) appended as a sixth row (operators/dq.py)."""
    from stock_indicators_etl_spark.operators.dq import (
        dq_summary,
        referential_violations,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rules = {
        "nonpositive_price": F.col("l_extendedprice") <= 0,
        "qty_out_of_range": ~F.col("l_quantity").between(1, 50),
        "discount_out_of_range": ~F.col("l_discount").between(0.0, 0.5),
        "null_shipdate": F.col("l_shipdate").isNull(),
        "high_price_outlier": F.col("l_extendedprice") > 2000.0,
    }
    summary = dq_summary(li, rules)
    orphans = referential_violations(li, o, "l_orderkey", "o_orderkey")
    n_frame = li.agg(F.count(F.lit(1)).alias("_n"))  # lazy, no collect
    orphan_row = orphans.crossJoin(F.broadcast(n_frame)).select(
        F.lit("orphan_orderkey").alias("rule"),
        F.col("_n").alias("n_rows"),
        F.col("n_orphans").alias("n_violations"),
        F.expr("n_orphans * 1000000 div _n").alias("violation_rate_ppm"),
    )
    return summary.unionByName(orphan_row)


SQL_DQ_CHECK = """
WITH s AS (
  SELECT count(*) AS _n,
         -- coalesce(…, 1): an unevaluable (NULL) expectation counts
         -- as a violation, matching dq_summary's contract
         CAST(sum(coalesce(CAST(l_extendedprice <= 0 AS INTEGER), 1)) AS BIGINT) AS nonpositive_price,
         CAST(sum(coalesce(CAST(NOT (l_quantity BETWEEN 1 AND 50) AS INTEGER), 1)) AS BIGINT) AS qty_out_of_range,
         CAST(sum(coalesce(CAST(NOT (l_discount BETWEEN 0.0 AND 0.5) AS INTEGER), 1)) AS BIGINT) AS discount_out_of_range,
         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
         CAST(sum(coalesce(CAST(l_extendedprice > 2000.0 AS INTEGER), 1)) AS BIGINT) AS high_price_outlier
  FROM lineitem
),
rules AS (
  SELECT _n, 'nonpositive_price' AS rule, nonpositive_price AS n_violations FROM s
  UNION ALL SELECT _n, 'qty_out_of_range', qty_out_of_range FROM s
  UNION ALL SELECT _n, 'discount_out_of_range', discount_out_of_range FROM s
  UNION ALL SELECT _n, 'null_shipdate', null_shipdate FROM s
  UNION ALL SELECT _n, 'high_price_outlier', high_price_outlier FROM s
  UNION ALL
  SELECT (SELECT count(*) FROM lineitem), 'orphan_orderkey',
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
)
SELECT rule, _n AS n_rows, n_violations,
       n_violations * 1000000 // _n AS violation_rate_ppm
FROM rules
"""


def q_rollup_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over lineitem: per (returnflag, linestatus),
    per returnflag subtotal, and grand total in ONE pass — Spark's
    ``rollup`` expands to grouping sets that Catalyst evaluates with a
    single shuffle (each input row feeds all its grouping sets via the
    Expand operator), vs three separate aggregations. ``l_quantity``
    is integral, so double sums are order-exact in both engines with
    no fold pinning needed."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_ROLLUP_AGGREGATE = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, linestatus, ship year): all 8
    grouping sets — including the column-2/3-only subtotals ROLLUP
    cannot produce — in ONE pass (Catalyst's Expand feeds each input
    row to its 8 sets before a single shuffle; 3 GROUP BYs + unions
    would scan lineitem 8 times). ``grouping(c)`` bits distinguish
    subtotal NULLs from data NULLs, composed into the same explicit
    ``g(a)*4+g(b)*2+g(c)`` id in both engines. Revenue is the
    integer-cents discipline (×10000 + half-up floor, one final IEEE
    division) so the 8-set sums replay bit-exactly."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("long")
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            F.year("l_shipdate").cast("long").alias("l_year"),
            cents.alias("cents"),
        )
        .cube("l_returnflag", "l_linestatus", "l_year")
        .agg(
            F.expr(
                "CAST(grouping(l_returnflag) * 4 + grouping(l_linestatus) * 2"
                " + grouping(l_year) AS BIGINT)"
            ).alias("gid"),
            (F.sum("cents").cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_SALES_CUBE = """
WITH src AS (
  SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)
              AS BIGINT) AS cents
  FROM lineitem
)
SELECT l_returnflag, l_linestatus, l_year,
       CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
            + GROUPING(l_year) AS BIGINT) AS gid,
       CAST(sum(cents) AS DOUBLE) / 10000.0 AS revenue,
       count(*) AS n_rows
FROM src
GROUP BY CUBE (l_returnflag, l_linestatus, l_year)
"""


RETENTION_BUCKET_NS = 7 * 86_400 * NS  # weekly cohorts


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events (first-seen week × offset →
    distinct active users)."""
    from stock_indicators_etl_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir), bucket_ns=RETENTION_BUCKET_NS)


SQL_RETENTION = f"""
WITH e AS (
  SELECT DISTINCT user_id,
         ((epoch_ns(ts) // 1000) * 1000) // {RETENTION_BUCKET_NS} AS bucket
  FROM events
),
f AS (SELECT user_id, min(bucket) AS cohort FROM e GROUP BY user_id)
SELECT f.cohort, e.bucket - f.cohort AS "offset", count(*) AS n_users
FROM e JOIN f USING (user_id)
GROUP BY 1, 2
"""


def _disc_cents(price: str = "l_extendedprice", disc: str = "l_discount"):
    """Discounted revenue in integer 10⁻⁴ units: ``floor(p·(1−d)·10⁴
    + 0.5)`` per ROW, summed as BIGINT. The per-row float multiply is
    a fixed sequence of IEEE correctly-rounded ops, identical in both
    engines; the sum is then integer and order-free — the bit-exact
    idiom for revenue aggregates at any group size (same convention
    as ``q_volume_shipping``)."""
    return F.floor(
        F.col(price) * (F.lit(1.0) - F.col(disc)) * 10000 + F.lit(0.5)
    ).cast("long")


DISC_CENTS_SQL = (
    "CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT)"
)


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    line items in one order year. Big-big joins (lineitem ⋈ orders ⋈
    customer) with both date and returnflag filters PUSHED BELOW the
    joins (semi-reducing the probe sides), a broadcast nation dim,
    and a combinable top-k: the final orderBy+limit is a TakeOrdered
    — per-partition heaps then a 20-row driver merge, never a global
    sort. Tie-break on ``c_custkey`` keeps the cut deterministic."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_disc_cents()).alias("_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return (
        agg.orderBy(F.desc("_cents"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("_cents").cast("double") / F.lit(10000.0)).alias("revenue"),
            "n_items",
        )
    )


SQL_RETURNED_ITEMS = f"""
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         CAST(sum({DISC_CENTS_SQL}) AS BIGINT) AS cents,
         count(*) AS n_items
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, n_name,
       CAST(cents AS DOUBLE) / 10000.0 AS revenue, n_items
FROM agg
ORDER BY cents DESC, c_custkey
LIMIT 20
"""


def q_customer_orders_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer —
    LEFT OUTER join (zero-order customers MUST survive, so the
    priority filter pre-reduces the orders side rather than landing
    in a WHERE that would turn the join inner) followed by a second
    aggregation over the first's results. Two shuffles by design:
    count-per-customer, then histogram-over-counts (tiny — at most
    max(c_count)+1 groups). All-integer output, nothing to round."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = c.join(o, c.c_custkey == o.o_custkey, "left").groupBy(
        "c_custkey"
    ).agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


SQL_CUSTOMER_ORDERS_HIST = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio — the share of
    1996 revenue coming from PROMO-type parts, per ship month. One
    join, one aggregate; the CASE folds into the same grouped scan
    (no second pass over lineitem). Exactness: both legs sum integer
    10⁻⁴ units, and the final ``100.0 · promo / total`` is exactly
    two correctly-rounded IEEE ops in the same order cross-engine."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    cents = _disc_cents()
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
            ).alias("_promo"),
            F.sum(cents).alias("_total"),
        )
    )
    return agg.select(
        "ship_month",
        (
            F.lit(100.0)
            * F.col("_promo").cast("double")
            / F.col("_total").cast("double")
        ).alias("promo_pct"),
        (F.col("_total").cast("double") / F.lit(10000.0)).alias("revenue"),
    )


SQL_PROMO_REVENUE = f"""
WITH agg AS (
  SELECT month(l_shipdate) AS ship_month,
         CAST(sum(CASE WHEN p_type = 'PROMO' THEN {DISC_CENTS_SQL}
                       ELSE 0 END) AS BIGINT) AS promo,
         CAST(sum({DISC_CENTS_SQL}) AS BIGINT) AS total
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  GROUP BY 1
)
SELECT ship_month,
       100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE) AS promo_pct,
       CAST(total AS DOUBLE) / 10000.0 AS revenue
FROM agg
"""


def q_disjunctive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    part attributes (brand, size) and lineitem attributes (quantity).
    The disjunction cannot be split across the join, but Catalyst
    derives the IMPLIED single-table filters — ``p_brand IN (…)``,
    ``p_size BETWEEN 1 AND 15``, ``l_quantity <= 30`` — and pushes
    them below the join, so both scans are pre-reduced before the
    broadcast join evaluates the full disjunction. Integer-cents sum,
    single-row output."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    pred = (
        ((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#4") & sz.between(1, 15) & q.between(20, 30))
    )
    return j.filter(pred).agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(_disc_cents()).cast("double") / F.lit(10000.0)).alias(
            "revenue"
        ),
    )


SQL_DISJUNCTIVE_PARTS = f"""
SELECT count(*) AS n_items,
       CAST(sum({DISC_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


MKT_SHARE_REGION = "EUROPE"
MKT_SHARE_NATION = "NATION_7"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of the revenue its region's
    customers spend, by order year. The lineitem ⋈ orders spine joins
    TWO independent dim chains — customer→nation→region (filtered to
    the region, so the customer side is semi-reduced before the big
    join) and supplier→nation (kept whole; the share CASE needs every
    supplier nation). Share = single IEEE division of two exact
    BIGINT cent-sums — bit-exact cross-engine with no rounding
    convention needed."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == MKT_SHARE_REGION
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    cents = _disc_cents()
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == MKT_SHARE_NATION, cents).otherwise(
                F.lit(0)
            )
        ).alias("_nat"),
        F.sum(cents).alias("_total"),
    )
    return agg.select(
        "o_year",
        (F.col("_nat").cast("double") / F.col("_total").cast("double")).alias(
            "mkt_share"
        ),
        (F.col("_total").cast("double") / F.lit(10000.0)).alias("revenue"),
    )


SQL_MARKET_SHARE = f"""
WITH agg AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(sum(CASE WHEN n2.n_name = '{MKT_SHARE_NATION}'
                       THEN {DISC_CENTS_SQL} ELSE 0 END) AS BIGINT) AS nat,
         CAST(sum({DISC_CENTS_SQL}) AS BIGINT) AS total
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{MKT_SHARE_REGION}'
  GROUP BY 1
)
SELECT o_year,
       CAST(nat AS DOUBLE) / CAST(total AS DOUBLE) AS mkt_share,
       CAST(total AS DOUBLE) / 10000.0 AS revenue
FROM agg
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over an aggregated view — suppliers
    whose quarterly revenue equals the maximum. Catalyst plans the
    scalar ``max`` subquery as a 1-row broadcast against the reused
    revenue aggregate; the comparison is on exact BIGINT cents, so
    the argmax set is tie-safe cross-engine (ALL maximal suppliers
    return, as in the spec)."""
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "q15_supplier"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q15_lineitem"
    )
    return spark.sql(
        f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(sum({DISC_CENTS_SQL}) AS BIGINT) AS total_cents
          FROM q15_lineitem
          WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(total_cents AS DOUBLE) / 10000.0 AS total_revenue
        FROM q15_supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_cents = (SELECT max(total_cents) FROM revenue)
        """
    )


SQL_TOP_SUPPLIER = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum({DISC_CENTS_SQL}) AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(total_cents AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_cents = (SELECT max(total_cents) FROM revenue)
"""


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    bucket with a NOT IN exclusion subquery. ``l_suppkey NOT IN
    (SELECT s_suppkey …)`` plans as a null-aware BROADCAST anti join
    (the excluded-supplier set is tiny); the count(DISTINCT) then
    runs as Spark's two-phase distinct aggregate — partial distinct
    per partition before the group shuffle, so the shuffle carries
    distinct (group, suppkey) pairs, not raw line items."""
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView(
        "q16_part"
    )
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "q16_supplier"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q16_lineitem"
    )
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM q16_lineitem JOIN q16_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM q16_supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        """
    )


SQL_SUPPLIER_PART_COUNTS = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog merge (``operators/scd.apply_cdc``): a base
    snapshot (documents keyed by doc_id) plus a four-wave changelog
    derived deterministically from the same table — update wave at
    seq 1 (doc_id%7), an OVERRIDING update at seq 2 (doc_id%14, so
    last-wins is exercised), deletes at seq 3 (doc_id%5, some on
    already-updated keys, so delete-beats-update is exercised), and
    inserts of brand-new keys at seq 4 (doc_id%13, shifted key
    space). The oracle replays the same merge with a row_number
    window + NOT IN — all string/integer columns, engine-exact."""
    from stock_indicators_etl_spark.operators.scd import apply_cdc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    k = F.col("doc_id")
    u1 = docs.filter(k % 7 == 0).select(
        k.alias("doc_id"),
        F.lit("xx").alias("lang"),
        (F.col("n_chars") + 1).alias("n_chars"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    u2 = docs.filter(k % 14 == 0).select(
        k.alias("doc_id"),
        F.lit("yy").alias("lang"),
        (F.col("n_chars") + 2).alias("n_chars"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    d3 = docs.filter(k % 5 == 0).select(
        k.alias("doc_id"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("long").alias("n_chars"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    i4 = docs.filter(k % 13 == 0).select(
        (k + 10_000_000).alias("doc_id"),
        F.lit("nw").alias("lang"),
        (k % 997).alias("n_chars"),
        F.lit(4).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = u1.unionByName(u2).unionByName(d3).unionByName(i4)
    return apply_cdc(docs, changes, "doc_id", "seq")


SQL_CDC_MERGE = """
WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
ch AS (
  SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars, 1 AS seq, 'U' AS op
  FROM base WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 'yy', n_chars + 2, 2, 'U' FROM base WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id, NULL, NULL, 3, 'D' FROM base WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 10000000, 'nw', doc_id % 997, 4, 'I'
  FROM base WHERE doc_id % 13 = 0
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
  FROM ch
)
SELECT b.doc_id, b.lang, b.n_chars
FROM base b WHERE b.doc_id NOT IN (SELECT doc_id FROM ch)
UNION ALL
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier summary (``operators/stats.
    mad_outliers``): median + MAD with 6dp-rounded quantiles, outlier
    = |v − med| > 3·mad. Two broadcast-joined percentile passes, no
    shuffle of the events scan."""
    from stock_indicators_etl_spark.operators.stats import mad_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    return mad_outliers(ev, "event_type", "value")


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type,
         floor(quantile_cont(CAST(value AS DOUBLE), 0.5) * 1000000 + 0.5)
           / 1000000 AS med
  FROM events GROUP BY 1
),
d AS (
  SELECT e.event_type,
         abs(CAST(e.value AS DOUBLE) - m.med) AS dev,
         m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type,
         floor(quantile_cont(dev, 0.5) * 1000000 + 0.5) / 1000000 AS mad
  FROM d GROUP BY 1
)
SELECT d.event_type,
       count(*) AS n,
       min(d.med) AS med,
       min(mad.mad) AS mad,
       CAST(sum(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN mad ON d.event_type = mad.event_type
GROUP BY d.event_type
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width profiling histogram of o_totalprice in 16 buckets
    (``operators/stats.equi_width_histogram``): integer-cents bucket
    arithmetic, broadcast 1-row bounds, combinable count/min/max/sum
    per bucket."""
    from stock_indicators_etl_spark.operators.stats import (
        equi_width_histogram,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_totalprice")
    return equi_width_histogram(o, "o_totalprice", nbins=16)


SQL_VALUE_HISTOGRAM = """
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
         o_totalprice AS v
  FROM orders
),
b AS (SELECT min(c) AS minc, max(c) AS maxc FROM src)
SELECT ((src.c - b.minc) * 16) // (b.maxc - b.minc + 1) AS bucket,
       count(*) AS n,
       min(src.v) AS lo,
       max(src.v) AS hi,
       CAST(sum(src.c) AS BIGINT) AS sum_cents
FROM src, b
GROUP BY 1
"""


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value`` over the irregular
    event stream (``operators/stats.time_weighted_avg``): each event's
    value holds until the next event; integer cents × whole-second
    gaps, one window + one combinable aggregate."""
    from stock_indicators_etl_spark.operators.stats import (
        time_weighted_avg,
    )

    ev = _events(spark, sf_dir).select("user_id", "ns", "value", "event_id")
    return time_weighted_avg(
        ev, "user_id", "ns", "value", tiebreak_cols=("event_id",)
    )


SQL_TWAP = """
WITH src AS (
  SELECT user_id,
         (epoch_ns(ts) // 1000) * 1000 AS ns,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
         event_id
  FROM events
),
g AS (
  SELECT user_id, c,
         (lead(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) - ns)
           // 1000000000 AS dt_s
  FROM src
)
SELECT user_id,
       count(*) AS n,
       CAST(sum(dt_s) AS BIGINT) AS span_s,
       CASE WHEN CAST(sum(dt_s) AS BIGINT) > 0 THEN
         CAST(CAST(sum(c * dt_s) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(dt_s) AS BIGINT) AS DOUBLE) / 100.0
       END AS twap
FROM g
GROUP BY user_id
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each small part,
    the EUROPE supplier(s) with the minimum observed sale price.
    (This testdata has no partsupp, so supply cost is re-expressed as
    the supplier's minimum lineitem price for the part — the
    correlated-min-over-a-dimension-restricted-join shape is
    identical.) Catalyst decorrelates the scalar min into a grouped
    aggregate joined back on partkey; the comparison is on exact
    integer cents, so the argmin SET is tie-safe (all minimal
    suppliers return, as in the spec)."""
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView(
        "q2_part"
    )
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "q2_supplier"
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "q2_nation"
    )
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "q2_region"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q2_lineitem"
    )
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                 min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS cost_cents
          FROM q2_lineitem GROUP BY 1, 2
        ),
        eu AS (
          SELECT s_suppkey, s_name, s_acctbal
          FROM q2_supplier
          JOIN q2_nation ON s_nationkey = n_nationkey
          JOIN q2_region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
        )
        SELECT p.p_partkey, eu.s_name,
               CAST(ps.cost_cents AS DOUBLE) / 100.0 AS supply_cost
        FROM q2_part p
        JOIN ps ON ps.partkey = p.p_partkey
        JOIN eu ON eu.s_suppkey = ps.suppkey
        WHERE p.p_size <= 5
          AND ps.cost_cents = (
            SELECT min(ps2.cost_cents)
            FROM ps ps2 JOIN eu eu2 ON eu2.s_suppkey = ps2.suppkey
            WHERE ps2.partkey = p.p_partkey
          )
        """
    )


SQL_MIN_COST_SUPPLIER = """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS cost_cents
  FROM lineitem GROUP BY 1, 2
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT p.p_partkey, eu.s_name,
       CAST(ps.cost_cents AS DOUBLE) / 100.0 AS supply_cost
FROM part p
JOIN ps ON ps.partkey = p.p_partkey
JOIN eu ON eu.s_suppkey = ps.suppkey
WHERE p.p_size <= 5
  AND ps.cost_cents = (
    SELECT min(ps2.cost_cents)
    FROM ps ps2 JOIN eu eu2 ON eu2.s_suppkey = ps2.suppkey
    WHERE ps2.partkey = p.p_partkey
  )
"""


def q_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and
    order year — a five-table spine (lineitem ⋈ part ⋈ supplier ⋈
    orders + broadcast nation) with a per-row profit expression.
    (No partsupp here, so unit cost is re-expressed as 10 % of the
    part's retail price — the join/aggregate shape is what Q9
    exercises.) Profit is floored to integer 10⁻⁴ units per ROW
    before the BIGINT sum — the order-free exactness idiom."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_type") == "STANDARD"
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    cents = F.floor(amount * 10000 + F.lit(0.5)).cast("long")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(cents).cast("double") / F.lit(10000.0)).alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_PROFIT_BY_NATION = """
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)
                            - 0.1 * p_retailprice * l_quantity)
                           * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS profit,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'STANDARD'
GROUP BY 1, 2
"""


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a FRACTION of the global
    aggregate — parts whose sales value through NATION_3 suppliers
    exceeds TWICE the average per-part value (the spec's fixed
    fraction is SF-dependent; an average-relative cut keeps the
    predicate meaningful at every decade). TWO scalar subqueries
    re-scan the same aggregate; the HAVING comparison is all-integer
    ``part_cents·n_parts > 2·total_cents`` (no float fraction), so
    the boundary is engine-exact."""
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "q11_supplier"
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "q11_nation"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q11_lineitem"
    )
    return spark.sql(
        """
        WITH v AS (
          SELECT l_partkey,
                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
          FROM q11_lineitem
          JOIN q11_supplier ON l_suppkey = s_suppkey
          JOIN q11_nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
        )
        SELECT l_partkey,
               CAST(sum(cents) AS DOUBLE) / 100.0 AS value
        FROM v
        GROUP BY l_partkey
        HAVING CAST(sum(cents) AS BIGINT)
                 * (SELECT count(DISTINCT l_partkey) FROM v)
               > 2 * (SELECT CAST(sum(cents) AS BIGINT) FROM v)
        """
    )


SQL_IMPORTANT_STOCK = """
WITH v AS (
  SELECT l_partkey,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
SELECT l_partkey,
       CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
FROM v
GROUP BY l_partkey
HAVING CAST(sum(cents) AS BIGINT)
         * (SELECT count(DISTINCT l_partkey) FROM v)
       > 2 * (SELECT CAST(sum(cents) AS BIGINT) FROM v)
"""


def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers who, for
    some small part, shipped MORE in 1996 than half their all-time
    volume of that part (the availqty>½·shipped predicate
    re-expressed on shipment history). Three nesting levels: IN over
    a grouped aggregate whose HAVING holds a correlated scalar
    aggregate over the same table, itself restricted by an inner IN
    on part. All-integer quantities; Catalyst turns each level into a
    semi/aggregate join, no per-row subquery."""
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "q20_supplier"
    )
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView(
        "q20_part"
    )
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "q20_lineitem"
    )
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM q20_supplier
        WHERE s_suppkey IN (
          SELECT l.l_suppkey
          FROM q20_lineitem l
          WHERE l.l_partkey IN (
              SELECT p_partkey FROM q20_part WHERE p_size <= 3
            )
            AND l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
          GROUP BY l.l_suppkey, l.l_partkey
          HAVING 2 * sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) > (
            SELECT sum(CAST(floor(l2.l_quantity + 0.5) AS BIGINT))
            FROM q20_lineitem l2
            WHERE l2.l_suppkey = l.l_suppkey
              AND l2.l_partkey = l.l_partkey
          )
        )
        """
    )


SQL_EXCESS_SUPPLIERS = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN (
      SELECT p_partkey FROM part WHERE p_size <= 3
    )
    AND l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING 2 * CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) > (
    SELECT CAST(sum(CAST(floor(l2.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
    FROM lineitem l2
    WHERE l2.l_suppkey = l.l_suppkey
      AND l2.l_partkey = l.l_partkey
  )
)
"""


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): documents counted into a source × language
    matrix. The value list is EXPLICIT — ``pivot(col, values)`` with
    known categories compiles to one conditional-aggregation pass;
    omitting the list adds a blocking distinct-collect job over the
    pivot column first, which at 100 TB is a full extra scan (and a
    surprise 10k-column schema if the column is dirtier than
    expected). Missing combinations are 0, not null, so the wide
    frame is directly consumable. All-integer output."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "lang"
    )
    wide = (
        docs.groupBy("source")
        .pivot("lang", PIVOT_LANGS)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in PIVOT_LANGS],
    )


SQL_PIVOT_MATRIX = """
SELECT source,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents
GROUP BY source
"""


def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH bucketing (deciles) of order totals via ``ntile`` —
    the rank-based complement of ``equi_width_histogram`` (quantile
    feature binning / monotone rank transforms). Both engines define
    ntile identically (earlier buckets take the remainder rows), and
    the window order carries an ``o_orderkey`` tie-break so equal
    totals land deterministically. Per-decile count + exact-cents sum
    + min/max boundaries. One global window over a BOUNDED sort —
    fine here; the SCALE form is implemented as
    ``operators/stats.equidepth_bins`` (r9b): histogram-quantile cuts
    + scan-side assignment, no global sort, value-deterministic ties
    — `equidepth_bins` in the harness, oracle-checked."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        o.select(
            F.ntile(10).over(w).alias("decile"),
            F.col("o_totalprice").alias("v"),
            cents.alias("_c"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("_c").alias("sum_cents"),
        )
    )


SQL_NTILE_BUCKETS = """
SELECT decile,
       count(*) AS n,
       min(v) AS lo,
       max(v) AS hi,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM (
  SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         o_totalprice AS v,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders
)
GROUP BY decile
"""


TOP_PATHS_K = 25


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path analysis: the most common per-user event-type
    SEQUENCES (the product-analytics 'what journeys happen most'
    query). Each user's events collapse to an ordered path string in
    ONE combinable aggregate — ``sort_array(collect_list(struct(ns,
    event_id, type)))`` pins the order inside the aggregation buffer
    (≡ DuckDB ``string_agg(... ORDER BY)``), so no separate window
    pass over the event stream — then a tiny groupBy(path) counts and
    a TakeOrdered returns the top 25 with (count desc, path) as the
    deterministic cut. Paths are capped to the first 8 events per
    user (real path analysis truncates — unbounded paths are all
    unique)."""
    e = _events(spark, sf_dir)
    paths = (
        e.groupBy("user_id")
        .agg(
            F.expr(
                "array_join(slice(transform(sort_array(collect_list("
                "struct(ns, event_id, event_type))), x -> x.event_type),"
                " 1, 8), '>')"
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return paths.orderBy(F.desc("n_users"), F.asc("path")).limit(TOP_PATHS_K)


SQL_TOP_PATHS = f"""
WITH p AS (
  SELECT user_id,
         array_to_string(
           list_slice(
             list(event_type ORDER BY (epoch_ns(ts) // 1000) * 1000,
                  event_id),
             1, 8),
           '>') AS path
  FROM events
  GROUP BY user_id
),
c AS (SELECT path, count(*) AS n_users FROM p GROUP BY path)
SELECT path, n_users FROM c
ORDER BY n_users DESC, path
LIMIT {TOP_PATHS_K}
"""


SLIDING_WINDOW_NS = 3_600 * 10**9  # trailing hour


def q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding windows — the trailing-hour activity
    profile (rate limiting / burst detection): for every event, the
    count and integer-cents value sum of the user's events in the
    preceding hour (``RANGE BETWEEN 3.6e12 PRECEDING AND CURRENT
    ROW`` over epoch-ns — a VALUE frame, so simultaneous events are
    all in-frame regardless of row order; the row-frame windows the
    indicator family uses cannot express this), then one combinable
    rollup to each user's PEAK burst. One key shuffle total."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ns")
        .rangeBetween(-SLIDING_WINDOW_NS, 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per_event = e.select(
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(cents).over(w).alias("cents_1h"),
    )
    return per_event.groupBy("user_id").agg(
        F.max("n_1h").alias("peak_events_1h"),
        F.max("cents_1h").alias("peak_cents_1h"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SLIDING_COUNTS = f"""
WITH src AS (
  SELECT user_id,
         (epoch_ns(ts) // 1000) * 1000 AS ns,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
pe AS (
  SELECT user_id,
         count(*) OVER w AS n_1h,
         CAST(sum(c) OVER w AS BIGINT) AS cents_1h
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY ns
               RANGE BETWEEN {SLIDING_WINDOW_NS} PRECEDING
                         AND CURRENT ROW)
)
SELECT user_id,
       max(n_1h) AS peak_events_1h,
       CAST(max(cents_1h) AS BIGINT) AS peak_cents_1h,
       count(*) AS n_events
FROM pe
GROUP BY user_id
"""


ATTRIB_WINDOW_NS = 7 * 24 * 3_600 * 10**9  # last-touch lookback


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each ``purchase`` is credited to the
    user's most recent preceding ``click`` within 7 days. The running
    last-click timestamp is a conditional ``max`` over an UNBOUNDED
    PRECEDING row frame on the SAME (user, time) sort every other
    per-user operator rides — one key shuffle, no self-join of the
    event stream (the naive purchase⋈click range join re-shuffles the
    stream twice and explodes on active users). Integer-ns window
    test; per-user rollup with attributed revenue in integer cents."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ns"))
    ).over(w)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    flagged = e.select(
        "user_id",
        "event_type",
        cents.alias("_c"),
        last_click.alias("_lc"),
        "ns",
    ).filter(F.col("event_type") == "purchase")
    attributed = (
        F.col("_lc").isNotNull()
        & ((F.col("ns") - F.col("_lc")) <= ATTRIB_WINDOW_NS)
    ).cast("long")
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(attributed).alias("n_attributed"),
        F.sum(F.col("_c") * attributed).alias("attributed_cents"),
    )


SQL_ATTRIBUTION = f"""
WITH src AS (
  SELECT user_id, event_type, event_id,
         (epoch_ns(ts) // 1000) * 1000 AS ns,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
f AS (
  SELECT user_id, event_type, ns, c,
         max(CASE WHEN event_type = 'click' THEN ns END)
           OVER (PARTITION BY user_id ORDER BY ns, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS lc
  FROM src
)
SELECT user_id,
       count(*) AS n_purchases,
       CAST(sum(CASE WHEN lc IS NOT NULL
                      AND ns - lc <= {ATTRIB_WINDOW_NS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       CAST(sum(CASE WHEN lc IS NOT NULL
                      AND ns - lc <= {ATTRIB_WINDOW_NS}
                     THEN c ELSE 0 END) AS BIGINT) AS attributed_cents
FROM f
WHERE event_type = 'purchase'
GROUP BY user_id
"""


def q_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score feature standardization summary: mean and
    sample std from EXACT integer sums (Σc, Σc² as BIGINT — the OLS
    idiom: associative, order-free, exact at any group size), both
    6dp-rounded after the final IEEE expression (sqrt is correctly
    rounded), then one more pass counts |v − mean| > 2σ tails against
    the rounded parameters — a fixed cross-engine-identical op
    sequence. The feature-scaling companion to ``mad_outliers``
    (parametric vs robust)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("_s1"),
        F.sum(c * c).alias("_s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("_s1").cast("double") / nd / F.lit(100.0)
    var = (
        (nd * F.col("_s2").cast("double") - F.col("_s1").cast("double") * F.col("_s1").cast("double"))
        / (nd * (nd - F.lit(1.0)))
        / F.lit(10000.0)
    )
    stats = agg.select(
        "event_type",
        "n",
        _rc(mean).alias("mean"),
        _rc(F.sqrt(var)).alias("std"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    tail = (
        F.abs(F.col("value").cast("double") - F.col("mean"))
        > F.lit(2.0) * F.col("std")
    ).cast("long")
    return j.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("mean").alias("mean"),
        F.min("std").alias("std"),
        F.sum(tail).alias("n_tail_2sigma"),
    )


SQL_STANDARDIZE = """
WITH agg AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                  * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY 1
),
stats AS (
  SELECT event_type, n,
         floor((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
               * 1000000 + 0.5) / 1000000 AS mean,
         floor(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                    / 10000.0) * 1000000 + 0.5) / 1000000 AS std
  FROM agg
)
SELECT e.event_type,
       min(s.n) AS n,
       min(s.mean) AS mean,
       min(s.std) AS std,
       CAST(sum(CASE WHEN abs(CAST(e.value AS DOUBLE) - s.mean)
                          > 2.0 * s.std
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_2sigma
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY e.event_type
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# r7d wave: TPC-H Q6/Q12 shapes + Bollinger / OBV / CUSUM series ops
# ---------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecasting-revenue-change scan — revenue
    that would be recovered by dropping small discounts on low-volume
    1996 lines. Pure scan-aggregate, NO join: the three predicates
    (ship year, discount band, quantity cap) all push to the parquet
    scan, and the aggregate is one map-side-combinable sum — the
    cheapest possible TPC-H shape, a pushdown litmus test. The
    discount-band compare runs on integer hundredths (``floor(d·100
    + 0.5) BETWEEN 5 AND 7``), not on raw doubles, so the row set is
    engine-exact; revenue is a per-row ``floor(p·d·10⁴ + 0.5)`` BIGINT
    sum (order-free)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_h = F.floor(F.col("l_discount") * 100 + F.lit(0.5))
    rev = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 10000 + F.lit(0.5)
    ).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & disc_h.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(rev).cast("double") / F.lit(10000.0)).alias("revenue"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND floor(l_discount * 100 + 0.5) BETWEEN 5 AND 7
  AND l_quantity < 24
"""


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment priority mix per ship mode. The
    synthetic schema carries no ``l_shipmode``/``l_commitdate``, so
    the mode is a derived categorical (``l_linenumber % 3`` → MAIL/
    SHIP/RAIL — deterministic in both engines) and "late" reuses the
    Q4 lateness idiom (``l_shipdate > o_orderdate + 60 days``). The
    orders⋈lineitem spine joins on the order key (both sides large →
    shuffle join, AQE-coalesced), and the priority split is a
    conditional count folded into the same grouped pass — one
    aggregate, all-integer output."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    mode = (
        F.when(F.col("l_linenumber") % 3 == 0, "MAIL")
        .when(F.col("l_linenumber") % 3 == 1, "SHIP")
        .otherwise("RAIL")
    )
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(late)
        .groupBy(mode.alias("ship_mode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_SHIPMODE_PRIORITY = """
SELECT CASE l_linenumber % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
            ELSE 'RAIL' END AS ship_mode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


BB_N = 20
BB_WIDTH = 2.0


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the bar series
    (``operators/rolling.with_bollinger``): trailing-20 SMA ± 2σ from
    INTEGER cent sums (s, s²) — the variance numerator ``n·ss − s²``
    is exact BIGINT, so mean/σ are a fixed 5-op IEEE tail replayed
    verbatim in the oracle. One series shuffle, ≤20-row frames."""
    from stock_indicators_etl_spark.operators.rolling import with_bollinger

    bars = events_as_bars(spark, sf_dir, with_id=True)
    out = with_bollinger(bars, n=BB_N, width=BB_WIDTH, tiebreak_cols=("bar_id",))
    return out.select(
        "ticker",
        "window_start",
        _rc(F.col("bb_mid")).alias("bb_mid"),
        _rc(F.col("bb_upper")).alias("bb_upper"),
        _rc(F.col("bb_lower")).alias("bb_lower"),
        _rc(F.col("bb_bandwidth")).alias("bb_bandwidth"),
    )


SQL_BOLLINGER = f"""
WITH {BARS_CTE.strip()},
c AS (
  SELECT ticker, window_start,
         CAST(floor(adj_close * 100 + 0.5) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY ticker ORDER BY window_start) AS rn
  FROM bars
),
s AS (
  SELECT ticker, window_start, rn,
         CAST(sum(c) OVER w AS BIGINT) AS s,
         CAST(sum(c * c) OVER w AS BIGINT) AS ss
  FROM c
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start
               ROWS BETWEEN {BB_N - 1} PRECEDING AND CURRENT ROW)
),
b AS (
  SELECT ticker, window_start, rn,
         CAST(s AS DOUBLE) / {float(BB_N * 100)} AS mean,
         sqrt(greatest(CAST({BB_N} * ss - s * s AS DOUBLE)
                       / {float(BB_N * (BB_N - 1))}, 0.0)) / 100.0 AS sd
  FROM s
)
SELECT ticker, window_start,
       CASE WHEN rn >= {BB_N} THEN {R6('mean')} END AS bb_mid,
       CASE WHEN rn >= {BB_N} THEN {R6(f'mean + {BB_WIDTH} * sd')} END AS bb_upper,
       CASE WHEN rn >= {BB_N} THEN {R6(f'mean - {BB_WIDTH} * sd')} END AS bb_lower,
       CASE WHEN rn >= {BB_N} THEN {R6(
           f'CASE WHEN mean = 0.0 THEN 0.0 ELSE '
           f'((mean + {BB_WIDTH} * sd) - (mean - {BB_WIDTH} * sd)) / mean END'
       )} END AS bb_bandwidth
FROM b
"""


def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume (``operators/rolling.with_obv``): BIGINT
    cumulative ±volume by integer-cent close direction — zero float
    accumulation anywhere, one cumulative window per series."""
    from stock_indicators_etl_spark.operators.rolling import with_obv

    bars = events_as_bars(spark, sf_dir, with_id=True)
    return with_obv(bars, tiebreak_cols=("bar_id",)).select(
        "ticker", "window_start", "obv"
    )


SQL_OBV = f"""
WITH {BARS_CTE.strip()},
c AS (
  SELECT ticker, window_start,
         CAST(floor(close * 100 + 0.5) AS BIGINT) AS c,
         CAST(floor(volume + 0.5) AS BIGINT) AS vol
  FROM bars
),
d AS (
  SELECT ticker, window_start,
         CASE WHEN lag(c) OVER w IS NULL THEN vol
              WHEN c > lag(c) OVER w THEN vol
              WHEN c < lag(c) OVER w THEN -vol
              ELSE 0 END AS signed_vol
  FROM c
  WINDOW w AS (PARTITION BY ticker ORDER BY window_start)
)
SELECT ticker, window_start,
       CAST(sum(signed_vol) OVER (PARTITION BY ticker ORDER BY window_start
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM d
"""


CUSUM_K_CENTS = 6000
CUSUM_H_CENTS = 30000


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection on the event stream
    (``operators/stats.cusum``): Page's ``s_t = max(0, s_{{t−1}} + x_t
    − k)`` recurrence computed WITHOUT recursion via its prefix-sum
    closed form ``s_t = S_t − min(0, min prefix S)`` — two window
    aggregates, all BIGINT cents. Alarm when the accumulated drift
    above k = 60.00 exceeds h = 300.00."""
    from stock_indicators_etl_spark.operators.stats import cusum

    ev = _events(spark, sf_dir).select(
        "user_id",
        "ns",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = cusum(
        ev,
        key_cols=("user_id",),
        ts_col="ns",
        x_col="cents",
        k=CUSUM_K_CENTS,
        h=CUSUM_H_CENTS,
        tiebreak_cols=("event_id",),
    )
    return out.select("user_id", "ns", "cusum", "alarm")


SQL_CUSUM = f"""
WITH src AS (
  SELECT user_id, (epoch_ns(ts) // 1000) * 1000 AS ns, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) - {CUSUM_K_CENTS} AS d
  FROM events
),
ps AS (
  SELECT user_id, ns, event_id,
         CAST(sum(d) OVER (PARTITION BY user_id ORDER BY ns, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS S
  FROM src
),
p AS (
  SELECT user_id, ns, S,
         CAST(min(S) OVER (PARTITION BY user_id ORDER BY ns, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m
  FROM ps
)
SELECT user_id, ns,
       S - least(CAST(0 AS BIGINT), m) AS cusum,
       (S - least(CAST(0 AS BIGINT), m)) > {CUSUM_H_CENTS} AS alarm
FROM p
"""



def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the leakage-safe
    feature join a training pipeline needs: for every shipped line
    item, the customer's order-priority version that was in effect ON
    THE SHIP DATE (which can differ from the priority at order time).
    Composition: ``operators/scd.scd2_history`` builds the validity
    intervals, then ``operators/asof.asof_join`` attaches the version
    with the largest ``valid_from ≤ ship date`` via the union +
    ordered-carry plan — ONE shuffle for both sides, no interval
    theta-join, no per-row subquery. Versions are pre-collapsed to
    end-of-day state (max version per (key, valid_from)) so the
    inclusive as-of tie is deterministic. Output: per as-of priority,
    line count, exact-cents revenue, and how many lines shipped under
    a DIFFERENT priority than they were ordered with — the drift the
    point-in-time join exists to capture."""
    from stock_indicators_etl_spark.operators.asof import asof_join
    from stock_indicators_etl_spark.operators.scd import scd2_history

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hist = scd2_history(o, "o_custkey", "o_orderpriority", "o_orderdate")
    wv = Window.partitionBy("o_custkey", "valid_from").orderBy(
        F.col("version").desc()
    )
    dim = (
        hist.withColumn("_r", F.row_number().over(wv))
        .filter(F.col("_r") == 1)
        .select(
            "o_custkey",
            F.col("valid_from").alias("d"),
            F.col("o_orderpriority").alias("prio_asof"),
            "version",
        )
    )
    facts = li.join(
        o.select("o_orderkey", "o_custkey", "o_orderpriority"),
        li.l_orderkey == o.o_orderkey,
    ).select(
        "o_custkey",
        F.col("l_shipdate").alias("d"),
        "l_orderkey",
        "l_linenumber",
        "o_orderpriority",
        _disc_cents().alias("cents"),
    )
    joined = asof_join(
        facts, dim, on="d", by=("o_custkey",), value_cols=["prio_asof", "version"]
    )
    return (
        joined.groupBy(F.col("prio_asof_r").alias("prio_asof"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum("cents").cast("double") / F.lit(10000.0)).alias("revenue"),
            F.sum(
                F.when(F.col("prio_asof_r") != F.col("o_orderpriority"), 1).otherwise(0)
            ).alias("n_shipped_under_changed_priority"),
        )
    )


SQL_PIT_JOIN = """
WITH flagged AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                OR lag(o_orderpriority) OVER w <> o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderpriority)
),
seg AS (
  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderpriority
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS _seg
  FROM flagged
),
runs AS (
  SELECT o_custkey, _seg AS version,
         min(o_orderpriority) AS prio_asof,
         min(o_orderdate) AS vf
  FROM seg GROUP BY o_custkey, _seg
),
dim AS (
  SELECT o_custkey, vf, prio_asof, version
  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, vf
                                     ORDER BY version DESC) AS _r
        FROM runs)
  WHERE _r = 1
),
facts AS (
  SELECT o.o_custkey, l.l_shipdate AS d, o.o_orderpriority,
         CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)
              AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
matched AS (
  SELECT f.o_custkey, f.d, f.o_orderpriority, f.cents,
         dim.prio_asof, dim.version,
         row_number() OVER (PARTITION BY f.o_custkey, f.d, f.o_orderpriority,
                                         f.cents, rowid_tag
                            ORDER BY dim.vf DESC, dim.version DESC) AS _r
  FROM (SELECT *, row_number() OVER () AS rowid_tag FROM facts) f
  LEFT JOIN dim ON dim.o_custkey = f.o_custkey AND dim.vf <= f.d
)
SELECT prio_asof,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(cents) AS DOUBLE) / 10000.0 AS revenue,
       CAST(sum(CASE WHEN prio_asof <> o_orderpriority THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shipped_under_changed_priority
FROM matched WHERE _r = 1
GROUP BY prio_asof
"""



AGG_DELTA_SPLIT_NS = 1_705_363_200_000_000_000  # 2024-01-16T00:00:00Z


def q_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance
    (``operators/scd.agg_delta_apply``): a per-user (count, cents)
    aggregate snapshot over events before Jan 16 is brought current
    WITHOUT rescanning the base — the changelog inserts the second
    half of the month and retracts every pre-split ``error`` event
    (a data-quality backfill). The oracle recomputes the final state
    from scratch (events minus pre-split errors), so the hash proves
    incremental maintenance ≡ recomputation on real data."""
    from stock_indicators_etl_spark.operators.scd import agg_delta_apply

    ev = _events(spark, sf_dir).select(
        "user_id",
        "ns",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    split = F.lit(AGG_DELTA_SPLIT_NS).cast("long")
    base = (
        ev.filter(F.col("ns") < split)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    inserts = ev.filter(F.col("ns") >= split).select(
        "user_id", F.lit("I").alias("op"), "cents"
    )
    retracts = ev.filter(
        (F.col("ns") < split) & (F.col("event_type") == "error")
    ).select("user_id", F.lit("D").alias("op"), "cents")
    log = inserts.unionByName(retracts)
    return agg_delta_apply(base, log, key_col="user_id")


SQL_AGG_DELTA = f"""
WITH src AS (
  SELECT user_id, (epoch_ns(ts) // 1000) * 1000 AS ns, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents
FROM src
WHERE NOT (ns < {AGG_DELTA_SPLIT_NS} AND event_type = 'error')
GROUP BY user_id
HAVING count(*) > 0
"""



def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the running-extremum closed form
    (DESIGN 4.22's CUSUM family): ``dd_t = max prefix(c) − c_t`` is
    one cumulative-max window, so the whole statistic is two window
    passes + a per-key argmax, no recursion. All integer cents; the
    trough row is the EARLIEST bar attaining the maximum drawdown,
    and ``peak_cents`` is the running peak at that trough. Output one
    row per ticker. All ordered windows tiebreak on the unique
    ``bar_id`` so the running peak and the argmax stay deterministic
    even under duplicate ``(ticker, ns)`` (none in testdata — but
    order-sensitive folds must never depend on partition order)."""
    bars = events_as_bars(spark, sf_dir, with_id=True)
    w = Window.partitionBy("ticker").orderBy("window_start", "bar_id")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    cents = F.floor(F.col("adj_close") * 100 + F.lit(0.5)).cast("long")
    d = bars.select("ticker", "window_start", "bar_id", cents.alias("c"))
    d = d.withColumn("peak", F.max("c").over(cum)).withColumn(
        "dd", F.col("peak") - F.col("c")
    )
    wa = Window.partitionBy("ticker").orderBy(
        F.col("dd").desc(), F.col("window_start").asc(), F.col("bar_id").asc()
    )
    return (
        d.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") == 1)
        .select(
            "ticker",
            F.col("dd").alias("max_dd_cents"),
            F.col("peak").alias("peak_cents"),
            F.col("c").alias("trough_cents"),
            F.col("window_start").alias("trough_ns"),
        )
    )


SQL_DRAWDOWN = f"""
WITH {BARS_CTE.strip()},
d AS (
  SELECT ticker, window_start,
         CAST(floor(adj_close * 100 + 0.5) AS BIGINT) AS c,
         CAST(max(CAST(floor(adj_close * 100 + 0.5) AS BIGINT))
              OVER (PARTITION BY ticker ORDER BY window_start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS peak
  FROM bars
),
r AS (
  SELECT ticker, peak - c AS dd, peak, c, window_start,
         row_number() OVER (PARTITION BY ticker
                            ORDER BY peak - c DESC, window_start ASC) AS _r
  FROM d
)
SELECT ticker, dd AS max_dd_cents, peak AS peak_cents,
       c AS trough_cents, window_start AS trough_ns
FROM r WHERE _r = 1
"""


XS_BUCKET_NS = 3_600_000_000_000  # 1 hour


def q_cross_sectional_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional ranking — the relative-strength shape: align
    every series to hourly buckets (last tick per bucket, exact
    (ns, event_id) tie order), then rank the universe WITHIN each
    bucket by closing cents. Two windows over two different keys
    (series for the alignment, bucket for the rank) — the second
    partitioning is the universe dimension, so no global sort ever
    happens. ``pct`` is one IEEE division of the integer rank over
    the bucket population."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ns",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    b = ev.withColumn("bucket", F.expr(f"ns div {XS_BUCKET_NS}"))
    wl = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ns").desc(), F.col("event_id").desc()
    )
    last = (
        b.withColumn("_r", F.row_number().over(wl))
        .filter(F.col("_r") == 1)
        .select("user_id", "bucket", "c")
    )
    wr = Window.partitionBy("bucket").orderBy(
        F.col("c").desc(), F.col("user_id").asc()
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    out = last.withColumn("rk", F.row_number().over(wr)).withColumn("n_universe", n)
    pct = F.when(
        F.col("n_universe") > 1,
        (F.col("rk") - F.lit(1)).cast("double")
        / (F.col("n_universe") - F.lit(1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "bucket",
        "user_id",
        F.col("c").alias("close_cents"),
        F.col("rk").cast("long").alias("rk"),
        F.col("n_universe").cast("long").alias("n_universe"),
        _rc(pct).alias("pct"),
    )


SQL_CROSS_SECTIONAL_RANK = f"""
WITH src AS (
  SELECT user_id, (epoch_ns(ts) // 1000) * 1000 AS ns, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
b AS (SELECT user_id, ns // {XS_BUCKET_NS} AS bucket, ns, event_id, c FROM src),
last AS (
  SELECT user_id, bucket, c
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                  ORDER BY ns DESC, event_id DESC) AS _r FROM b)
  WHERE _r = 1
),
rk AS (
  SELECT bucket, user_id, c,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY c DESC, user_id ASC) AS rk,
         count(*) OVER (PARTITION BY bucket) AS n_universe
  FROM last
)
SELECT bucket, user_id, c AS close_cents,
       CAST(rk AS BIGINT) AS rk, CAST(n_universe AS BIGINT) AS n_universe,
       {R6("CASE WHEN n_universe > 1 THEN CAST(rk - 1 AS DOUBLE) / CAST(n_universe - 1 AS DOUBLE) ELSE 0.0 END")} AS pct
FROM rk
"""


BETA_W = 24  # trailing buckets


def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling beta of each series against the MARKET index (the
    cross-sectional cents sum per hourly bucket): classic
    ``cov(x, y) / var(y)`` over a trailing-24-bucket frame, computed
    from INTEGER sums (Σx, Σy, Σxy, Σy² — BIGINT-exact, order-free)
    with one final fixed-order IEEE division. The index join is a
    broadcast (buckets-sized dim); the beta window shuffles once per
    series. NULL until the frame is full or while the index variance
    is zero."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ns",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    b = ev.withColumn("bucket", F.expr(f"ns div {XS_BUCKET_NS}"))
    wl = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ns").desc(), F.col("event_id").desc()
    )
    last = (
        b.withColumn("_r", F.row_number().over(wl))
        .filter(F.col("_r") == 1)
        .select("user_id", "bucket", "c")
    )
    market = last.groupBy("bucket").agg(F.sum("c").alias("y"))
    xy = last.join(F.broadcast(market), "bucket")
    w = Window.partitionBy("user_id").orderBy("bucket")
    frame = w.rowsBetween(-(BETA_W - 1), 0)
    sx = F.sum("c").over(frame)
    sy = F.sum("y").over(frame)
    sxy = F.sum(F.col("c") * F.col("y")).over(frame)
    syy = F.sum(F.col("y") * F.col("y")).over(frame)
    rn = F.row_number().over(w)
    out = (
        xy.withColumn("_sx", sx)
        .withColumn("_sy", sy)
        .withColumn("_sxy", sxy)
        .withColumn("_syy", syy)
        .withColumn("_rn", rn)
    )
    num = F.lit(BETA_W) * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.lit(BETA_W) * F.col("_syy") - F.col("_sy") * F.col("_sy")
    beta = F.when(
        (F.col("_rn") >= BETA_W) & (den != 0),
        num.cast("double") / den.cast("double"),
    )
    return out.select(
        "user_id", "bucket", _rc(beta).alias("beta")
    )


SQL_ROLLING_BETA = f"""
WITH src AS (
  SELECT user_id, (epoch_ns(ts) // 1000) * 1000 AS ns, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
b AS (SELECT user_id, ns // {XS_BUCKET_NS} AS bucket, ns, event_id, c FROM src),
last AS (
  SELECT user_id, bucket, c
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                  ORDER BY ns DESC, event_id DESC) AS _r FROM b)
  WHERE _r = 1
),
market AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS y FROM last GROUP BY bucket),
xy AS (SELECT l.user_id, l.bucket, l.c, m.y FROM last l JOIN market m USING (bucket)),
s AS (
  SELECT user_id, bucket,
         CAST(sum(c) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(c * y) OVER w AS BIGINT) AS sxy,
         CAST(sum(y * y) OVER w AS BIGINT) AS syy,
         row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS rn
  FROM xy
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN {BETA_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, bucket,
       CASE WHEN rn >= {BETA_W}
             AND {BETA_W} * syy - sy * sy <> 0
            THEN {R6(f"CAST({BETA_W} * sxy - sx * sy AS DOUBLE) / CAST({BETA_W} * syy - sy * sy AS DOUBLE)")}
       END AS beta
FROM s
"""



def q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL-divergence drift monitor (``operators/dq.kl_drift``): the
    asymmetric companion to ``histogram_drift`` — per event type,
    KL(second-half ‖ first-half) over the shared 16-bin histogram
    with add-one smoothing. The float sum folds over a bin-ORDERED
    array (aggregate ≡ list_reduce), so even the log-sum is
    engine-exact."""
    from stock_indicators_etl_spark.operators.dq import kl_drift

    ev = _events(spark, sf_dir)
    day = F.expr(f"ns div {_DAY_NS}")
    a = ev.filter(day < DRIFT_SPLIT_DAY)
    b = ev.filter(day >= DRIFT_SPLIT_DAY)
    out = kl_drift(a, b, ("event_type",), "value", n_bins=16)
    return out.withColumn("kl", _rc(F.col("kl")))


_KL_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform(arr, s -> "
    "((CAST(s.cb AS DOUBLE) + 1.0) / (CAST(n_b AS DOUBLE) + 16.0)) "
    "* ln(((CAST(s.cb AS DOUBLE) + 1.0) / (CAST(n_b AS DOUBLE) + 16.0)) "
    "/ ((CAST(s.ca AS DOUBLE) + 1.0) / (CAST(n_a AS DOUBLE) + 16.0))))), "
    "(a, b) -> a + b)"
)

SQL_KL_DRIFT = f"""
WITH u AS (
  SELECT event_type,
         CASE WHEN epoch_ns(ts) // {_DAY_NS} < {DRIFT_SPLIT_DAY}
              THEN 'a' ELSE 'b' END AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
bounds AS (
  SELECT event_type, min(cents) AS mn, max(cents) AS mx
  FROM u GROUP BY event_type
),
binned AS (
  SELECT u.event_type, u.side,
         (u.cents - b.mn) * 16 // (b.mx - b.mn + 1) AS bin
  FROM u JOIN bounds b ON u.event_type = b.event_type
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM binned GROUP BY event_type, bin
),
frame AS (
  SELECT k.event_type, b.bin,
         coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
  FROM (SELECT DISTINCT event_type FROM counts) k
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
  LEFT JOIN counts c ON c.event_type = k.event_type AND c.bin = b.bin
),
totals AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b
  FROM frame GROUP BY event_type
),
packed AS (
  SELECT f.event_type, t.n_a, t.n_b,
         list({{'ca': f.ca, 'cb': f.cb}} ORDER BY f.bin) AS arr
  FROM frame f JOIN totals t ON f.event_type = t.event_type
  GROUP BY f.event_type, t.n_a, t.n_b
)
SELECT event_type, n_a, n_b,
       {R6(_KL_FOLD)} AS kl
FROM packed
"""


# Benford expected first-digit probabilities, in ppm, computed once in
# Python and inlined as LITERALS in both engines (log10 differs by
# ulps across math libraries — a literal table cannot).
_BENFORD_PPM = {
    d: int(__import__("math").log10(1 + 1 / d) * 1_000_000 + 0.5)
    for d in range(1, 10)
}


def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance test on ``l_extendedprice`` — the
    classic data-quality screen for fabricated or truncated monetary
    columns. First significant digit is extracted via STRING of the
    integer part (no float log10 anywhere — cross-engine log ulps
    would flip boundary digits); expected probabilities are a 9-row
    Python-computed literal table inlined identically in the oracle.
    One combinable 9-group aggregate; the chi-square contribution per
    digit is one IEEE expression over exact integer counts."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    digit = F.substring(
        F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        li.filter(F.col("l_extendedprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_t"))
    exp_ppm = F.element_at(
        F.array(*[F.lit(_BENFORD_PPM[d]) for d in range(1, 10)]),
        F.col("digit"),
    )
    exp_n = F.col("_t").cast("double") * exp_ppm.cast("double") / F.lit(1e6)
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            exp_ppm.alias("expected_ppm"),
            F.expr("n * 1000000 div _t").alias("observed_ppm"),
            _rc((F.col("n").cast("double") - exp_n) ** 2 / exp_n).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {_BENFORD_PPM[d]}" for d in range(1, 10)
)

SQL_BENFORD_CHECK = f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS n
  FROM lineitem WHERE l_extendedprice >= 1
  GROUP BY 1
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS _t FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS expected_ppm,
       n * 1000000 // _t AS observed_ppm,
       {R6('power(CAST(n AS DOUBLE) - CAST(_t AS DOUBLE) * (CASE digit ' + _BENFORD_CASE + ' END) / 1e6, 2) / (CAST(_t AS DOUBLE) * (CASE digit ' + _BENFORD_CASE + ' END) / 1e6)')} AS chi2_term
FROM c CROSS JOIN t
ORDER BY digit
"""


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned join (``operators/bloom.py``): orders of
    negative-balance customers, revenue per order month. The customer
    key set compresses into a 16384-bit Bloom filter (256 literal
    int64 words — built by one combinable ``bit_or`` aggregate and a
    FILTER-SIZE-bounded collect), and the orders scan drops
    non-members BEFORE the shuffle, so the exchange carries only the
    ~selectivity + false-positive fraction of the fact table. The
    join still verifies exactly — the oracle is the PLAIN join SQL,
    which is the whole point: Bloom pruning must be invisible in the
    result at any false-positive rate."""
    from stock_indicators_etl_spark.operators.bloom import bloom_pruned_join

    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = bloom_pruned_join(orders, cust, "o_custkey", "c_custkey", m_bits=16384)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        j.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            cents.alias("_c"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _rc(F.sum("_c").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("month")
    )


SQL_BLOOM_JOIN = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       {R6("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0")} AS revenue
FROM orders
JOIN (SELECT c_custkey FROM customer WHERE c_acctbal < 0) c
  ON o_custkey = c_custkey
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# exact two-sample Kolmogorov-Smirnov drift
# ---------------------------------------------------------------------------


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift (``operators/dq.ks_drift``): the
    bin-free member of the drift family — per event type, the exact
    max CDF gap between the first- and second-half value
    distributions as the integer statistic ``max|cum_a·n_b −
    cum_b·n_a|`` (DECIMAL(38,0) cross products) over merged distinct
    cents, one IEEE division at the end."""
    from stock_indicators_etl_spark.operators.dq import ks_drift

    ev = _events(spark, sf_dir)
    day = F.expr(f"ns div {_DAY_NS}")
    a = ev.filter(day < DRIFT_SPLIT_DAY)
    b = ev.filter(day >= DRIFT_SPLIT_DAY)
    out = ks_drift(a, b, ("event_type",), "value")
    return out.withColumn("ks", _rc(F.col("ks")))


SQL_KS_DRIFT = f"""
WITH u AS (
  SELECT event_type,
         CASE WHEN epoch_ns(ts) // {_DAY_NS} < {DRIFT_SPLIT_DAY}
              THEN 'a' ELSE 'b' END AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
counts AS (
  SELECT event_type, cents,
         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM u GROUP BY 1, 2
),
cum AS (
  SELECT event_type, ca, cb,
         sum(ca) OVER (PARTITION BY event_type ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS cuma,
         sum(cb) OVER (PARTITION BY event_type ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS cumb
  FROM counts
),
tot AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b
  FROM counts GROUP BY event_type
),
stat AS (
  SELECT cum.event_type,
         CAST(count(*) AS BIGINT) AS n_values,
         max(abs(CAST(cuma AS HUGEINT) * t.n_b
               - CAST(cumb AS HUGEINT) * t.n_a)) AS dnum,
         any_value(t.n_a) AS n_a,
         any_value(t.n_b) AS n_b
  FROM cum JOIN tot t ON t.event_type = cum.event_type
  GROUP BY cum.event_type
)
SELECT event_type, n_a, n_b, n_values,
       CAST(dnum AS DOUBLE) AS d_num,
       CASE WHEN n_a = 0 OR n_b = 0 THEN 1.0
            ELSE {R6("CAST(dnum AS DOUBLE)"
                     " / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)")}
       END AS ks
FROM stat
"""


# ---------------------------------------------------------------------------
# equi-depth binning without a per-key sort (NTILE at scale)
# ---------------------------------------------------------------------------


def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth octile binning (``operators/stats.equidepth_bins``):
    the scale-correct NTILE — cuts from the two-pass histogram
    quantiles (no per-key sort anywhere), assignment a pure scan
    expression, ties value-deterministic. The fix the
    ``ntile_buckets`` scale note promises, as a first-class
    operator."""
    from stock_indicators_etl_spark.operators.stats import equidepth_bins

    ev = _events(spark, sf_dir)
    return equidepth_bins(ev, ("event_type",), "value", n_bins=8)


SQL_EQUIDEPTH_BINS = """
WITH eb AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
ebcuts AS (
  SELECT event_type, [quantile_disc(c, 1/8), quantile_disc(c, 2/8), quantile_disc(c, 3/8), quantile_disc(c, 4/8), quantile_disc(c, 5/8), quantile_disc(c, 6/8), quantile_disc(c, 7/8)] AS cuts
  FROM eb GROUP BY 1
)
SELECT eb.event_type,
       CAST(len(list_filter(cuts, x -> c > x)) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       min(c) AS min_cents,
       max(c) AS max_cents,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM eb JOIN ebcuts ON ebcuts.event_type = eb.event_type
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# leakage-safe leave-one-out target encoding
# ---------------------------------------------------------------------------

TE_SMOOTHING = 20


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOO target encoding (``operators/stats.target_encode_loo``) of
    the high-cardinality customer key by order total: each order's
    feature is its customer's smoothed mean total EXCLUDING itself —
    the leakage-safe production form of mean encoding. Exact BIGINT
    sums broadcast onto the scan; the encoding is a scan expression,
    the base table never shuffles."""
    from stock_indicators_etl_spark.operators.stats import target_encode_loo

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return target_encode_loo(
        o, "o_custkey", "o_totalprice", smoothing=TE_SMOOTHING
    )


SQL_TARGET_ENCODE = f"""
WITH teb AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
  FROM orders
),
tec AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s
  FROM teb GROUP BY 1
),
teg AS (
  SELECT CAST(count(*) AS BIGINT) AS gn, CAST(sum(y) AS BIGINT) AS gs
  FROM teb
)
SELECT b.o_orderkey, b.o_custkey, b.o_totalprice,
       c.n AS n_cat,
       floor((CAST(c.s - b.y AS DOUBLE)
              + {float(TE_SMOOTHING)} * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
             / (CAST(c.n - 1 AS DOUBLE) + {float(TE_SMOOTHING)})
             * 1000000 + 0.5) / 1000000 AS te
FROM teb b JOIN tec c ON c.o_custkey = b.o_custkey CROSS JOIN teg
"""


# ---------------------------------------------------------------------------
# semi-structured JSON property parsing
# ---------------------------------------------------------------------------


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd semi-structured parsing (the production JSON column
    pattern): ``from_json`` with an EXPLICIT schema — one parse pass,
    no schema inference scan, malformed rows become NULL structs
    counted as a QA column instead of killing the batch — then a
    combinable per-type aggregate over the extracted integer. The
    `events.props` column is the testdata's semi-structured payload."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parsed = ev.withColumn("_p", F.from_json(F.col("props"), "k BIGINT"))
    k = F.col("_p.k")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k.isNull().cast("long")).alias("n_unparsed"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )


SQL_JSON_PROPS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN json_extract(props, '$.k') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# one-pass column profiler
# ---------------------------------------------------------------------------

PROFILE_TOP_N = 3


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (``operators/dq.column_profile``):
    per column the row/null/distinct counts, the top-3 most frequent
    values, and — for the numeric column — exact discrete quantiles
    (min/quartiles/median/max) from the SAME value-count frame — the
    first thing a data engineer asks of an unknown table, as ONE
    unpivot + one combinable (column, value) count instead of N
    separate scans (quantile leg: r9 VERDICT next #8)."""
    from stock_indicators_etl_spark.operators.dq import column_profile

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return column_profile(
        o,
        ("o_orderstatus", "o_orderpriority", "o_custkey"),
        top_n=PROFILE_TOP_N,
        num_cols=("o_custkey",),
    )


SQL_COLUMN_PROFILE = f"""
WITH cpv AS (
  SELECT col, val FROM (
    SELECT unnest(['o_orderstatus', 'o_orderpriority', 'o_custkey']) AS col,
           unnest([CAST(o_orderstatus AS VARCHAR),
                   CAST(o_orderpriority AS VARCHAR),
                   CAST(o_custkey AS VARCHAR)]) AS val
    FROM orders)
),
cpc AS (
  SELECT col, val, CAST(count(*) AS BIGINT) AS n
  FROM cpv WHERE val IS NOT NULL GROUP BY 1, 2
),
cptop AS (
  SELECT 'top' AS kind, col,
         CAST(row_number() OVER (PARTITION BY col
                                 ORDER BY n DESC, val ASC) AS BIGINT) AS rank,
         val AS value, n,
         CAST(NULL AS BIGINT) AS n_rows,
         CAST(NULL AS BIGINT) AS n_null,
         CAST(NULL AS BIGINT) AS n_distinct
  FROM cpc
  QUALIFY rank <= {PROFILE_TOP_N}
),
cpsum AS (
  SELECT 'summary' AS kind, col,
         CAST(NULL AS BIGINT) AS rank,
         CAST(NULL AS VARCHAR) AS value,
         CAST(NULL AS BIGINT) AS n,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) - CAST(sum(n) AS BIGINT)
           AS n_null,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM cpc GROUP BY col
),
cpnum AS (
  -- TRY_CAST + IS NOT NULL mirrors the engine's drop-unparseable
  -- rule: both sides rank and count only the castable population
  SELECT col, val, n,
         CAST(sum(n) OVER (PARTITION BY col
                           ORDER BY TRY_CAST(val AS DOUBLE) ASC, val ASC)
              AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY col) AS BIGINT) AS nn
  FROM cpc
  WHERE col = 'o_custkey' AND TRY_CAST(val AS DOUBLE) IS NOT NULL
),
cpq AS (
  SELECT 'quantile' AS kind, col, CAST(q AS BIGINT) AS rank,
         val AS value,
         CAST(NULL AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS n_rows,
         CAST(NULL AS BIGINT) AS n_null,
         CAST(NULL AS BIGINT) AS n_distinct
  FROM cpnum
  CROSS JOIN (SELECT unnest([0, 250000, 500000, 750000, 1000000]) AS q)
  WHERE cum >= greatest(1, (q * nn + 999999) // 1000000)
    AND cum - n < greatest(1, (q * nn + 999999) // 1000000)
)
SELECT * FROM cptop
UNION ALL
SELECT * FROM cpsum
UNION ALL
SELECT * FROM cpq
"""


# ---------------------------------------------------------------------------
# purged temporal split (embargo window)
# ---------------------------------------------------------------------------

SPLIT_EMBARGO_DAYS = 2


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-based split (``llmdata/sampling.temporal_split``):
    train strictly before the boundary day, a 2-day embargo dropped
    from both sides (autocorrelated features straddling the boundary
    leak future information into training — the financial-ML purged
    rule), test after. Per event type, exact counts + cents sums per
    split — the audit a temporal-split run publishes. Integer-ns
    comparisons, pure scan + one combinable aggregate."""
    from stock_indicators_etl_spark.llmdata.sampling import temporal_split

    ev = _events(spark, sf_dir)
    out = temporal_split(
        ev,
        "ns",
        train_end_ns=DRIFT_SPLIT_DAY * _DAY_NS,
        embargo_ns=SPLIT_EMBARGO_DAYS * _DAY_NS,
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        out.select("event_type", "split", cents.alias("_c"))
        .groupBy("event_type", "split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_c").alias("sum_cents"),
        )
    )


SQL_TEMPORAL_SPLIT = f"""
WITH tsp AS (
  SELECT event_type,
         CASE WHEN epoch_ns(ts) < {DRIFT_SPLIT_DAY} * {_DAY_NS} THEN 'train'
              WHEN epoch_ns(ts) < ({DRIFT_SPLIT_DAY} + {SPLIT_EMBARGO_DAYS})
                                  * {_DAY_NS} THEN 'embargo'
              ELSE 'test' END AS split,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
)
SELECT event_type, split,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM tsp GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Welch two-sample t drift (parametric leg)
# ---------------------------------------------------------------------------


def q_welch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t drift (``operators/stats.welch_drift``): the parametric
    leg of the drift family — per event type, did the MEAN move
    relative to the noise between the two snapshot halves. Exact
    BIGINT/DECIMAL(38,0) sums, one fixed IEEE tail, ONE combinable
    aggregate over the union — the cheapest monitor of the four."""
    from stock_indicators_etl_spark.operators.stats import welch_drift

    ev = _events(spark, sf_dir)
    day = F.expr(f"ns div {_DAY_NS}")
    a = ev.filter(day < DRIFT_SPLIT_DAY)
    b = ev.filter(day >= DRIFT_SPLIT_DAY)
    return welch_drift(a, b, ("event_type",), "value")


SQL_WELCH_DRIFT = f"""
WITH u AS (
  SELECT event_type,
         CASE WHEN epoch_ns(ts) // {_DAY_NS} < {DRIFT_SPLIT_DAY}
              THEN 'a' ELSE 'b' END AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN side = 'a' THEN c ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN side = 'b' THEN c ELSE 0 END) AS BIGINT) AS sb,
         sum(CASE WHEN side = 'a' THEN CAST(c AS HUGEINT) * c
                  ELSE 0 END) AS ssa,
         sum(CASE WHEN side = 'b' THEN CAST(c AS HUGEINT) * c
                  ELSE 0 END) AS ssb
  FROM u GROUP BY event_type
),
w AS (
  SELECT event_type, n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
         CAST(ssa AS DOUBLE) AS ssad, CAST(ssb AS DOUBLE) AS ssbd
  FROM agg
),
v AS (
  SELECT event_type, n_a, n_b, na, nb,
         sad / na AS ma, sbd / nb AS mb,
         (na * ssad - sad * sad) / (na * (na - 1.0)) AS va,
         (nb * ssbd - sbd * sbd) / (nb * (nb - 1.0)) AS vb
  FROM w
),
s AS (
  SELECT event_type, n_a, n_b, na, nb, ma, mb, va, vb,
         va / na + vb / nb AS se2
  FROM v
)
SELECT event_type, n_a, n_b,
       {R6("ma - mb")} AS mean_shift_cents,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
            THEN {R6("(ma - mb) / sqrt(se2)")} END AS t_stat,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
            THEN {R6("(se2 * se2) / ((va / na) * (va / na) / (na - 1.0)"
                     " + (vb / nb) * (vb / nb) / (nb - 1.0))")} END AS dof
FROM s
"""


# ---------------------------------------------------------------------------
# TPC-H Q5: local supplier volume (completes the 22-query set)
# ---------------------------------------------------------------------------

Q5_REGION = "ASIA"


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the last of the 22: revenue per nation from
    orders where the CUSTOMER and the SUPPLIER share the nation,
    within one region and order year. The six-table join plans as the
    lineitem ⋈ orders ⋈ customer spine with supplier + the broadcast
    nation⋈region dim chain; the c_nationkey = s_nationkey
    equality is applied as a post-join filter on the two small dim
    columns. Revenue is the Q7/Q9 idiom: per-row floor to integer
    10⁻⁴ units, then an associative BIGINT sum."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == Q5_REGION
    )
    n = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("s_nationkey").alias("_snk"), "n_name")
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", F.col("c_nationkey").alias("_cnk")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("_cnk") == F.col("_snk"))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("long")
    return (
        j.select("n_name", cents.alias("cents"))
        .groupBy("n_name")
        .agg(
            (F.sum("cents").cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = '{Q5_REGION}'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# shuffle-key skew diagnostic
# ---------------------------------------------------------------------------

SKEW_TOP_N = 10


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight (``operators/dq.skew_report``) on the
    orders→customer key: top-10 heaviest customers with ppm shares
    plus the summary row (key count, max/mean ratio, exact Gini of
    the key distribution in ppm) — the report that decides salting
    BEFORE a 100 TB shuffle. Everything after the one (key) count
    shuffle is bounded by KEY cardinality."""
    from stock_indicators_etl_spark.operators.dq import skew_report

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return skew_report(orders, ("o_custkey",), top_n=SKEW_TOP_N)


SQL_SKEW_REPORT = f"""
WITH kc AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows
  FROM kc
),
topk AS (
  SELECT 'top' AS kind,
         CAST(row_number() OVER (ORDER BY n DESC, key ASC) AS BIGINT) AS rank,
         key, n AS n_rows,
         CAST(n * 1000000 // t.n_rows AS BIGINT) AS share_ppm,
         CAST(NULL AS BIGINT) AS n_keys,
         CAST(NULL AS BIGINT) AS max_over_mean_ppm,
         CAST(NULL AS BIGINT) AS gini_ppm
  FROM kc, tot t
  ORDER BY n DESC, key ASC
  LIMIT {SKEW_TOP_N}
),
grk AS (
  SELECT n, row_number() OVER (ORDER BY n ASC, key ASC) AS i FROM kc
),
gg AS (
  SELECT sum((2 * CAST(i AS HUGEINT) - t.n_keys - 1) * n) AS gnum,
         max(n) AS mx,
         any_value(t.n_keys) AS n_keys,
         any_value(t.n_rows) AS n_rows
  FROM grk, tot t
),
summ AS (
  SELECT 'summary' AS kind,
         CAST(NULL AS BIGINT) AS rank,
         CAST(NULL AS VARCHAR) AS key,
         n_rows,
         CAST(NULL AS BIGINT) AS share_ppm,
         n_keys,
         CAST(floor(CAST(CAST(mx AS HUGEINT) * n_keys AS DOUBLE) * 1000000.0
                    / CAST(n_rows AS DOUBLE)) AS BIGINT) AS max_over_mean_ppm,
         CAST(floor(CAST(gnum AS DOUBLE) * 1000000.0
                    / CAST(CAST(n_keys AS HUGEINT) * n_rows AS DOUBLE))
              AS BIGINT) AS gini_ppm
  FROM gg
)
SELECT * FROM topk
UNION ALL
SELECT * FROM summ
"""


# One record per query; ``__spark_entry__`` derives every surface from these.
RECORDS: tuple[Query, ...] = (
    Query("market_hours_filter", q_market_hours, SQL_MARKET_HOURS),
    Query("rocp_mom", q_rocp, SQL_ROCP),
    Query("segmentation", q_segmentation, SQL_SEGMENTATION),
    Query("gapfill", q_gapfill, SQL_GAPFILL),
    Query("interpolate", q_interpolate, SQL_INTERPOLATE),
    Query("distinct_users_cube", q_distinct_users_cube, SQL_DISTINCT_USERS_CUBE),
    Query("corr_matrix", q_corr_matrix, SQL_CORR_MATRIX),
    Query("histogram_drift", q_histogram_drift, SQL_HISTOGRAM_DRIFT),
    Query("exact_median", q_exact_median, SQL_EXACT_MEDIAN),
    Query("exact_quantiles", q_exact_quantiles, SQL_EXACT_QUANTILES),
    Query("rolling_robust", q_rolling_robust, SQL_ROLLING_ROBUST),
    Query("mfi", q_mfi, SQL_MFI),
    Query("ultosc", q_ultosc, SQL_ULTOSC),
    Query("aroonosc", q_aroonosc, SQL_AROONOSC),
    Query("ppo", q_ppo, SQL_PPO),
    Query("stochf", q_stochf, SQL_STOCHF),
    Query("cci", q_cci, SQL_CCI),
    Query("iso_week", q_iso_week, SQL_ISO_WEEK),
    Query("pricing_summary", q_pricing_summary, SQL_PRICING_SUMMARY),
    Query("revenue_by_nation", q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    Query(
        "top_orders_per_segment", q_top_orders_per_segment,
        SQL_TOP_ORDERS_PER_SEGMENT,
    ),
    Query("sessionize", q_sessionize, SQL_SESSIONIZE),
    Query("ohlcv_rollup", q_ohlcv_rollup, SQL_OHLCV_ROLLUP),
    # the four recursive families as one driver entry (the driver records
    # at most 50); the single-feature variants re-time subsets of the
    # same fused stage, so only the combined entry is benched
    Query(
        "recursive_family", _q_recursive(["rsi", "cmo", "macd", "adx"]),
        SQL_RECURSIVE_FAMILY, driver=True, warm=2,
    ),
    Query("rsi_wilder", _q_recursive(["rsi"]), SQL_RSI_WILDER, bench=False),
    Query("cmo_wilder", _q_recursive(["cmo"]), SQL_CMO_WILDER, bench=False),
    Query("macdfix_hist", _q_recursive(["macd"]), SQL_MACDFIX_HIST, bench=False),
    Query("adx_family", _q_recursive(["adx"]), SQL_ADX_FAMILY, bench=False),
    Query(
        "pipeline_wilder", q_pipeline_wilder, SQL_PIPELINE_WILDER, driver=True,
        warm=2,
    ),
    Query(
        "indicator_pipeline_grid", q_indicator_pipeline_grid,
        SQL_INDICATOR_PIPELINE_GRID, driver=True, warm=2,
    ),
    Query("regularity_check", q_regularity_check, SQL_REGULARITY_CHECK),
    Query("unpivot_melt", q_unpivot_melt, SQL_UNPIVOT_MELT),
    Query("universe_join", q_universe_join, SQL_UNIVERSE_JOIN),
    Query("scalar_timefns", q_scalar_timefns, SQL_SCALAR_TIMEFNS),
    Query("asof_join", q_asof_join, SQL_ASOF_JOIN),
    Query("interval_join", q_interval_join, SQL_INTERVAL_JOIN),
    Query("funnel", q_funnel, SQL_FUNNEL),
    Query("shipping_priority", q_shipping_priority, SQL_SHIPPING_PRIORITY, warm=2),
    Query("volume_shipping", q_volume_shipping, SQL_VOLUME_SHIPPING),
    Query("large_orders", q_large_orders, SQL_LARGE_ORDERS),
    Query("order_priority_check", q_order_priority_check, SQL_ORDER_PRIORITY_CHECK),
    Query("dormant_customers", q_dormant_customers, SQL_DORMANT_CUSTOMERS),
    Query("scd2_history", q_scd2_history, SQL_SCD2_HISTORY),
    Query("ols_by_key", q_ols_by_key, SQL_OLS_BY_KEY),
    Query("winsorize", q_winsorize, SQL_WINSORIZE),
    Query("winsorize_hist", q_winsorize_hist, SQL_WINSORIZE_HIST),
    Query("small_qty_revenue", q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
    Query("waiting_suppliers", q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
    Query("snapshot_diff", q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    Query("winsorize_approx", q_winsorize_approx, SQL_WINSORIZE_APPROX),
    Query("dq_check", q_dq_check, SQL_DQ_CHECK),
    Query("rollup_aggregate", q_rollup_aggregate, SQL_ROLLUP_AGGREGATE),
    Query("sales_cube", q_sales_cube, SQL_SALES_CUBE),
    Query("retention", q_retention, SQL_RETENTION),
    Query("returned_items", q_returned_items, SQL_RETURNED_ITEMS),
    Query("customer_orders_hist", q_customer_orders_hist, SQL_CUSTOMER_ORDERS_HIST),
    Query("promo_revenue", q_promo_revenue, SQL_PROMO_REVENUE),
    Query("disjunctive_parts", q_disjunctive_parts, SQL_DISJUNCTIVE_PARTS),
    Query("market_share", q_market_share, SQL_MARKET_SHARE),
    Query("top_supplier", q_top_supplier, SQL_TOP_SUPPLIER),
    Query("supplier_part_counts", q_supplier_part_counts, SQL_SUPPLIER_PART_COUNTS),
    Query("cdc_merge", q_cdc_merge, SQL_CDC_MERGE),
    Query("mad_outliers", q_mad_outliers, SQL_MAD_OUTLIERS),
    Query("value_histogram", q_value_histogram, SQL_VALUE_HISTOGRAM),
    Query("twap", q_twap, SQL_TWAP),
    Query("min_cost_supplier", q_min_cost_supplier, SQL_MIN_COST_SUPPLIER),
    Query("profit_by_nation", q_profit_by_nation, SQL_PROFIT_BY_NATION),
    Query("important_stock", q_important_stock, SQL_IMPORTANT_STOCK),
    Query("excess_suppliers", q_excess_suppliers, SQL_EXCESS_SUPPLIERS),
    Query("pivot_matrix", q_pivot_matrix, SQL_PIVOT_MATRIX),
    Query("ntile_buckets", q_ntile_buckets, SQL_NTILE_BUCKETS),
    Query("top_paths", q_top_paths, SQL_TOP_PATHS),
    Query("sliding_counts", q_sliding_counts, SQL_SLIDING_COUNTS),
    Query("attribution", q_attribution, SQL_ATTRIBUTION),
    Query("standardize", q_standardize, SQL_STANDARDIZE),
    Query("forecast_revenue", q_forecast_revenue, SQL_FORECAST_REVENUE),
    Query("shipmode_priority", q_shipmode_priority, SQL_SHIPMODE_PRIORITY),
    Query("bollinger", q_bollinger, SQL_BOLLINGER),
    Query("obv", q_obv, SQL_OBV),
    Query("cusum", q_cusum, SQL_CUSUM),
    Query("pit_join", q_pit_join, SQL_PIT_JOIN),
    Query("agg_delta", q_agg_delta, SQL_AGG_DELTA),
    Query("drawdown", q_drawdown, SQL_DRAWDOWN),
    Query("cross_sectional_rank", q_cross_sectional_rank, SQL_CROSS_SECTIONAL_RANK),
    Query("rolling_beta", q_rolling_beta, SQL_ROLLING_BETA),
    Query("kl_drift", q_kl_drift, SQL_KL_DRIFT),
    Query("benford_check", q_benford_check, SQL_BENFORD_CHECK, driver=True),
    # collects the Bloom filter words at construction
    Query("bloom_join", q_bloom_join, SQL_BLOOM_JOIN, driver=True, eager=True),
    Query("ks_drift", q_ks_drift, SQL_KS_DRIFT, driver=True),
    Query("equidepth_bins", q_equidepth_bins, SQL_EQUIDEPTH_BINS, driver=True),
    Query("target_encode", q_target_encode, SQL_TARGET_ENCODE, driver=True),
    Query("json_props", q_json_props, SQL_JSON_PROPS, driver=True),
    Query("column_profile", q_column_profile, SQL_COLUMN_PROFILE, driver=True),
    Query("temporal_split", q_temporal_split, SQL_TEMPORAL_SPLIT, driver=True),
    Query("welch_drift", q_welch_drift, SQL_WELCH_DRIFT, driver=True),
    Query("local_supplier_volume", q_local_supplier_volume, SQL_LOCAL_SUPPLIER_VOLUME),
    Query("skew_report", q_skew_report, SQL_SKEW_REPORT, driver=True),
)
