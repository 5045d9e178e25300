"""Day-granular job drivers (SURVEY.md §3 E1/E2/E3).

Thin CLIs mirroring the reference's two jobs — same argv contract
(``--execution_date``, ``--interval``; ``data_indicators.py:71-77``,
``data_download_yahoo.py:115-121``) — so any scheduler that ran the
reference (the 2-task weekday-cron Airflow DAG, ``airflow_dag.py``)
can run these instead. Each invocation processes exactly one logical
day; missing input → clean no-op exit (``data_indicators.py:37-39``).

Usage:
  python -m stock_indicators_etl_spark.streaming.daily download \
      --execution_date 2024-01-02 --interval 1m --base /data/yahoo \
      [--tickers AAPL,MSFT | --ticker_csv path.csv] [--synthetic]
  python -m stock_indicators_etl_spark.streaming.daily indicators \
      --execution_date 2024-01-02 --interval 1m \
      --src /data/yahoo --dst /data/indicators
"""

from __future__ import annotations

import argparse
import sys

from pyspark.errors import AnalysisException

from stock_indicators_etl_spark.config import IndicatorConfig
from stock_indicators_etl_spark.operators.pipeline import generate_indicators
from stock_indicators_etl_spark.session import get_spark
from stock_indicators_etl_spark.sources.io import (
    read_bars_day,
    read_ticker_csv,
    write_bars_day,
)
from stock_indicators_etl_spark.sources.yahoo import (
    download_bars,
    synthetic_fetch,
    yfinance_fetch,
)


def run_download(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="download_bars")
    if args.tickers:
        tickers = args.tickers.split(",")
    elif args.ticker_csv:
        tickers = [r.ticker for r in read_ticker_csv(spark, args.ticker_csv).collect()]
    elif args.synthetic:
        tickers = ["AAPL", "GOOG", "MSFT", "SPY", "VOO"]  # offline default
    else:
        raise SystemExit("need --tickers or --ticker_csv")
    fetch = synthetic_fetch if args.synthetic else yfinance_fetch
    bars = download_bars(
        spark, tickers, args.execution_date, args.interval, fetch_fn=fetch
    )
    write_bars_day(bars, args.base, args.interval, args.execution_date)
    return 0


def run_indicators(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="generate_indicators")
    try:
        bars = read_bars_day(spark, args.src, args.interval, args.execution_date)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        bars = None
    # missing day → skip (reference behavior, data_indicators.py:37-39):
    # no store yet, or a store without this day's partition
    if bars is None or bars.isEmpty():
        print(f"no input for {args.execution_date}; skipping")
        return 0
    out = generate_indicators(bars, IndicatorConfig(), date=args.execution_date)
    write_bars_day(out, args.dst, args.interval, args.execution_date)
    return 0


def run_backfill(args: argparse.Namespace) -> int:
    """Date-range indicator backfill as ONE distributed job.

    The reference backfills via ≤8 concurrent single-day Airflow runs
    (``airflow_dag.py:24-26``); here partition pruning selects the
    [start, end] day range from the archive in one scan and the whole
    range flows through one ``generate_indicators`` plan. Per-day
    market-session bounds are computed as Column expressions
    (``to_utc_timestamp`` of each row's own day), so no driver-side
    loop over days exists anywhere.
    """
    from pyspark.sql import functions as F

    NS = 1_000_000_000
    spark = get_spark(app_name="backfill_indicators", long_lived=True)
    cfg = IndicatorConfig()
    bars = (
        spark.read.parquet(args.src)
        .filter(F.col("interval") == args.interval)
        .filter((F.col("day") >= args.start) & (F.col("day") <= args.end))
    )
    if bars.isEmpty():
        print(f"no input in [{args.start}, {args.end}]; skipping")
        return 0
    lo = (
        F.unix_timestamp(
            F.to_utc_timestamp(F.concat_ws(" ", "day", F.lit(cfg.market_open)), cfg.tz)
        ).cast("long")
        * NS
    )
    hi = (
        F.unix_timestamp(
            F.to_utc_timestamp(F.concat_ws(" ", "day", F.lit(cfg.market_close)), cfg.tz)
        ).cast("long")
        * NS
    )
    ws = F.col(cfg.time_column)
    # each row's ET day: segmentation partitions on it so segment
    # renumbering restarts per (ticker, day) — the labels a sequence
    # of single-day runs would produce (ADVICE r1). The day rides
    # inside sub_ticker ("AAPL-2024-01-02-3") through the pipeline so
    # series stay day-scoped everywhere, then the infix is stripped
    # from the output label ("AAPL-3").
    et_day = F.date_format(
        F.from_utc_timestamp(
            F.timestamp_micros((ws / F.lit(1000)).cast("long")), cfg.tz
        ),
        "yyyy-MM-dd",
    )
    in_session = (
        bars.filter((ws >= lo) & (ws < hi))
        .drop("interval", "year", "month", "day")
        .withColumn("_et_day", et_day)
    )
    out = generate_indicators(in_session, cfg, extra_segment_keys=("_et_day",))
    # re-derive each output row's ET day for the partitioned sink
    day = F.date_format(
        F.from_utc_timestamp(
            F.timestamp_micros((ws / F.lit(1000)).cast("long")), cfg.tz
        ),
        "yyyy-MM-dd",
    )
    (
        out.withColumn(
            "ticker",
            F.regexp_replace(F.col("ticker"), r"-\d{4}-\d{2}-\d{2}-(\d+)$", "-$1"),
        )
        .withColumn("interval", F.lit(args.interval))
        .withColumn("day", day)
        .withColumn("year", F.year("day"))
        .withColumn("month", F.month("day"))
        .write.mode("overwrite")
        .partitionBy("interval", "year", "month", "day")
        .option("compression", "gzip")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(args.dst)
    )
    return 0


def _load_dotenv(path: str = ".env") -> None:
    """Minimal ``.env`` loader (reference parity: both reference jobs
    call ``dotenv.load_dotenv()`` before reading their base paths,
    ``data_indicators.py:13-17``, ``data_download_yahoo.py:12-16``).
    Existing environment wins; no third-party dependency."""
    import os

    try:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#") or "=" not in line:
                    continue
                k, _, v = line.partition("=")
                os.environ.setdefault(k.strip(), v.strip().strip("'\""))
    except OSError:
        pass


def main(argv: list[str] | None = None) -> int:
    import os

    # S6 env-config source: flags win, else YAHOO_BASE (bars archive)
    # and INDICATOR_BASE (features sink) — the same variables the
    # reference reads, so a scheduler exporting env instead of argv
    # is drop-in.
    _load_dotenv()
    yahoo_base = os.environ.get("YAHOO_BASE")
    indicator_base = os.environ.get("INDICATOR_BASE")

    p = argparse.ArgumentParser(prog="daily")
    sub = p.add_subparsers(dest="job", required=True)

    d = sub.add_parser("download")
    d.add_argument("--execution_date", required=True)
    d.add_argument("--interval", default="1m")
    d.add_argument("--base", default=yahoo_base, required=yahoo_base is None)
    d.add_argument("--tickers", default=None)
    d.add_argument("--ticker_csv", default=None)
    d.add_argument("--synthetic", action="store_true")
    d.set_defaults(fn=run_download)

    i = sub.add_parser("indicators")
    i.add_argument("--execution_date", required=True)
    i.add_argument("--interval", default="1m")
    i.add_argument("--src", default=yahoo_base, required=yahoo_base is None)
    i.add_argument("--dst", default=indicator_base, required=indicator_base is None)
    i.set_defaults(fn=run_indicators)

    b = sub.add_parser("backfill")
    b.add_argument("--start", required=True)
    b.add_argument("--end", required=True)
    b.add_argument("--interval", default="1m")
    b.add_argument("--src", default=yahoo_base, required=yahoo_base is None)
    b.add_argument("--dst", default=indicator_base, required=indicator_base is None)
    b.set_defaults(fn=run_backfill)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
