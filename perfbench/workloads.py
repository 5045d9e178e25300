"""The benchmark's workloads.

Each workload stages its generated inputs, runs the program through its
public functions (``run``), runs the same job cut at every layer boundary
under a :class:`~trace.Tracer` (``traced_run``) and checks an output
directory (``check``). Outputs always go to a directory the caller
creates per run, so a check reads exactly one run's output.
"""

from __future__ import annotations

import inspect
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
import reference
from spans import Tracer


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksums and markers."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _read_parquet_dir(path: str) -> pd.DataFrame:
    """All rows of the parquet files in ``path`` (hidden files skipped)."""
    return pq.read_table(path).to_pandas()


@dataclass
class StagedFetch:
    """``fetch_fn`` for ``download_bars``: serves a chunk's tickers from
    the parquet file staged during set-up instead of the network."""

    path: str

    def __call__(self, tickers: list[str], start: str, end: str, interval: str) -> pd.DataFrame:
        rows = pd.read_parquet(self.path, filters=[("src", "in", list(tickers))])
        return rows.drop(columns="src")


@dataclass
class DailyEtl:
    """The paper's daily DAG: download one trading day of one-minute bars,
    land them in the day-partitioned store, read the day back, compute the
    indicators and write them as a day partition.

    The store already holds three other days, so the read shows whether
    partition pruning holds.
    """

    seed: int
    n_tickers: int = 250
    session_bars: int = 90
    sample: int = 16
    name: str = "daily_etl"
    day: str = gen.TRADING_DAYS[2]
    interval: str = "1m"
    info: dict = field(default_factory=dict)

    def stage(self, root: str) -> None:
        """Generate the archive and write the fetch source and the store."""
        os.makedirs(root)
        self.src = os.path.join(root, "fetch_source.parquet")
        self.store = os.path.join(root, "bars")
        archive = gen.make_bars(self.seed, self.n_tickers, gen.TRADING_DAYS, self.session_bars)
        day_of = pd.to_datetime(archive["window_start"], utc=True).dt.strftime("%Y-%m-%d")
        self.bars = archive[day_of == self.day].drop(columns="src").reset_index(drop=True)
        fetch = archive[day_of == self.day].sort_values("src", kind="stable")
        pq.write_table(pa.Table.from_pandas(fetch, preserve_index=False), self.src, row_group_size=2000)
        for d in gen.TRADING_DAYS:
            if d == self.day:
                continue
            part = os.path.join(self.store, f"interval={self.interval}", "year=2024", "month=1", f"day={d}")
            os.makedirs(part)
            rows = archive[day_of == d].drop(columns="src")
            pq.write_table(
                pa.Table.from_pandas(rows, preserve_index=False),
                os.path.join(part, "part-00000.gz.parquet"),
                compression="gzip",
            )
        self.tickers = gen.tickers(self.n_tickers)
        self.rows = len(self.bars)
        self.lo_ns = gen.session_open_ns(self.day)
        self.hi_ns = self.lo_ns + 7 * 3600 * gen.NS  # 16:30 ET, the reference's close bound
        rng = np.random.default_rng(self.seed + 1)
        self.sampled = sorted(
            {self.tickers[0], self.tickers[-1], *rng.choice(self.tickers, min(self.sample, self.n_tickers), replace=False)}
        )
        self.info = {
            "input_rows": self.rows,
            "archive_rows": len(archive),
            "fetch_source_bytes": os.path.getsize(self.src),
            "store_bytes": _dir_stats(self.store)[1],
            "tickers": self.n_tickers,
            "session_bars": self.session_bars,
            "day": self.day,
            "store_days": len(gen.TRADING_DAYS),
        }

    def _day_partition(self, base: str) -> str:
        return os.path.join(
            base, f"interval={self.interval}", "year=2024", "month=1", f"day={self.day}"
        )

    def reset(self) -> None:
        """Remove the day's raw partition, so every run lands it afresh."""
        shutil.rmtree(self._day_partition(self.store), ignore_errors=True)

    def run(self, spark: SparkSession, out: str) -> None:
        from stock_indicators_etl_spark.operators.pipeline import generate_indicators
        from stock_indicators_etl_spark.sources.io import read_bars_day, write_bars_day
        from stock_indicators_etl_spark.sources.yahoo import download_bars

        raw = download_bars(spark, self.tickers, self.day, self.interval, fetch_fn=StagedFetch(self.src))
        write_bars_day(raw, self.store, self.interval, self.day)
        bars = read_bars_day(spark, self.store, self.interval, self.day)
        write_bars_day(generate_indicators(bars, date=self.day), out, self.interval, self.day)

    def traced_run(self, spark: SparkSession, tr: Tracer, out: str) -> dict[str, float]:
        from stock_indicators_etl_spark.config import IndicatorConfig
        from stock_indicators_etl_spark.operators.pipeline import generate_indicators, prepare_grid
        from stock_indicators_etl_spark.operators.recursive import with_recursive_indicators
        from stock_indicators_etl_spark.sources.io import read_bars_day, write_bars_day
        from stock_indicators_etl_spark.sources.yahoo import download_bars

        cfg = IndicatorConfig()
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> tuple[DataFrame, int]:
            df = df.persist()
            pinned.append(df)
            return df, df.count()

        with tr.span("run"):
            with tr.span("sources.yahoo"):
                raw, _ = pin(download_bars(
                    spark, self.tickers, self.day, self.interval, fetch_fn=StagedFetch(self.src)
                ))
            with tr.span("sources.io.write_bars"):
                write_bars_day(raw, self.store, self.interval, self.day)
            with tr.span("sources.io.read"):
                scan = read_bars_day(spark, self.store, self.interval, self.day)
                bars, rows_in = pin(scan)
            with tr.span("operators.pipeline"):
                with tr.span("operators.timegrid"):
                    grid, rows_grid = pin(prepare_grid(bars, cfg, self.day))
                with tr.span("operators.rolling"):
                    windowed, _ = pin(window_indicators(grid, cfg))
                with tr.span("operators.recursive"):
                    pin(recursive_indicators(windowed, cfg, with_recursive_indicators))
                # the full call finds the three pinned layers in the cache
                # and only assembles, scales and drops incomplete rows
                feats, _ = pin(generate_indicators(bars, cfg, date=self.day))
                _require_cached_layers(feats)
            with tr.span("sources.io.write_indicators"):
                write_bars_day(feats, out, self.interval, self.day)
        for df in pinned:
            df.unpersist()

        files_written, bytes_written = _dir_stats(self._day_partition(self.store))
        out_files, out_bytes = _dir_stats(out)
        yahoo, timegrid, rolling, recursive = (
            tr.totals(s) for s in ("sources.yahoo", "operators.timegrid", "operators.rolling", "operators.recursive")
        )
        pipe = tr.totals("operators.pipeline", with_children=True)
        pipe_cores_s = tr.get("operators.pipeline").seconds * spark.sparkContext.defaultParallelism
        return {
            "sources.yahoo.download_s": tr.get("sources.yahoo").seconds,
            "sources.yahoo.tasks": yahoo.tasks,
            "sources.io.read_s": tr.get("sources.io.read").seconds,
            "sources.io.write_s": tr.get("sources.io.write_bars").seconds
            + tr.get("sources.io.write_indicators").seconds,
            "sources.io.files_read": _files_scanned(scan),
            "sources.io.files_written": files_written + out_files,
            "sources.io.bytes_written": bytes_written + out_bytes,
            "operators.timegrid.self_s": tr.self_seconds("operators.timegrid"),
            "operators.timegrid.shuffle_write_bytes": timegrid.shuffle_write_bytes,
            "operators.timegrid.fill_ratio": rows_grid / rows_in,
            "operators.rolling.self_s": tr.self_seconds("operators.rolling"),
            "operators.rolling.stages": rolling.stages,
            "operators.rolling.shuffle_write_bytes": rolling.shuffle_write_bytes,
            "operators.recursive.self_s": tr.self_seconds("operators.recursive"),
            "operators.recursive.executor_run_s": recursive.executor_run_s,
            "operators.recursive.shuffle_write_bytes": recursive.shuffle_write_bytes,
            "operators.pipeline.self_s": tr.self_seconds("operators.pipeline"),
            "operators.pipeline.jobs": pipe.jobs,
            "operators.pipeline.stages": pipe.stages,
            "operators.pipeline.tasks": pipe.tasks,
            "operators.pipeline.executor_run_s": pipe.executor_run_s,
            "operators.pipeline.executor_cpu_s": pipe.executor_cpu_s,
            "operators.pipeline.spill_bytes": pipe.spill_bytes,
            "operators.pipeline.idle_ratio": 1.0 - pipe.executor_run_s / pipe_cores_s,
        }

    def check(self, out: str) -> list[str]:
        problems = []
        landed = pq.read_table(self._day_partition(self.store)).num_rows
        if landed != self.rows:
            problems.append(f"raw day partition has {landed} rows, fetched {self.rows}")
        got = _read_parquet_dir(self._day_partition(out))
        problems += reference.check_indicators(got, self.bars, self.lo_ns, self.hi_ns, self.sampled)
        return problems


def _max_bucket(docs: DataFrame, n_hashes: int, band_size: int, k: int) -> int:
    """Largest LSH bucket: docs sharing one band key, banded by the
    program's own ``band_rows``."""
    from stock_indicators_etl_spark.llmdata.dedup import band_rows, minhash_signatures

    bands = band_rows(minhash_signatures(docs, "text", n_hashes, k), n_hashes, band_size)
    return bands.groupBy("band_idx", "band_key").count().agg(F.max("count")).first()[0]


def _files_scanned(df: DataFrame) -> int:
    """Files the parquet scan of ``df`` opens after partition pruning."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    return sum(
        leaves.apply(i).selectedPartitions().totalNumberOfFiles()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName().startswith("Scan parquet")
    )


def _require_cached_layers(feats: DataFrame) -> None:
    """Fail the traced run if ``generate_indicators`` recomputed a layer
    instead of reading the pinned one, i.e. if :func:`window_indicators`
    or :func:`recursive_indicators` no longer build the program's plan."""
    plan = feats._jdf.queryExecution().withCachedData().toString()
    above = plan.split("InMemoryRelation", 1)[0]
    if "InMemoryRelation" not in plan or "Window" in above or "MapInPandas" in above:
        raise RuntimeError("traced layers do not match generate_indicators:\n" + plan)


def window_indicators(grid: DataFrame, cfg) -> DataFrame:
    """The frame-expressible indicators exactly as ``generate_indicators``
    chains them for the default configuration."""
    from stock_indicators_etl_spark.operators.rolling import (
        with_aroonosc, with_mfi, with_ppo, with_rocp, with_stochf, with_ultosc,
    )

    key, ws = ("sub_ticker",), cfg.time_column
    out = with_rocp(grid, close_col=cfg.close_column, ks=range(1, cfg.num_prev_rocp), key_cols=key, ws_col=ws)
    out = with_mfi(
        out, cfg.high_col, cfg.low_col, cfg.close_un_adj_col, cfg.vol_col,
        n=cfg.mfi_timeperiod, key_cols=key, ws_col=ws, out_col="_mfi_raw",
    )
    out = with_ultosc(
        out, cfg.high_col, cfg.low_col, cfg.close_un_adj_col,
        n1=cfg.ultosc_timeperiod1, n2=cfg.ultosc_timeperiod2, n3=cfg.ultosc_timeperiod3,
        key_cols=key, ws_col=ws, out_col="_ultosc_raw",
    )
    out = with_aroonosc(
        out, cfg.high_col, cfg.low_col, n=cfg.aroonosc_timeperiod,
        key_cols=key, ws_col=ws, out_col="_aroonosc_raw",
    )
    out = with_ppo(
        out, cfg.close_column, fast=cfg.ppo_fast, slow=cfg.ppo_slow,
        key_cols=key, ws_col=ws, out_col="_ppo_raw",
    )
    return with_stochf(
        out, cfg.high_col, cfg.low_col, cfg.close_un_adj_col,
        fastk=cfg.stochf_fastk, fastd=cfg.stochf_fastd,
        key_cols=key, ws_col=ws, k_col="_sok_raw", d_col="_sod_raw",
    )


def recursive_indicators(windowed: DataFrame, cfg, with_recursive_indicators) -> DataFrame:
    """The recursive indicators exactly as ``generate_indicators`` adds
    them after the window indicators for the default configuration."""
    return with_recursive_indicators(
        windowed,
        close_col=cfg.close_column, high_col=cfg.high_col, low_col=cfg.low_col,
        close_unadj_col=cfg.close_un_adj_col, key_cols=("sub_ticker",), ws_col=cfg.time_column,
        rsi_n=cfg.rsi_timeperiod, cmo_n=cfg.cmo_timeperiod, macd_signal=cfg.macd_signal_period,
        adx_n=cfg.adx_timeperiod, aroonosc_n=cfg.aroonosc_timeperiod,
        features=["rsi", "cmo", "macd", "adx"], pre_partitioned=True,
    )


@dataclass
class NeardupDedup:
    """Near-duplicate grouping of a generated corpus, then its canonical
    survivors (each group's min doc_id) written out."""

    seed: int
    n_docs: int = 300
    name: str = "neardup_dedup"
    threshold: float = 0.5
    info: dict = field(default_factory=dict)
    _oracle: pd.DataFrame | None = None

    def stage(self, root: str) -> None:
        os.makedirs(root)
        self.path = os.path.join(root, "documents.parquet")
        self.corpus = gen.make_corpus(self.seed, self.n_docs)
        self.corpus.to_parquet(self.path, index=False)
        self.rows = len(self.corpus)
        self.info = {
            "input_rows": self.rows,
            "input_bytes": os.path.getsize(self.path),
            "words_per_doc": gen.DOC_WORDS,
        }

    def reset(self) -> None:
        pass

    def _survivors(self, docs: DataFrame, comps: DataFrame) -> DataFrame:
        canon = comps.filter(F.col("doc_id") == F.col("component")).select("doc_id")
        return docs.join(canon, "doc_id", "left_semi")

    def run(self, spark: SparkSession, out: str) -> None:
        from stock_indicators_etl_spark.llmdata.dedup import neardup_components

        docs = spark.read.parquet(self.path)
        comps = neardup_components(docs, threshold=self.threshold)
        self._survivors(docs, comps).write.parquet(out)

    def traced_run(self, spark: SparkSession, tr: Tracer, out: str) -> dict[str, float]:
        from stock_indicators_etl_spark.llmdata.dedup import (
            connected_components,
            minhash_lsh_candidates,
            neardup_components,
            ngram_jaccard_pairs,
        )

        # the three stages of neardup_components, with its own defaults
        p = {k: v.default for k, v in inspect.signature(neardup_components).parameters.items()}
        docs = spark.read.parquet(self.path)
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> tuple[DataFrame, int]:
            df = df.persist()
            pinned.append(df)
            return df, df.count()

        with tr.span("run"):
            with tr.span("llmdata.dedup"):
                with tr.span("llmdata.dedup.candidates"):
                    cand, n_cand = pin(minhash_lsh_candidates(
                        docs, "text", p["n_hashes"], p["band_size"], p["k"],
                        max_bucket_size=p["max_bucket_size"], salt_chunk=p["salt_chunk"],
                    ))
                with tr.span("llmdata.dedup.verify"):
                    pairs, n_pairs = pin(ngram_jaccard_pairs(
                        docs, "text", p["k"], threshold=self.threshold, candidates=cand
                    ).select("doc_a", "doc_b"))
                with tr.span("llmdata.dedup.cc"):
                    comps, _ = pin(connected_components(
                        pairs, docs.select("doc_id"), method=p["cc_method"]
                    ))
                with tr.span("llmdata.dedup.survivors"):
                    self._survivors(docs, comps).write.parquet(out)
        for df in pinned:
            df.unpersist()
        return {
            "llmdata.dedup.candidates_s": tr.get("llmdata.dedup.candidates").seconds,
            "llmdata.dedup.candidate_pairs": n_cand,
            "llmdata.dedup.max_bucket": _max_bucket(docs, p["n_hashes"], p["band_size"], p["k"]),
            "llmdata.dedup.verify_s": tr.get("llmdata.dedup.verify").seconds,
            "llmdata.dedup.verified_pairs": n_pairs,
            "llmdata.dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
            "llmdata.dedup.cc_s": tr.get("llmdata.dedup.cc").seconds,
            "llmdata.dedup.cc_jobs": tr.totals("llmdata.dedup.cc").jobs,
            "llmdata.dedup.survivors_s": tr.get("llmdata.dedup.survivors").seconds,
        }

    def check(self, out: str) -> list[str]:
        if self._oracle is None:
            self._oracle = reference.oracle_components(self.corpus)
        return reference.check_survivors(_read_parquet_dir(out), self.corpus, self._oracle)


#: workload name -> factory(seed, scale); ``scale`` shrinks the inputs
#: for the benchmark's own tests
WORKLOADS = {
    "daily_etl": lambda seed, scale: DailyEtl(seed, n_tickers=max(4, round(DailyEtl.n_tickers * scale))),
    "neardup_dedup": lambda seed, scale: NeardupDedup(seed, n_docs=max(40, round(NeardupDedup.n_docs * scale))),
}
