"""Tests for sources/sinks (S1–S6), the daily job drivers (E1/E2),
streaming twins (§2.7), and multimodal plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_indicators_etl_spark.llmdata.multimodal import (
    FEATURE_DIM,
    documents_as_media,
    extract_media_features,
    fake_decoder,
    media_stats,
    real_decoder,
)
from stock_indicators_etl_spark.sources.io import (
    day_path,
    read_bars_day,
    read_ticker_csv,
    write_bars_day,
)
from stock_indicators_etl_spark.sources.yahoo import BARS_SCHEMA, download_bars, synthetic_fetch
from stock_indicators_etl_spark.streaming.sessions import (
    streaming_ohlcv_rollup,
    streaming_sessionize,
)


def test_day_path_reference_layout():
    assert (
        day_path("/base", "1m", "2024-01-02")
        == "/base/1m/2024/01/2024-01-02.parquet.gzip"
    )


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    base = str(tmp_path / "bars")
    df1 = spark.createDataFrame(
        pd.DataFrame({"ticker": ["A", "B"], "close": [1.0, 2.0], "window_start": [1, 2]})
    )
    df2 = spark.createDataFrame(
        pd.DataFrame({"ticker": ["A"], "close": [3.0], "window_start": [3]})
    )
    write_bars_day(df1, base, "1m", "2024-01-02")
    write_bars_day(df2, base, "1m", "2024-01-03")
    got = read_bars_day(spark, base, "1m", "2024-01-02").toPandas()
    assert sorted(got.ticker) == ["A", "B"]
    # partition pruning: physical plan reads only the selected day
    plan = read_bars_day(spark, base, "1m", "2024-01-02")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "partitionFilters" in plan.lower()
    # dynamic overwrite: rewriting one day leaves the other intact
    write_bars_day(df1, base, "1m", "2024-01-03")
    assert read_bars_day(spark, base, "1m", "2024-01-02").count() == 2


def test_ticker_csv(spark, tmp_path):
    p = tmp_path / "spy.csv"
    p.write_text("Symbol,Name\nAAPL,Apple\nMSFT,Microsoft\n")
    got = sorted(r.ticker for r in read_ticker_csv(spark, str(p)).collect())
    assert got == ["AAPL", "MSFT", "SPY", "VOO"]


def test_download_bars_synthetic(spark):
    out = download_bars(
        spark, ["AAPL", "MSFT", "GOOG"], "2024-01-02", "1m",
        chunk_size=2, fetch_fn=synthetic_fetch,
    )
    pdf = out.toPandas()
    assert sorted(pdf.ticker.unique()) == ["AAPL", "GOOG", "MSFT"]
    assert len(pdf) == 3 * 390
    assert (pdf.window_start % 10**9 == 0).all()
    # deterministic: same call twice → identical frame
    pdf2 = download_bars(
        spark, ["AAPL", "MSFT", "GOOG"], "2024-01-02", "1m",
        chunk_size=2, fetch_fn=synthetic_fetch,
    ).toPandas()
    pd.testing.assert_frame_equal(
        pdf.sort_values(["ticker", "window_start"]).reset_index(drop=True),
        pdf2.sort_values(["ticker", "window_start"]).reset_index(drop=True),
    )


def test_download_bars_packs_chunks_into_slot_tasks(spark):
    tickers = [f"T{i:03d}" for i in range(80)]
    chunks = [tickers[i : i + 3] for i in range(0, 80, 3)]
    assert len(chunks) == 27

    def recording_fetch(ticks, start, end, interval):
        # one row per call, naming the chunk the call received
        row = dict.fromkeys(BARS_SCHEMA.fieldNames(), 0.0)
        return pd.DataFrame([{**row, "ticker": "|".join(ticks), "window_start": 0}])

    out = download_bars(spark, tickers, "2024-01-02", "1m", chunk_size=3, fetch_fn=recording_fetch)
    assert out.rdd.getNumPartitions() == min(len(chunks), spark.sparkContext.defaultParallelism)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    calls = [r.ticker for r in out.collect()]
    # each call got exactly one original chunk, tickers in order; every
    # chunk fetched once, and the slices keep the chunk order
    assert calls == ["|".join(c) for c in chunks]


def test_download_bars_no_tickers_is_empty(spark):
    def never_fetch(ticks, start, end, interval):
        raise AssertionError("no chunk to fetch")

    out = download_bars(spark, [], "2024-01-02", "1m", fetch_fn=never_fetch)
    assert out.schema == BARS_SCHEMA
    assert out.count() == 0


@pytest.fixture()
def event_stream(spark, tmp_path):
    src = str(tmp_path / "events_src")
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:10", "2024-01-01 12:00", "2024-01-01 10:05"]
            ),
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(
        "user_id bigint, ts timestamp, value double"
    ).parquet(src)


def _run_stream(df, tmp_path, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_sessionize(spark, event_stream, tmp_path):
    out = streaming_sessionize(event_stream, gap="30 minutes")
    _run_stream(out, tmp_path, "sess")
    got = spark.sql("select * from sess").toPandas()
    # user 1: events at 10:00/10:10 merge, 12:00 separate; user 2: one
    assert len(got) == 3
    u1 = got[got.user_id == 1].sort_values("session_start")
    assert list(u1.n_events) == [2, 1]
    assert u1.iloc[0].sum_value == 3.0


def test_streaming_ohlcv(spark, event_stream, tmp_path):
    out = streaming_ohlcv_rollup(event_stream, bucket="1 hour")
    _run_stream(out, tmp_path, "roll")
    got = spark.sql("select * from roll").toPandas()
    b10_u1 = got[(got.user_id == 1) & (got.bucket_start.dt.hour == 10)].iloc[0]
    assert b10_u1.open == 1.0 and b10_u1.close == 2.0 and b10_u1.n == 2


def test_media_features_plumbing(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["hello world", ""]})
    )
    media = documents_as_media(docs)
    feats = extract_media_features(media, decoder=fake_decoder).toPandas()
    assert len(feats) == 2
    r = feats.set_index("media_id").loc[1]
    assert r.n_bytes == 11
    assert len(r.features) == FEATURE_DIM
    assert abs(sum(r.features) - 1.0) < 1e-6  # histogram normalized
    stats = media_stats(media).toPandas()
    assert stats.iloc[0].n == 2 and stats.iloc[0].total_bytes == 11


def test_real_decoder_stub_raises():
    with pytest.raises(NotImplementedError):
        real_decoder(b"xx", "image")


def test_streaming_rsi_matches_batch_kernel_across_batches(spark, tmp_path):
    """State must survive micro-batch boundaries: two files processed
    as separate triggers (maxFilesPerTrigger=1) produce the same RSI
    as the batch kernel on the concatenated series."""
    import os
    import numpy as np
    from stock_indicators_etl_spark.operators.kernels import rsi_kernel
    from stock_indicators_etl_spark.streaming.indicators import streaming_rsi

    NS = 1_000_000_000
    rng = np.random.default_rng(11)
    closes = {t: 100.0 + np.cumsum(rng.normal(0, 1, 40)) for t in ("A", "B")}
    pdf = pd.DataFrame(
        [
            {"ticker": t, "window_start": (1_704_106_800 + 60 * i) * NS, "adj_close": float(c)}
            for t, cs in closes.items()
            for i, c in enumerate(cs)
        ]
    )
    src = tmp_path / "bars_src"
    src.mkdir()
    f0, f1 = str(src / "part-000.parquet"), str(src / "part-001.parquet")
    pdf[pdf.window_start < (1_704_106_800 + 60 * 20) * NS].to_parquet(f0)
    pdf[pdf.window_start >= (1_704_106_800 + 60 * 20) * NS].to_parquet(f1)
    os.utime(f0, (1_000_000_000, 1_000_000_000))  # force file order
    os.utime(f1, (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema("ticker string, window_start bigint, adj_close double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_rsi(stream, n=14)
    q = (
        out.writeStream.format("memory")
        .queryName("srsi")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_srsi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from srsi").toPandas()

    assert len(got) == 80
    for t, cs in closes.items():
        expected = rsi_kernel(np.asarray(cs), 14)
        g = got[got.ticker == t].sort_values("window_start")
        # bit-exact: the streaming path replays the batch kernel's own
        # recursion once seeded, so there is no tolerance to grant
        np.testing.assert_allclose(
            g.rsi.to_numpy(dtype=float), expected, rtol=0, atol=0, equal_nan=True
        )


def test_media_resize_and_frame_sampling(spark):
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import (
        documents_as_media,
        resize_media,
        sample_frames,
    )
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["hello world " * 20, ""]})
    )
    media = documents_as_media(docs)

    rz = resize_media(media, 8, 4).toPandas().sort_values("media_id")
    assert list(rz.width) == [8, 8] and list(rz.height) == [4, 4]
    assert all(len(p) == 32 for p in rz.payload)  # exactly w*h bytes

    # give rows a duration so the sampler emits multiple frames
    media_dur = media.withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(3500).alias("duration_ms"),
        ),
    )
    fr = sample_frames(media_dur, every_ms=1000, frame_bytes=16).toPandas()
    f1 = fr[fr.media_id == 1]
    assert list(f1.frame_idx) == [0, 1, 2] and list(f1.ts_ms) == [0, 1000, 2000]
    assert all(len(f) <= 16 for f in f1.frame)
    assert len(fr[fr.media_id == 2]) == 0  # empty payload -> no frames


def test_streaming_dedup(spark, tmp_path):
    from stock_indicators_etl_spark.streaming.sessions import streaming_dedup

    src = str(tmp_path / "dup_src")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 1, 3, 2, 1],
            "ts": pd.to_datetime(["2024-01-01 10:00"] * 6),
            "value": [1.0, 2.0, 1.0, 3.0, 2.0, 1.0],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("event_id bigint, ts timestamp, value double").parquet(src)
    out = streaming_dedup(stream, subset=["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("sdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sdedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sdedup").toPandas()
    assert sorted(got.event_id) == [1, 2, 3]


def test_backfill_range_job(spark, tmp_path, monkeypatch):
    """Two synthetic days -> one backfill job -> per-day partitions."""
    import stock_indicators_etl_spark.streaming.daily as daily
    from stock_indicators_etl_spark.sources.yahoo import download_bars, synthetic_fetch
    from stock_indicators_etl_spark.sources.io import write_bars_day

    base, dst = str(tmp_path / "bars"), str(tmp_path / "feat")
    for d in ("2024-01-02", "2024-01-03"):
        bars = download_bars(spark, ["AAPL", "MSFT"], d, "1m", fetch_fn=synthetic_fetch)
        write_bars_day(bars, base, "1m", d)

    monkeypatch.setattr(daily, "get_spark", lambda **kw: spark)
    rc = daily.main(
        ["backfill", "--start", "2024-01-02", "--end", "2024-01-03",
         "--interval", "1m", "--src", base, "--dst", dst]
    )
    assert rc == 0
    out = spark.read.parquet(dst)
    days = {str(r.day) for r in out.select("day").distinct().collect()}
    assert days == {"2024-01-02", "2024-01-03"}
    per_day = out.groupBy("day").count().toPandas()
    assert (per_day["count"] > 0).all()

    # drop-in comparability (ADVICE r1): the backfilled day-2
    # partition must be byte-comparable with a single-day run —
    # segment numbering restarts per day, so labels are 'AAPL-0',
    # never the range-wide 'AAPL-1' a cross-day dense_rank produces
    dst2 = str(tmp_path / "feat_oneday")
    rc = daily.main(
        ["indicators", "--execution_date", "2024-01-03",
         "--interval", "1m", "--src", base, "--dst", dst2]
    )
    assert rc == 0
    import pandas as pd

    one = (
        spark.read.parquet(dst2).drop("interval", "year", "month", "day")
        .toPandas().sort_values(["ticker", "window_start"]).reset_index(drop=True)
    )
    bf = (
        out.filter(F.col("day") == "2024-01-03")
        .drop("interval", "year", "month", "day")
        .toPandas().sort_values(["ticker", "window_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(bf[one.columns], one)


def test_session_gap_boundary_semantics(spark, tmp_path):
    """An event exactly `gap` after its predecessor MERGES in both
    twins: the batch break condition is strict (`delta > gap`) and
    session_window merges sessions that touch at the boundary."""
    from stock_indicators_etl_spark.queries import q_sessionize
    from stock_indicators_etl_spark.streaming.sessions import streaming_sessionize

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [7, 7],
            "event_type": ["a", "a"],
            "value": [1.0, 1.0],
            # exactly 30 minutes apart
            "ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:30:00"]),
        }
    )
    src = str(tmp_path / "boundary_src")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    # batch twin reads {sf_dir}/events.parquet — point it at our file
    events_dir = tmp_path / "evdir"
    events_dir.mkdir()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(events_dir / "events.parquet")
    )
    batch = q_sessionize(spark, str(events_dir)).toPandas()
    assert len(batch) == 1 and batch.iloc[0].n_events == 2  # merged

    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, event_type string, value double, ts timestamp"
    ).parquet(src)
    out = streaming_sessionize(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sboundary")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sboundary").toPandas()
    assert len(got) == 1 and got.iloc[0].n_events == 2  # merged, same as batch


def test_env_config_source_no_path_flags(spark, tmp_path, monkeypatch):
    """S6: YAHOO_BASE / INDICATOR_BASE env vars stand in for
    --base/--src/--dst (reference dotenv contract)."""
    import stock_indicators_etl_spark.streaming.daily as daily

    base, dst = str(tmp_path / "bars"), str(tmp_path / "feat")
    monkeypatch.setenv("YAHOO_BASE", base)
    monkeypatch.setenv("INDICATOR_BASE", dst)
    monkeypatch.setattr(daily, "get_spark", lambda **kw: spark)
    assert daily.main(
        ["download", "--execution_date", "2024-01-02", "--synthetic"]
    ) == 0
    assert daily.main(["indicators", "--execution_date", "2024-01-02"]) == 0
    out = spark.read.parquet(dst)
    assert out.count() > 0


def test_indicators_missing_day_is_clean_noop(spark, tmp_path, monkeypatch, capsys):
    """A day with no input skips and writes nothing, whether the store
    does not exist yet or exists without that day's partition
    (reference skip, data_indicators.py:37-39)."""
    import os

    import stock_indicators_etl_spark.streaming.daily as daily

    base, dst = str(tmp_path / "bars"), str(tmp_path / "feat")
    monkeypatch.setattr(daily, "get_spark", lambda **kw: spark)

    def indicators(day):
        rc = daily.main(["indicators", "--execution_date", day, "--src", base, "--dst", dst])
        assert rc == 0
        assert f"no input for {day}; skipping" in capsys.readouterr().out
        assert not os.path.exists(dst)

    indicators("2024-01-02")  # no store yet
    assert daily.main(
        ["download", "--execution_date", "2024-01-02", "--base", base, "--synthetic"]
    ) == 0
    indicators("2024-01-03")  # the store exists without this day


def test_indicators_unreadable_store_fails(spark, tmp_path, monkeypatch, capsys):
    """Any read failure other than a missing path fails the task
    instead of passing for "no input"."""
    import os

    import stock_indicators_etl_spark.streaming.daily as daily

    base, dst = tmp_path / "bars", str(tmp_path / "feat")
    base.mkdir()
    (base / "part-00000.parquet").write_bytes(b"not a parquet file")
    monkeypatch.setattr(daily, "get_spark", lambda **kw: spark)
    with pytest.raises(Exception):
        daily.main(
            ["indicators", "--execution_date", "2024-01-02",
             "--src", str(base), "--dst", dst]
        )
    assert "skipping" not in capsys.readouterr().out
    assert not os.path.exists(dst)


def test_reference_layout_roundtrip(spark, tmp_path):
    """write_reference_layout_day produces the literal single-file
    layout the reference tool reads and writes — pandas and the
    compatibility reader both round-trip it."""
    from stock_indicators_etl_spark.sources.io import (
        read_reference_layout_day,
        write_reference_layout_day,
    )

    base = str(tmp_path / "refbase")
    pdf = pd.DataFrame(
        {"ticker": ["A", "B"], "close": [1.5, 2.5], "window_start": [1, 2]}
    )
    path = write_reference_layout_day(
        spark.createDataFrame(pdf), base, "1m", "2024-01-02"
    )
    assert path.endswith("/1m/2024/01/2024-01-02.parquet.gzip")
    import os

    assert os.path.isfile(path)  # a single file, not a directory
    via_pandas = pd.read_parquet(path).sort_values("ticker").reset_index(drop=True)
    pd.testing.assert_frame_equal(via_pandas, pdf)
    got = read_reference_layout_day(spark, base, "1m", "2024-01-02")
    assert got.count() == 2
    # idempotent overwrite
    write_reference_layout_day(spark.createDataFrame(pdf), base, "1m", "2024-01-02")
    assert read_reference_layout_day(spark, base, "1m", "2024-01-02").count() == 2


def test_stateless_corpus_ops_run_on_streams(spark, tmp_path):
    """The scan-local corpus operators (PII redaction, quality gates,
    deterministic hash sampling) are pure Column projections, so the
    SAME functions run unchanged on a readStream — streaming corpus
    prep needs no separate implementation. Results must equal the
    batch run on identical input."""
    from stock_indicators_etl_spark.llmdata.sampling import hash_sample
    from stock_indicators_etl_spark.llmdata.text import redact_pii

    src = str(tmp_path / "docs_src")
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"doc {i} reach me at user{i}@example.com or 555 123 456{i % 10}"
                for i in range(40)
            ],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    def prep(df):
        return redact_pii(hash_sample(df, 0.5))

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = (
        prep(stream)
        .writeStream.format("memory")
        .queryName("scorpus")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_scorpus"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from scorpus")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    batch = (
        prep(spark.read.parquet(src))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, batch)
    assert (got.n_markers >= 2).all()  # email + phone both scrubbed


# ------------------------------------------------------------------
# streaming incremental dedup (foreachBatch crawl-ingest shape)
# ------------------------------------------------------------------


def test_streaming_incremental_dedup_matches_oneshot(spark, tmp_path):
    """Drain a 3-shard file stream (maxFilesPerTrigger=1 → one shard
    per micro-batch) through streaming_incremental_dedup; the final
    published mapping equals one-shot neardup_components on the union
    — the same contract as the batch shard-by-shard property test."""
    import json

    from stock_indicators_etl_spark.llmdata.dedup import neardup_components
    from stock_indicators_etl_spark.streaming.dedup_stream import (
        streaming_incremental_dedup,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 240)
        .select("doc_id", "text")
    )
    pdf = docs.toPandas()
    src = tmp_path / "shards"
    src.mkdir()
    for i in range(3):
        shard = pdf[pdf.doc_id % 3 == i]
        with open(src / f"shard_{i}.jsonl", "w") as f:
            for _, r in shard.iterrows():
                f.write(json.dumps({"doc_id": int(r.doc_id), "text": r.text}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    comp_path = str(tmp_path / "components")
    q = streaming_incremental_dedup(
        stream,
        index_path=str(tmp_path / "idx"),
        components_path=comp_path,
        checkpoint_path=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 2

    got = sorted(
        (r["doc_id"], r["component"])
        for r in spark.read.parquet(comp_path).collect()
    )
    oneshot = neardup_components(docs, threshold=0.5, max_bucket_size=None)
    want = sorted((r["doc_id"], r["component"]) for r in oneshot.collect())
    assert got == want


def test_streaming_incremental_dedup_resumes_from_published_mapping(
    spark, tmp_path
):
    """A restarted job (fresh in-memory state, new stream over a NEW
    shard) reloads the published mapping and merges against it: a new
    near-dup of an already-indexed doc lands in the old group."""
    import json

    from stock_indicators_etl_spark.streaming.dedup_stream import (
        streaming_incremental_dedup,
    )

    src1 = tmp_path / "s1"
    src1.mkdir()
    with open(src1 / "a.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "completely unrelated content about spark shuffle partitions"}) + "\n")
    idx = str(tmp_path / "idx")
    comp_path = str(tmp_path / "components")
    q1 = streaming_incremental_dedup(
        spark.readStream.schema("doc_id long, text string").json(str(src1)),
        index_path=idx,
        components_path=comp_path,
        checkpoint_path=str(tmp_path / "ckpt1"),
        threshold=0.5,
    )
    q1.awaitTermination(120)

    # "restart": new query object, new checkpoint, new source dir
    src2 = tmp_path / "s2"
    src2.mkdir()
    with open(src2 / "b.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog again and again!"}) + "\n")
    q2 = streaming_incremental_dedup(
        spark.readStream.schema("doc_id long, text string").json(str(src2)),
        index_path=idx,
        components_path=comp_path,
        checkpoint_path=str(tmp_path / "ckpt2"),
        threshold=0.5,
    )
    q2.awaitTermination(120)

    m = {
        r["doc_id"]: r["component"]
        for r in spark.read.parquet(comp_path).collect()
    }
    assert m[10] == m[1] == 1
    assert m[2] == 2


def test_streaming_incremental_dedup_capped_parity(spark, tmp_path):
    """Capped-mode contract ACROSS micro-batches (VERDICT r7 task #8):
    with ``max_bucket_size=3``, the streaming twin must match the
    sequential batch ``dedup_increment`` run shard-for-shard — the
    same capped semantics ``tests/test_dedup_index.py``'s divergence
    property pins for batch: a bucket under the cap in micro-batch 1
    keeps its merge, and a bucket that exceeds the cap ON THE UNION in
    micro-batch 2 contributes no new pairs (later arrivals at a hot
    shingle stay singletons instead of exploding the pair stream).
    Shard order is forced via file mtimes (FileStreamSource picks
    oldest-first), one query, maxFilesPerTrigger=1 → two batches."""
    import json
    import os

    from stock_indicators_etl_spark.llmdata.dedup_index import dedup_increment
    from stock_indicators_etl_spark.streaming.dedup_stream import (
        streaming_incremental_dedup,
    )

    text = "common boilerplate sentence shared by every doc here"
    src = tmp_path / "shards"
    src.mkdir()
    for i, ids in enumerate([(0, 1), (10, 11)]):
        p = src / f"shard_{i}.jsonl"
        with open(p, "w") as f:
            for d in ids:
                f.write(json.dumps({"doc_id": d, "text": text}) + "\n")
        os.utime(p, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))

    comp_path = str(tmp_path / "components")
    q = streaming_incremental_dedup(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        index_path=str(tmp_path / "idx"),
        components_path=comp_path,
        checkpoint_path=str(tmp_path / "ckpt"),
        threshold=0.5,
        max_bucket_size=3,
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    got = {
        r["doc_id"]: r["component"]
        for r in spark.read.parquet(comp_path).collect()
    }
    # micro-batch 1's bucket (size 2 <= cap) merged; micro-batch 2's
    # docs hit the now-over-cap union bucket and stay singletons
    assert got == {0: 0, 1: 0, 10: 10, 11: 11}

    # exact parity with the sequential batch increments
    import pandas as pd

    idx2 = str(tmp_path / "idx_batch")
    s1 = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1], "text": [text] * 2}))
    s2 = spark.createDataFrame(pd.DataFrame({"doc_id": [10, 11], "text": [text] * 2}))
    c1 = dedup_increment(s1, idx2, None, threshold=0.5, max_bucket_size=3)
    c2 = dedup_increment(s2, idx2, c1, threshold=0.5, max_bucket_size=3)
    want = {r["doc_id"]: r["component"] for r in c2.collect()}
    assert got == want


def test_custom_codec_injection_example(spark):
    """examples/custom_codec_injection.py: the documented escape hatch
    for compressed media — an injected adapter decodes a 'video'
    container real_decoder would reject, mixed media fall through to
    the built-in decoders, and the Spark-side schema is unchanged."""
    import sys
    from pathlib import Path

    import numpy as np

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))
    import custom_codec_injection as ex

    out = ex.run_example(spark).toPandas()
    assert list(out.columns) == ["media_id", "kind", "n_bytes", "sha256", "features"]
    feats = np.array(out.iloc[0].features)
    assert feats.shape == (16,) and abs(feats.sum() - 1.0) < 1e-6

    # mixed column: a WAV row decodes via the built-in fall-through,
    # the stub-video row via the injected codec — one adapter, both
    from stock_indicators_etl_spark.llmdata.audio import encode_wav

    wav = encode_wav(np.zeros(64, dtype=np.int16), sample_rate=8000)
    vid = ex.encode_stub_video([np.full((4, 4), 7, dtype=np.uint8)])
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav)), (2, "video", bytearray(vid))],
        "media_id long, kind string, payload binary",
    )
    from stock_indicators_etl_spark.llmdata.multimodal import (
        extract_media_features,
    )

    both = extract_media_features(media, decoder=ex.video_decoder).toPandas()
    assert len(both) == 2
    assert all(len(f) == 16 for f in both.features)

    # real_decoder without the injection still rejects the container
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        from stock_indicators_etl_spark.llmdata.multimodal import real_decoder

        real_decoder(vid, "video")


def test_streaming_interval_join_batch_parity(spark, tmp_path):
    """Stream-stream watermarked interval join: draining two file
    streams (maxFilesPerTrigger=1, so left/right rows arrive across
    different micro-batches) equals the same expression on batch
    inputs — matches across the trigger boundary included."""
    import json

    from stock_indicators_etl_spark.streaming.joins import (
        streaming_interval_join,
    )

    def write(dirname, rows, files=2):
        d = tmp_path / dirname
        d.mkdir()
        per = (len(rows) + files - 1) // files
        for i in range(files):
            with open(d / f"f{i}.jsonl", "w") as f:
                for r in rows[i * per : (i + 1) * per]:
                    f.write(json.dumps(r) + "\n")
        return str(d)

    t0 = "2024-01-01T00:{m:02d}:{s:02d}"
    imps = [
        {"user_id": 1, "ts": t0.format(m=0, s=0), "imp": "a"},
        {"user_id": 1, "ts": t0.format(m=5, s=0), "imp": "b"},
        {"user_id": 2, "ts": t0.format(m=1, s=0), "imp": "c"},
        {"user_id": 3, "ts": t0.format(m=2, s=0), "imp": "d"},
    ]
    clicks = [
        {"user_id": 1, "ts": t0.format(m=0, s=30), "click": "x"},  # joins a
        {"user_id": 1, "ts": t0.format(m=5, s=50), "click": "y"},  # joins b
        {"user_id": 2, "ts": t0.format(m=3, s=0), "click": "z"},  # too late for c (60s window)
        {"user_id": 3, "ts": t0.format(m=2, s=0), "click": "w"},  # boundary: == left ts
    ]
    li = write("imps", imps)
    rc = write("clicks", clicks)
    schema_l = "user_id long, ts timestamp, imp string"
    schema_r = "user_id long, ts timestamp, click string"

    sl = spark.readStream.schema(schema_l).option("maxFilesPerTrigger", 1).json(li)
    sr = spark.readStream.schema(schema_r).option("maxFilesPerTrigger", 1).json(rc)
    out = streaming_interval_join(sl, sr, "user_id", window_s=60)
    q = (
        out.writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssjoin").toPandas()

    bl = spark.read.schema(schema_l).json(li)
    br = spark.read.schema(schema_r).json(rc)
    want = streaming_interval_join(bl, br, "user_id", window_s=60).toPandas()

    key = lambda d: sorted(zip(d.user_id, d.imp, d.click_r))
    assert key(got) == key(want)
    assert key(got) == [(1, "a", "x"), (1, "b", "y"), (3, "d", "w")]


def test_streaming_cdc_apply_matches_oneshot(spark, tmp_path):
    """Drain a 3-shard changelog stream (one shard per micro-batch)
    through streaming_cdc_apply; with globally ordered seqs the final
    published snapshot equals one-shot apply_cdc on the union."""
    import json

    from stock_indicators_etl_spark.operators.scd import apply_cdc
    from stock_indicators_etl_spark.streaming.cdc import streaming_cdc_apply

    base_pdf = pd.DataFrame(
        {"k": list(range(10)), "v": [f"v{i}" for i in range(10)]}
    )
    base = spark.createDataFrame(base_pdf)
    # shard 1: update 0-4; shard 2: delete evens; shard 3: re-insert 2,
    # update 5, insert 100 — exercises cross-batch last-wins
    shards = [
        [{"k": i, "v": f"u{i}", "seq": 10 + i, "op": "U"} for i in range(5)],
        [{"k": i, "v": None, "seq": 20 + i, "op": "D"} for i in (0, 2, 4, 6, 8)],
        [
            {"k": 2, "v": "back", "seq": 30, "op": "I"},
            {"k": 5, "v": "u5b", "seq": 31, "op": "U"},
            {"k": 100, "v": "new", "seq": 32, "op": "I"},
        ],
    ]
    src = tmp_path / "cdc_shards"
    src.mkdir()
    for i, shard in enumerate(shards):
        p = src / f"shard_{i}.jsonl"
        with open(p, "w") as f:
            for row in shard:
                f.write(json.dumps(row) + "\n")
        # the file source batches in MODIFICATION-TIME order; pin
        # strictly increasing mtimes so shard order == seq order (the
        # parity contract requires in-order arrival)
        import os

        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    table = str(tmp_path / "dim_table")
    q = streaming_cdc_apply(
        stream,
        base,
        table_path=table,
        checkpoint_path=str(tmp_path / "cdc_ckpt"),
        key_col="k",
        seq_col="seq",
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 2

    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(table).collect()
    )
    union = spark.createDataFrame(
        pd.DataFrame([row for shard in shards for row in shard])
    )
    want = sorted(
        (r["k"], r["v"])
        for r in apply_cdc(base, union, "k", "seq").collect()
    )
    assert got == want
    # spot semantics: k=2 deleted then re-inserted; k=0 stays deleted
    d = dict(got)
    assert d[2] == "back" and 0 not in d and d[100] == "new" and d[5] == "u5b"


def test_dimension_maintenance_example_end_to_end(spark):
    """examples/dimension_maintenance.py: CDC apply → SCD2 history →
    changelog-implied publish gate, run whole."""
    import sys

    sys.path.insert(0, "examples")
    try:
        from dimension_maintenance import run_example
    finally:
        sys.path.remove("examples")

    out = run_example(spark)
    # base 5 − removed 1 (sku 3; sku 4 deleted then reinstated) + added 1
    assert out["merged_rows"] == 5
    assert out["diff_removed"] == 1
    assert out["diff_added"] == 1
    assert out["diff_changed"] == 2  # skus 1 (c) and 4 (a, reinstated)
    assert out["history_rows"] >= 4  # sku 1 has two versions


def test_streaming_sliding_counts_matches_batch_range_frame(spark, tmp_path):
    """Drain an in-order 3-file stream through streaming_sliding_counts;
    every emitted (n_win, cents_win) must equal the batch RANGE-frame
    computation over the full series — including across micro-batch
    seams and simultaneous-event tie groups."""
    import os

    import numpy as np

    from stock_indicators_etl_spark.streaming.ratelimit import (
        streaming_sliding_counts,
    )

    NS = 10**9
    W = 3_600 * NS
    rng = np.random.default_rng(31)
    rows = []
    for u in (1, 2):
        ts = np.sort(rng.integers(0, 6 * 3600, 90)) * NS
        ts[10] = ts[11]  # force a tie group
        vals = np.round(rng.uniform(1, 50, 90), 2)
        rows += [
            {"user_id": u, "ns": int(t), "value": float(v)}
            for t, v in zip(np.sort(ts), vals)
        ]
    pdf = pd.DataFrame(rows).sort_values("ns").reset_index(drop=True)
    src = tmp_path / "rl_src"
    src.mkdir()
    cuts = np.array_split(pdf, 3)
    for i, chunk in enumerate(cuts):
        p = str(src / f"f{i}.parquet")
        chunk.to_parquet(p)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema("user_id bigint, ns bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_sliding_counts(stream, window_ns=W)
        .writeStream.format("memory")
        .queryName("slide")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from slide")
        .toPandas()
        .sort_values(["user_id", "ns"])
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)

    # batch RANGE-frame expectation in pandas
    for u, grp in pdf.groupby("user_id"):
        g = grp.sort_values("ns")
        ts = g.ns.to_numpy()
        cents = np.floor(g.value.to_numpy() * 100 + 0.5).astype(np.int64)
        csum = np.concatenate([[0], np.cumsum(cents)])
        lo = np.searchsorted(ts, ts - W, side="left")
        hi = np.searchsorted(ts, ts, side="right")
        sub = got[got.user_id == u]
        assert list(sub.n_win) == list(hi - lo)
        assert list(sub.cents_win) == list(csum[hi] - csum[lo])


def test_streaming_ann_serving_matches_batch(spark, tmp_path):
    """19th streaming twin (VERDICT r8 next #7): drain a 3-shard
    probe stream (maxFilesPerTrigger=1 → one shard per micro-batch)
    against a prebuilt multi-probe LSH index; the union of per-batch
    results equals the batch operator on all probes at once — exact,
    not approximate, because a query never spans micro-batches."""
    from stock_indicators_etl_spark.llmdata.similarity import (
        multiprobe_lsh_index,
        multiprobe_lsh_topk,
    )
    from stock_indicators_etl_spark.streaming.ann_serve import (
        streaming_multiprobe_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 12).toPandas()
    src = tmp_path / "probes"
    src.mkdir()
    for i in range(3):
        shard = probes[probes.vec_id % 3 == i]
        spark.createDataFrame(shard).coalesce(1).write.parquet(
            str(src / f"shard_{i}"), mode="overwrite"
        )
    index = multiprobe_lsh_index(emb).persist()
    try:
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        results = str(tmp_path / "topk")
        q = streaming_multiprobe_topk(
            index,
            stream,
            results_path=results,
            checkpoint_path=str(tmp_path / "ckpt_ann"),
            k=5,
        )
        q.awaitTermination(180)
        assert q.lastProgress is not None and q.lastProgress["batchId"] >= 2

        got = sorted(
            (r["qid"], r["rk"], r["nbr_id"], round(r["cosine"], 9))
            for r in spark.read.parquet(results).collect()
        )
        batch = multiprobe_lsh_topk(
            emb, emb.filter(F.col("vec_id") < 12), k=5
        )
        want = sorted(
            (r["qid"], r["rk"], r["nbr_id"], round(r["cosine"], 9))
            for r in batch.collect()
        )
        assert len(got) > 0
        assert got == want
    finally:
        index.unpersist()
