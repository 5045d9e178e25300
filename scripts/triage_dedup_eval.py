#!/usr/bin/env python
"""Triage dedup_eval_sampled's sf0.1→sf1 exponent (VERDICT r9 wrong #1).

At a fixed sample rate both sides of the sampled evaluation grow with
the corpus, so a superlinear exponent must come from one of the pair
streams, not from the sampling itself. This script measures, at sf0.1
and sf1 (the repo's deterministic 10× upscale):

  - n sampled docs (should be ~×10)
  - TRUTH side (exact n-gram Jaccard over the sample):
      posting entries  Σ_d |shingles(d)|      (linear if docs are iid)
      posting pairs    Σ_h C(df_h, 2)          (the expansion cost)
      truth pairs      |{(a,b): J >= 0.2}|     (the join output)
  - PRED side (MinHash-LSH over the sample):
      bucket pairs     Σ_bucket C(|b|, 2)
      candidate pairs  |distinct (a,b)|
  - wall time to materialize each side separately and the final agg.

Whichever count grows ≫×10 for ×10 docs names the stage; if the
counts themselves are the fixture's true pair growth (duplicates
cluster, so shared-shingle pairs grow superlinearly BY CONSTRUCTION),
the exponent is data, not plan — the winnow/contrastive treatment.

Usage: python scripts/triage_dedup_eval.py [> report]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from stock_indicators_etl_spark import get_spark  # noqa: E402
from stock_indicators_etl_spark.llmdata.dedup import (  # noqa: E402
    band_rows,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_sets,
)
from stock_indicators_etl_spark.llmdata.sampling import hash_sample  # noqa: E402
from stock_indicators_etl_spark.queries_llm import (  # noqa: E402
    DEDUP_EVAL_SAMPLE_RATE,
    DEDUP_EVAL_T,
)

SFS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(Path(__file__).resolve().parent.parent / "testdata_sf1")),
]


def measure(spark, sf_dir: str) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample = hash_sample(docs, DEDUP_EVAL_SAMPLE_RATE).persist()
    n_docs = sample.count()

    # --- truth-side structure ---
    entries = shingle_sets(sample, "text", 3).select(
        "doc_id", F.explode("sh_set").alias("h")
    )
    posting_entries = entries.count()
    df_per_h = entries.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    posting_pairs = df_per_h.agg(
        F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("p")
    ).collect()[0]["p"]

    t0 = time.perf_counter()
    truth = ngram_jaccard_pairs(sample, threshold=DEDUP_EVAL_T)
    truth_pairs = truth.count()
    t_truth = time.perf_counter() - t0

    # --- pred-side structure ---
    sig = minhash_signatures(sample, "text", 12, 3)
    banded = band_rows(sig, 12, 3)
    bucket_pairs = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("b"))
        .agg(F.sum(F.col("b") * (F.col("b") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    )
    t0 = time.perf_counter()
    pred = minhash_lsh_candidates(sample)
    cand_pairs = pred.count()
    t_pred = time.perf_counter() - t0

    # --- final compare stage ---
    t0 = time.perf_counter()
    j = (
        pred.select("doc_a", "doc_b", F.lit(1).alias("_p"))
        .join(
            truth.select("doc_a", "doc_b", F.lit(1).alias("_t")),
            ["doc_a", "doc_b"],
            "full",
        )
        .agg(
            F.sum(
                F.when(F.col("_p").isNotNull() & F.col("_t").isNotNull(), 1).otherwise(0)
            ).alias("tp")
        )
        .collect()
    )
    t_agg = time.perf_counter() - t0
    sample.unpersist()
    return {
        "n_docs": n_docs,
        "posting_entries": posting_entries,
        "posting_pairs": int(posting_pairs),
        "truth_pairs": truth_pairs,
        "bucket_pairs": int(bucket_pairs),
        "cand_pairs": cand_pairs,
        "t_truth_s": round(t_truth, 2),
        "t_pred_s": round(t_pred, 2),
        "t_agg_s": round(t_agg, 2),
        "tp": j[0]["tp"],
    }


def main() -> None:
    spark = get_spark(master="local[32]", shuffle_partitions=32, long_lived=True)
    rows = {}
    for name, sf_dir in SFS:
        rows[name] = measure(spark, sf_dir)
        print(name, rows[name], flush=True)
        spark.catalog.clearCache()
    a, b = rows["sf0.1"], rows["sf1"]
    print("\nratios sf1/sf0.1 (×10 docs):")
    for k in (
        "n_docs",
        "posting_entries",
        "posting_pairs",
        "truth_pairs",
        "bucket_pairs",
        "cand_pairs",
        "t_truth_s",
        "t_pred_s",
        "t_agg_s",
    ):
        if a[k]:
            print(f"  {k:18s} {b[k] / a[k]:8.2f}  ({a[k]} -> {b[k]})")
    spark.stop()


if __name__ == "__main__":
    main()
