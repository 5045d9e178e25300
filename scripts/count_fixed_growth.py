#!/usr/bin/env python
"""Measured output-growth counts for the SCALING_SF10 reading notes
(VERDICT r11 next #1/#3).

Prints, as one JSON line per fixture pair:

- winnow shared-fingerprint pair count (below the stop-fingerprint
  cap) on the FIXED fixture at sf1/sf10 — the output population of
  ``winnow_matches`` before its top-n cut;
- MinHash-LSH candidate-pair count on the FIXED fixture at sf1/sf10 —
  the positive population ``contrastive_pairs`` mines;
- ``n_capped_shingles`` of the capped ``dedup_eval_sampled`` truth
  side on the STANDARD fixture at sf1/sf10 — how hard the r12
  doc-freq cap binds on the adversarial replica-cluster corpus.

Usage: python scripts/count_fixed_growth.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    from pyspark.sql import functions as F

    from stock_indicators_etl_spark.llmdata.dedup import (
        _bucket_pairs,
        _h56,
        minhash_lsh_candidates,
        winnow_fingerprints,
        word_shingles,
    )
    from stock_indicators_etl_spark.llmdata.sampling import hash_sample
    from stock_indicators_etl_spark.queries_llm import (
        DEDUP_EVAL_SAMPLE_RATE,
        DEDUP_EVAL_TRUTH_MAX_DF,
        WINNOW_K,
        WINNOW_MAX_DF,
        WINNOW_W,
    )
    from stock_indicators_etl_spark.session import get_spark

    spark = get_spark(app_name="count_fixed_growth", long_lived=True)
    out: dict[str, dict[str, int]] = {}

    for tag, d in (
        ("sf1_fixed", ROOT / "testdata_sf1_fixed"),
        ("sf10_fixed", ROOT / "testdata_sf10_fixed"),
    ):
        docs = spark.read.parquet(str(d / "documents.parquet"))
        fps = winnow_fingerprints(docs, "text", WINNOW_K, WINNOW_W)
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= WINNOW_MAX_DF)
            .select("fp")
        )
        posting = (
            fps.join(keep.hint("merge"), "fp", "left_semi")
            .groupBy("fp")
            .agg(F.collect_set("doc_id").alias("ids"))
        )
        winnow_pairs = (
            _bucket_pairs(posting).select("doc_a", "doc_b").distinct().count()
        )
        lsh_cands = minhash_lsh_candidates(docs).count()
        out[tag] = {"winnow_pairs": winnow_pairs, "lsh_candidates": lsh_cands}
        print(json.dumps({tag: out[tag]}), flush=True)

    for tag, d in (
        ("sf1_std", ROOT / "testdata_sf1"),
        ("sf10_std", ROOT / "testdata_sf10"),
    ):
        docs = spark.read.parquet(str(d / "documents.parquet"))
        sample = hash_sample(docs, DEDUP_EVAL_SAMPLE_RATE)
        n_capped = (
            word_shingles(sample, distinct=False)
            .select("doc_id", _h56(F.col("shingle")).alias("h"))
            .distinct()
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > DEDUP_EVAL_TRUTH_MAX_DF)
            .count()
        )
        out[tag] = {"n_capped_shingles": n_capped}
        print(json.dumps({tag: out[tag]}), flush=True)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
