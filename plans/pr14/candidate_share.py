"""Share of a corpus that reaches the Jaccard verify of
``neardup_components``: docs named by at least one MinHash-LSH
candidate pair, over all docs (with ``neardup_components``' own
defaults). Up to the parent of ``doc_hashes`` only these docs were
shingled a second time; now the verify's set branch shingles every
doc, so this share says what that costs on each workload.

Usage (from the repository root):
    python plans/pr14/candidate_share.py SF_DIR [SF_DIR ...] [--perfbench-seeds 52,301]
"""

from __future__ import annotations

import argparse
import inspect
import os
import sys

sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="*")
    ap.add_argument("--perfbench-seeds", default="")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import gen
    from stock_indicators_etl_spark import get_spark
    from stock_indicators_etl_spark.llmdata.dedup import (
        minhash_lsh_candidates,
        neardup_components,
        ngram_jaccard_pairs,
    )

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    p = {k: v.default for k, v in inspect.signature(neardup_components).parameters.items()}

    sources = [(d, spark.read.parquet(f"{d}/documents.parquet")) for d in args.sf_dirs]
    for seed in filter(None, args.perfbench_seeds.split(",")):
        corpus = gen.make_corpus(int(seed), 300)
        sources.append((f"perfbench neardup_dedup seed {seed}", spark.createDataFrame(corpus)))
    for name, docs in sources:
        cand = minhash_lsh_candidates(
            docs, "text", p["n_hashes"], p["band_size"], p["k"],
            max_bucket_size=p["max_bucket_size"], salt_chunk=p["salt_chunk"],
        ).cache()
        n_docs = docs.count()
        n_pairs = cand.count()
        n_cand = cand.select(F.explode(F.array("doc_a", "doc_b"))).distinct().count()
        n_verified = ngram_jaccard_pairs(
            docs, "text", p["k"], threshold=0.5, candidates=cand
        ).count()
        print(
            f"{name}: docs {n_docs}, candidate pairs {n_pairs}, verified {n_verified}, "
            f"candidate docs {n_cand} ({100 * n_cand / n_docs:.1f}% of the corpus)",
            flush=True,
        )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
