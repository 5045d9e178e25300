#!/usr/bin/env python
"""Measure recall@k of the approximate ANN paths against exact cosine
top-k, on the real embeddings table.

Speed without a quality number is not an ANN result: each approximate
path (LSH buckets, IVF probes, PQ/ADC, and IVF with Lloyd-refined
centroids) trades recall for candidate reduction, and this harness
pins WHERE each one sits. Output: one markdown table (stdout) +
optionally appended to a file.

recall@k = |approx top-k ∩ exact top-k| / k, averaged over queries.
Exact ties at the boundary are counted generously for the exact set
(standard practice: membership, not rank agreement).

Usage: python scripts/ann_recall.py [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _topk_sets(rows, id_field, k):
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r[id_field])
    return by_q


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 50

    from pyspark.sql import functions as F

    from stock_indicators_etl_spark.llmdata.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucketed_topk,
        multiprobe_lsh_topk,
        pq_topk,
        rp_topk,
        sq_topk,
    )
    from stock_indicators_etl_spark.llmdata.similarity import ivfsq_topk as _ivfsq
    from stock_indicators_etl_spark.llmdata.similarity import ivfpq_topk as _ivfpq
    from stock_indicators_etl_spark.session import get_spark

    spark = get_spark(app_name="ann_recall", long_lived=True)

    def _suite(emb, q, title):
        exact = _topk_sets(cosine_topk(emb, q, k=k).collect(), "nbr_id", k)
        candidates = {
            "lsh_bucketed_topk (8 planes)": lambda: lsh_bucketed_topk(emb, q, k=k),
            "multiprobe_lsh (1-bit flips)": lambda: multiprobe_lsh_topk(emb, q, k=k),
            "ivf_topk (16 cells, probe 4)": lambda: ivf_topk(emb, q, k=k),
            "ivf_topk (refine_iters=2)": lambda: ivf_topk(emb, q, k=k, refine_iters=2),
            "pq_topk (m=8, ksub=16)": lambda: pq_topk(emb, q, k=k),
            "pq_topk (m=4, ksub=64)": lambda: pq_topk(emb, q, k=k, m=4, ksub=64),
            "ivfpq_topk (16 cells, probe 4)": lambda: _ivfpq(emb, q, k=k),
            "pq_topk + rerank 100": lambda: pq_topk(emb, q, k=k, rerank=100),
            "ivfpq_topk + rerank 100": lambda: _ivfpq(emb, q, k=k, rerank=100),
            "sq_topk (int8 symmetric)": lambda: sq_topk(emb, q, k=k),
            "ivfsq_topk (16 cells, probe 4)": lambda: _ivfsq(emb, q, k=k),
            "rp_topk (16 planes, 3k shortlist)": lambda: rp_topk(emb, q, k=k),
            "rp_topk (shortlist 10k)": lambda: rp_topk(
                emb, q, k=k, shortlist_factor=10
            ),
        }
        lines = [
            f"### {title}",
            "",
            "| path | recall@k | full-k coverage |",
            "|---|---|---|",
        ]
        for name, make in candidates.items():
            approx = _topk_sets(make().collect(), "nbr_id", k)
            recalls = [
                len(approx.get(qid, set()) & exact[qid]) / max(1, len(exact[qid]))
                for qid in exact
            ]
            recall = sum(recalls) / len(recalls)
            full = sum(1 for s in approx.values() if len(s) >= k) / max(
                1, len(exact)
            )
            lines.append(f"| {name} | {recall:.3f} | {full:.0%} of queries |")
        return lines

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < n_queries)

    # clustered fixture: 64-dim, 20 tight clusters — the geometry real
    # text/image embeddings have (the parquet fixture is ~isotropic
    # noise, the worst case for every pruning index)
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(20, 64))
    mat = np.stack(
        [centers[i % 20] + 0.05 * rng.normal(size=64) for i in range(2000)]
    ).round(4)
    clustered = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(2000), "embedding": [list(map(float, r)) for r in mat]}
        )
    )
    cq = clustered.filter(F.col("vec_id") < n_queries)

    out = "\n".join(
        [f"ANN recall@{k}, {n_queries} queries", ""]
        + _suite(emb, q, f"isotropic fixture ({sf_dir})")
        + [""]
        + _suite(clustered, cq, "clustered fixture (20 tight clusters)")
    )
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
