#!/usr/bin/env python
"""The big-k demonstration the literal path cannot run: Lloyd k-means
at k=10,000 over the sf1 upscale (20k × dim-64 embeddings) via
``method="arrow"`` — centroids travel as one broadcast variable
(k·d = 640k float64 ≈ 5 MB), assignment is numpy block-matmul inside
``mapInPandas``, the update is a narrow combinable shuffle of
per-batch partial sums. The literal path at this k would embed 640k
doubles as plan literals (py4j plan build alone takes minutes and the
lambda tree exceeds codegen limits); the join path would evaluate
N·k HOF folds (~10⁸ interpreter steps per iteration).

Run `python scripts/make_sf1.py` first. Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF1 = Path(__file__).resolve().parent.parent / "testdata_sf1"
K = 10_000
ITERS = 2


def main() -> int:
    if not SF1.exists():
        print("run scripts/make_sf1.py first", file=sys.stderr)
        return 1
    from stock_indicators_etl_spark.llmdata.clustering import kmeans_assign
    from stock_indicators_etl_spark.session import get_spark

    spark = get_spark(app_name="bigk_demo", long_lived=True)
    emb = spark.read.parquet(str(SF1 / "embeddings.parquet"))

    t0 = time.perf_counter()
    out = kmeans_assign(emb, k=K, iters=ITERS, method="arrow")
    n = out.count()
    dt = time.perf_counter() - t0
    nonempty = out.select("cluster").distinct().count()
    print(
        json.dumps(
            {
                "metric": "kmeans_bigk_arrow",
                "k": K,
                "iters": ITERS,
                "n_vectors": n,
                "nonempty_clusters": nonempty,
                "value": round(dt, 2),
                "unit": "sec",
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
