"""Time ``clustering.semantic_survivors`` (SemDeDup survivors: near-dup
embedding pairs → ``connected_components`` → min-id member) with its
connected components on each path: ``union_find`` (the session's
broadcast threshold) and ``converge`` (threshold ``-1``). Wall seconds
of the whole call written to the ``noop`` sink, median of ``--reps``
after one warm-up; the survivor counts must agree.

Usage (from the repository root):
    python plans/pr14/semantic_survivors_paths.py SF_DIR [--reps 3] [--paths union_find,converge]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--paths", default="union_find,converge")
    args = ap.parse_args()

    from stock_indicators_etl_spark import get_spark
    from stock_indicators_etl_spark.llmdata.clustering import semantic_survivors

    spark = get_spark(master="local[4]", shuffle_partitions=4, long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)

    def run() -> float:
        t0 = time.perf_counter()
        semantic_survivors(emb).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for path, value in (("union_find", default), ("converge", "-1")):
        if path not in args.paths.split(","):
            continue
        spark.conf.set(key, value)
        run()
        sec = statistics.median(run() for _ in range(args.reps))
        n = semantic_survivors(emb).count()
        print(f"{path:10s} {sec:6.2f} s  survivors {n} of {emb.count()}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
