"""Time ``connected_components`` down both of its paths on synthetic
edge lists of growing size, to place ``dedup.UNION_FIND_MAX_ROWS``.

- ``union_find``: the broadcast threshold is raised and the row cap
  lifted, so the driver-side union–find takes every size;
- ``converge``: ``spark.sql.autoBroadcastJoinThreshold=-1``, the
  distributed fixpoint loop.

Two graph shapes with ``E`` edges:

- ``clusters``: ``2E`` vertices in near-dup groups of 2–10, each a
  random chain plus random extra edges inside the group (what the
  Jaccard verify hands over);
- ``random``: uniform random endpoints over ``4E`` vertices (mean
  degree 1/2: many small trees). At mean degree 1 (the critical
  random graph) the longest paths outgrew the distributed loop's
  default ``max_iter=50`` already at 10^4 edges, and ``converge``
  raised; a point where it does is printed as such.

Each point is the wall time of the whole call, edge pin included,
written to the ``noop`` sink, median of ``--reps`` runs after one
warm-up call; the driver process's peak RSS is printed after each
union–find size (it only grows, so sizes run in ascending order).

Usage: python plans/pr14/cc_paths_timing.py [--sizes 10000,100000,600000] [--reps 3]
"""

from __future__ import annotations

import argparse
import os
import resource
import statistics
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.getcwd())  # run from the repository root


def cluster_edges(n_edges: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    a, b, v = [], [], 0
    n_vertices = 2 * n_edges
    while len(a) < n_edges and v < n_vertices - 1:
        size = int(rng.integers(2, 11))
        members = rng.permutation(np.arange(v, min(v + size, n_vertices)))
        a.extend(members[:-1])
        b.extend(members[1:])
        extra = int(rng.integers(0, len(members)))
        a.extend(rng.choice(members, extra))
        b.extend(rng.choice(members, extra))
        v += size
    return np.array(a[:n_edges]), np.array(b[:n_edges])


def random_edges(n_edges: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    return rng.integers(0, 4 * n_edges, n_edges), rng.integers(0, 4 * n_edges, n_edges)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,100000,600000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--methods", default="label,star")
    ap.add_argument("--shapes", default="clusters,random")
    args = ap.parse_args()

    from stock_indicators_etl_spark import get_spark
    from stock_indicators_etl_spark.llmdata import dedup

    spark = get_spark(master="local[4]", shuffle_partitions=4, long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")
    key = "spark.sql.autoBroadcastJoinThreshold"
    dedup.UNION_FIND_MAX_ROWS = 2**31 - 2  # Dataset.limit takes an Int
    paths = {"union_find": "1t", "converge": "-1"}
    rng = np.random.default_rng(14)

    def run(edges, verts, method):
        t0 = time.perf_counter()
        dedup.connected_components(edges, verts, method=method).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    shapes = {"clusters": cluster_edges, "random": random_edges}
    for shape in args.shapes.split(","):
        make = shapes[shape]
        for n in [int(x) for x in args.sizes.split(",")]:
            a, b = make(n, rng)
            edges = spark.createDataFrame(
                pd.DataFrame({"doc_a": a.astype("int64"), "doc_b": b.astype("int64")})
            ).localCheckpoint(eager=True)
            verts = spark.range(int(max(a.max(), b.max())) + 1).withColumnRenamed(
                "id", "doc_id"
            )
            for method in args.methods.split(","):
                row = {}
                for path, value in paths.items():
                    spark.conf.set(key, value)
                    try:
                        run(edges, verts, method)  # warm-up
                        row[path] = statistics.median(
                            run(edges, verts, method) for _ in range(args.reps)
                        )
                    except RuntimeError as exc:  # converge's max_iter ran out
                        print(f"{shape} E={n} {method} {path}: {exc}", flush=True)
                        row[path] = float("nan")
                rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                print(
                    f"{shape:9s} E={n:>8d} {method:5s} "
                    f"union_find {row['union_find']:7.2f}s  converge {row['converge']:7.2f}s  "
                    f"ratio {row['converge'] / row['union_find']:5.1f}x  "
                    f"driver peak RSS {rss:6.0f} MiB",
                    flush=True,
                )
            edges.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
