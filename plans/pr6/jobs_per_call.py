"""Spark jobs per call of the three self-terminating graph loops.

Run it with the root of a checkout as the current directory (the
package is imported from there), e.g. ``SPARK_GRAFT_CPUS=4 python
<path to this script>``.

Each case runs once to warm up and once counted; the count is every
job submitted under the case's job group, eager pins included.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

from stock_indicators_etl_spark import get_spark  # noqa: E402
from stock_indicators_etl_spark.llmdata.dedup import connected_components  # noqa: E402
from stock_indicators_etl_spark.operators.graph import kcore  # noqa: E402


def chain(n):
    return [(i, i + 1) for i in range(n - 1)], list(range(n))


def cliques(count, size):
    edges = []
    for c in range(count):
        base = c * size
        edges += [
            (base + i, base + j) for i in range(size) for j in range(i + 1, size)
        ]
    return edges, list(range(count * size))


def main():
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def cc(edges, verts, method):
        e = spark.createDataFrame(edges, "doc_a long, doc_b long")
        v = spark.createDataFrame([(i,) for i in verts], "doc_id long")
        return connected_components(e, v, method=method)

    def kc(edges, k):
        e = spark.createDataFrame(edges, "src long, dst long")
        return kcore(e, k=k)

    clique_plus_path = cliques(1, 6)[0] + [(5, 6), (6, 7), (7, 8), (8, 9)]
    cases = {
        "cc label, 9-vertex chain": lambda: cc(*chain(9), "label"),
        "cc star, 9-vertex chain": lambda: cc(*chain(9), "star"),
        "cc label, 20 8-cliques": lambda: cc(*cliques(20, 8), "label"),
        "cc star, 20 8-cliques": lambda: cc(*cliques(20, 8), "star"),
        "kcore k=3, 6-clique + 4-edge tail": lambda: kc(clique_plus_path, 3),
    }
    for i, (name, build) in enumerate(cases.items()):
        build().collect()  # warm-up
        group = f"jobs-per-call-{i}"
        spark.sparkContext.setJobGroup(group, name)
        rows = len(build().collect())
        spark.sparkContext.setJobGroup("", "")
        jobs = len(tracker.getJobIdsForGroup(group))
        print(f"{name:40s} jobs={jobs:3d} rows={rows}")
    spark.stop()


if __name__ == "__main__":
    main()
