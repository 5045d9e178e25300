"""Spark jobs per call of the two sibling sites of the connected-components
edge pin, as they are and with the pin moved before the two-direction view.

Run it with the root of a checkout as the current directory, e.g.
``SPARK_GRAFT_CPUS=4 python <path to this script> <sf0.01 dir>``.

- ``label_propagation`` (``q_label_prop``) pins ``und ∪ reversed(und)``
  eagerly; the variant pins ``und`` and builds the view lazily.
- ``link_prediction_scores`` (``q_link_predict``) is lazy; the variant
  pins its ``und`` eagerly. Its plan fingerprint is printed beside the
  golden row in ``tests/test_plans.py`` (both at that file's ``SF_DIR``).

Each variant is the function's own source with the pin moved (a plain
text replacement, asserted to apply), executed in the module's
namespace. Each case runs once to warm up and once counted under a job
group; the outputs of both forms must be equal.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "tests")]

import __spark_entry__ as entry  # noqa: E402
from stock_indicators_etl_spark import get_spark  # noqa: E402
from stock_indicators_etl_spark.operators import graph  # noqa: E402
from test_plans import SF_DIR, plan_fingerprint, plan_of  # noqa: E402

MOVES = {
    "label_propagation": [
        ("        .distinct()\n    )\n",
         "        .distinct()\n        .localCheckpoint(eager=True)\n    )\n"),
        ("        .unionByName(und.select(F.col(\"b\").alias(\"v\"), F.col(\"a\").alias(\"nbr\")))\n"
         "        .localCheckpoint(eager=True)\n",
         "        .unionByName(und.select(F.col(\"b\").alias(\"v\"), F.col(\"a\").alias(\"nbr\")))\n"),
    ],
    "link_prediction_scores": [
        (").distinct()\n    deg =", ").distinct().localCheckpoint(eager=True)\n    deg ="),
    ],
}
QUERIES = {"label_propagation": "label_prop", "link_prediction_scores": "link_predict"}


def variant(name: str):
    src = inspect.getsource(getattr(graph, name))
    for old, new in MOVES[name]:
        assert src.count(old) == 1, (name, old)
        src = src.replace(old, new)
    ns = dict(vars(graph))
    exec(compile(src, f"<{name} variant>", "exec"), ns)
    return ns[name]


def main() -> None:
    sf_dir = sys.argv[1]
    spark = get_spark(app_name="sibling-sites")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for name, query in QUERIES.items():
        original = getattr(graph, name)
        results = {}
        for form, fn in (("as is", original), ("pin moved", variant(name))):
            setattr(graph, name, fn)
            try:
                build = entry.REGISTRY[query].build
                spark.catalog.clearCache()
                build(spark, sf_dir).collect()  # warm-up
                spark.catalog.clearCache()
                n += 1
                spark.sparkContext.setJobGroup(f"sibling-{n}", f"{query} {form}")
                rows = sorted(build(spark, sf_dir).collect())
                spark.sparkContext.setJobGroup("", "")
                jobs = len(tracker.getJobIdsForGroup(f"sibling-{n}"))
                spark.catalog.clearCache()
                fp = plan_fingerprint(plan_of(build(spark, SF_DIR)))
            finally:
                setattr(graph, name, original)
            results[form] = rows
            print(f"{query:13s} {form:9s} jobs={jobs:3d} rows={len(rows)} "
                  f"fingerprint={fp}")
        print(f"{query:13s} outputs equal: {results['as is'] == results['pin moved']}")
    spark.stop()


if __name__ == "__main__":
    main()
