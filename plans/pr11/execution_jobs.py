"""Spark jobs per SQL execution of one uncut cold ``neardup_dedup`` run.

Run it with the root of a checkout as the current directory (the
package and ``perfbench/workloads.py`` are imported from there), e.g.
``SPARK_GRAFT_CPUS=4 python <path to this script> --seed 52``.

It stages the benchmark's corpus for ``--seed``, starts a default
session, runs the workload once as the benchmark's cold run does (no
pins between the stages) and then reads every SQL execution from the
session's status store (``sharedState().statusStore().executionsList()``):
its jobs, its stages and how many exchanges AQE reused in its final
plan. The execution with the most jobs is the edge pin of
``connected_components``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]

import workloads  # noqa: E402

from stock_indicators_etl_spark import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=52)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        w = workloads.WORKLOADS["neardup_dedup"](args.seed, 1.0)
        w.stage(os.path.join(tmp, "input"))
        spark = get_spark(app_name="execution-jobs")
        spark.sparkContext.setLogLevel("ERROR")
        w.run(spark, os.path.join(tmp, "out"))
        problems = w.check(os.path.join(tmp, "out"))
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        rows = []
        for i in range(execs.size()):
            x = execs.apply(i)
            plan = x.physicalPlanDescription()
            rows.append((x.executionId(), x.jobs().size(), x.stages().size(),
                         plan.count("ReusedExchange"),
                         re.sub(r"\S*/", "", x.description())[:60]))
        total = sum(r[1] for r in rows)
        print(f"seed {args.seed}: {len(rows)} SQL executions, {total} jobs, "
              f"check {'OK' if not problems else problems}")
        print(f"{'exec':>4} {'jobs':>4} {'stages':>6} {'reused':>6}  description")
        for r in rows:
            print(f"{r[0]:>4} {r[1]:>4} {r[2]:>6} {r[3]:>6}  {r[4]}")
        top = max(rows, key=lambda r: r[1])
        print(f"most jobs: execution {top[0]}, {top[1]} jobs over {top[2]} stages, "
              f"{top[3]} reused exchanges")
        spark.stop()


if __name__ == "__main__":
    main()
