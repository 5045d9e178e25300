#!/usr/bin/env python
"""Per-query forensic profile of named queries: wall seconds, Spark
job / stage / task counts, and the per-stage table (executor run time,
stage wall time, tasks, shuffle read/write bytes, stage name) — the
job-accounting method that found the dedup_incremental and perceptron
constants, plus the stage table where the time actually shows up.

Timing protocol mirrors bench.py (warm noop save, then timed cold
runs with clearCache + GC; eager queries rebuild inside the timed
section). Each timed run executes in its own job group; afterwards the
listener bus is drained and every stage of the group's jobs is read
from Spark's live status store over py4j, so the UI stays off.

Usage: python scripts/profile_queries.py <query> [query ...]
       [--sf=SF_DIR] [--runs=2] [--top=25] [--explain]

``SF_DIR`` defaults to the sf0.1 test data.

``--explain`` additionally writes plans/r12/<query>_profile.txt with
the formatted plan of the RETURNED frame (eager-construction queries
return a checkpointed LogicalRDD scan — their real work is the
construction jobs this script counts).
"""

from __future__ import annotations

import gc
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stock_indicators_etl_spark.session import get_spark  # noqa: E402


def stage_rows(sc, group: str) -> tuple[int, list[dict]]:
    """(job count, one row per stage that ran) for a job group."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    seen: set[int] = set()
    rows = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            s = store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            sub, comp = s.submissionTime(), s.completionTime()
            wall = None
            if sub.isDefined() and comp.isDefined():
                wall = (comp.get().getTime() - sub.get().getTime()) / 1e3
            rows.append(
                {
                    "id": sid,
                    "tasks": s.numTasks(),
                    "run_s": round(s.executorRunTime() / 1e3, 3),
                    "wall_s": wall,
                    "shuf_r_mb": round(s.shuffleReadBytes() / 2**20, 2),
                    "shuf_w_mb": round(s.shuffleWriteBytes() / 2**20, 2),
                    "name": s.name()[:80],
                }
            )
    return len(job_ids), rows


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    runs = 2
    top = 25
    explain = False
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        elif a.startswith("--top="):
            top = int(a.split("=", 1)[1])
        elif a == "--explain":
            explain = True
        else:
            names.append(a)

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="profile", long_lived=True)
    queries = {**entry_mod.queries(), **entry_mod.extra_queries()}

    sc = spark.sparkContext
    out: dict[str, dict] = {}
    for name in names:
        fn, eager = queries[name], entry_mod.REGISTRY[name].eager
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()  # warm
        best = best_rows = None
        for run in range(runs):
            spark.catalog.clearCache()
            gc.collect()
            sc._jvm.System.gc()
            group = f"prof_{name}_{run}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            d = fn(spark, sf_dir) if eager else df
            d.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            n_jobs, rows = stage_rows(sc, group)
            rec = {
                "wall": round(wall, 3),
                "jobs": n_jobs,
                "stages_run": len(rows),
                "tasks": sum(r["tasks"] for r in rows),
                "stage_wall_s": round(sum(r["wall_s"] or 0 for r in rows), 3),
                "stage_run_s": round(sum(r["run_s"] for r in rows), 3),
            }
            if best is None or rec["wall"] < best["wall"]:
                best, best_rows = rec, rows
        out[name] = best
        print(json.dumps({name: best}), flush=True)
        best_rows.sort(key=lambda r: -(r["wall_s"] or r["run_s"]))
        for r in best_rows[:top]:
            print(
                f"  {r['id']:>6} tasks={r['tasks']:<4} wall={r['wall_s']!s:<8}"
                f" run={r['run_s']:<8} sr={r['shuf_r_mb']:<8}"
                f" sw={r['shuf_w_mb']:<8} {r['name']}"
            )
        if explain:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            p = Path(__file__).resolve().parent.parent / "plans" / "r12"
            p.mkdir(parents=True, exist_ok=True)
            (p / f"{name}_profile.txt").write_text(buf.getvalue())
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
