#!/usr/bin/env python
"""Partitioning-invariance sweep (VERDICT r10 next #1).

The bpe_encode token-order bug proved a whole latent class: a query
can be oracle-green for rounds while emitting PARTITIONING-DEPENDENT
output (unsorted ``collect_list``, first-row-wins without an order,
float folds over shuffle order) because the harness's fixed sf0.01
file layout pins one shuffle. This sweep runs every ``queries()`` +
``extra_queries()`` entry TWICE —

  1. as-is against the pristine sf dir, at the session's configured
     ``spark.sql.shuffle.partitions``;
  2. against a PERTURBED copy of the same tables (each
     ``repartition(7)``-rewritten, so scan splits, row interleaving
     and partition boundaries all change) with
     ``spark.sql.shuffle.partitions`` switched to a co-prime value —

and asserts the canonically-rendered frames (rows/columns sorted,
every cell repr-rendered, ARRAYS COMPARED IN ORDER) are bit-equal.
Any query whose output is a sequence assembled nondeterministically
fails here even though its count-based oracle stays green.

Usage: python scripts/check_invariance.py [--axis=fold] [sf_dir] [query ...]
Default sf_dir is /root/testdata/sf0.001 (the sweep is a determinism
check, not a throughput check — the smallest tier keeps the 2×199
executions fast). Exit code 1 on any mismatch.

``--axis=fold`` (VERDICT r11 next #6) adds a SECOND perturbation
axis to the perturbed leg: ``spark.sql.adaptive.enabled`` is FLIPPED
from the session default, so AQE's runtime partition coalescing (or
its absence) changes the number and layout of reduce partitions —
the task-layout change that would expose an IEEE left-fold stable
under partition COUNT but not under partition GROUPING (a float
``sum()`` consumed by a threshold). The file-layout + shuffle-width
perturbation is kept, so the fold leg strictly dominates the default
leg's perturbation.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from check_oracle import TABLES, canon  # noqa: E402

PERTURB_PARTITIONS = 7
PERTURB_SHUFFLE = 7


def build_perturbed_copy(spark, sf_dir: str, out_dir: str) -> None:
    """Rewrite every table of ``sf_dir`` into ``out_dir`` as
    ``repartition(7)`` parquet: same rows, different file count, file
    boundaries and row interleaving — the input-side half of the
    perturbation."""
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if not Path(src).exists():
            continue
        (
            spark.read.parquet(src)
            .repartition(PERTURB_PARTITIONS)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{t}.parquet")
        )


def run_canon(
    spark,
    fn,
    sf_dir: str,
    shuffle_partitions: int | None,
    flip_aqe: bool = False,
):
    """Execute one query at an optionally-overridden shuffle width
    (and, for the fold axis, with AQE flipped from the session
    default) and return its canonical frame (sorted rows/cols,
    repr-rendered cells, arrays in order)."""
    key = "spark.sql.shuffle.partitions"
    aqe_key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    prev_aqe = spark.conf.get(aqe_key)
    try:
        if shuffle_partitions is not None:
            spark.conf.set(key, str(shuffle_partitions))
        if flip_aqe:
            spark.conf.set(
                aqe_key, "false" if prev_aqe == "true" else "true"
            )
        return canon(fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(aqe_key, prev_aqe)


def diff_frames(a, b) -> list[str]:
    """Human-readable mismatch lines between two canonical frames."""
    problems: list[str] = []
    if list(a.columns) != list(b.columns):
        return [f"columns: {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rowcount: {len(a)} vs {len(b)}"]
    for c in a.columns:
        bad = (a[c] != b[c]).values
        if bad.any():
            import numpy as np

            i = int(np.argmax(bad))
            problems.append(
                f"col {c}: {int(bad.sum())} diffs, first at sorted-row {i}: "
                f"base={a[c].iloc[i]!r} perturbed={b[c].iloc[i]!r}"
            )
    return problems


def sweep(
    spark,
    sf_dir: str,
    only: set[str] | None = None,
    fold_axis: bool = False,
) -> dict[str, list[str]]:
    """Run the full invariance sweep; returns {query: problems} for
    every failing query (empty dict = all invariant)."""
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    queries.update(entry_mod.extra_queries())

    failures: dict[str, list[str]] = {}
    tmp = tempfile.mkdtemp(prefix="invariance_")
    try:
        build_perturbed_copy(spark, sf_dir, tmp)
        for name, fn in queries.items():
            if only and name not in only:
                continue
            try:
                base = run_canon(spark, fn, sf_dir, None)
                pert = run_canon(
                    spark, fn, tmp, PERTURB_SHUFFLE, flip_aqe=fold_axis
                )
            except Exception as e:  # noqa: BLE001 - collect, keep sweeping
                failures[name] = [f"error: {type(e).__name__}: {e}"]
                print(f"ERR  {name}: {failures[name][0][:160]}")
                continue
            problems = diff_frames(base, pert)
            if problems:
                failures[name] = problems
                print(f"DIFF {name}")
                for p in problems[:4]:
                    print(f"    {p[:200]}")
            else:
                print(f"OK   {name} ({len(base)} rows)")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return failures


def main() -> int:
    argv = [a for a in sys.argv[1:] if not a.startswith("--axis")]
    fold_axis = any(
        a == "--axis=fold" for a in sys.argv[1:] if a.startswith("--axis")
    )
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:]) or None

    from stock_indicators_etl_spark.session import get_spark

    spark = get_spark(app_name="check_invariance", long_lived=True)
    failures = sweep(spark, sf_dir, only, fold_axis=fold_axis)
    axis = "fold (perturbed + AQE flipped)" if fold_axis else "partitioning"
    if failures:
        print(f"\n{len(failures)} NON-INVARIANT [{axis}]: {sorted(failures)}")
        return 1
    print(f"\nALL INVARIANT [{axis}]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
