#!/usr/bin/env python
"""Write PLANS.md: the formatted physical plan of every headline
query at the given SF dir (default sf0.001 — plan shape, not data,
is what matters). Reviewing plans is how the scale argument gets
audited; this makes the audit a git diff instead of a REPL session.

Usage: python scripts/dump_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    import __spark_entry__ as entry_mod
    from stock_indicators_etl_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    lines = [
        "# PLANS — formatted physical plans of every driver query",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}`.",
        "Grep targets: `Exchange` (shuffles), `PushedFilters` /",
        "`ReadSchema` (pushdown + pruning), `WholeStageCodegen` spans,",
        "`BroadcastHashJoin` vs `SortMergeJoin`, `ArrowEvalPython` /",
        "`MapInPandas` (Python stages), `CartesianProduct` (must not",
        "appear).",
        "",
    ]
    # every benched query: driver surface, then the oracle-checked extras
    queries = {**entry_mod.queries(), **entry_mod.extra_queries()}
    for name, fn in queries.items():
        if not entry_mod.REGISTRY[name].bench:
            continue
        # canonical plans: an earlier query's persisted lineage would
        # otherwise substitute InMemoryTableScan into later plans
        spark.catalog.clearCache()
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            plan = buf.getvalue().rstrip()
        except Exception as exc:  # pragma: no cover - diagnostic path
            plan = f"<plan unavailable: {exc}>"
        lines += [f"## {name}", "", "```", plan, "```", ""]
    Path(out_path).write_text("\n".join(lines))
    print(f"wrote {out_path} ({len(lines)} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
