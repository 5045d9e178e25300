#!/usr/bin/env python
"""Self-check harness mirroring the driver's t2 oracle comparison:
runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB, then compares row count, column names, and
order-insensitive values.

Usage: python scripts/check_oracle.py [--extras] [sf_dir] [query ...]

``--extras`` also checks ``extra_queries()`` — locally-verified
variants kept off the driver registry (it records at most 50).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _render(v) -> str:
    """Canonical string rendering of one cell, repr-faithful to its dtype.

    The driver hashes rendered values after sorting columns by name, so
    a float that differs in the last ulp, or an int that arrives as a
    float/object (e.g. DuckDB HUGEINT widening), must render differently
    here too. repr() of a numpy/python scalar keeps full precision and
    distinguishes ``1`` from ``1.0`` from ``Decimal('1')``.
    """
    if v is None:
        return "<NULL>"
    if isinstance(v, float) and np.isnan(v):
        return "<NaN>"
    try:
        if pd.isna(v):
            return "<NULL>"
    except (TypeError, ValueError):
        pass  # arrays / lists
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return f"i:{int(v)}"
    if isinstance(v, (np.bool_, bool)):
        return f"b:{bool(v)}"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, render every cell canonically, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame({c: df[c].map(_render) for c in df.columns})
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Bit-exact, dtype-aware compare mirroring the driver's value-hash.

    No float tolerance and no dtype coercion: a BIGINT-vs-HUGEINT sum or
    a last-ulp float divergence fails here exactly as it fails the
    driver's hash (VERDICT r1 item 2).
    """
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    if len(sdf) != len(ddf):
        problems.append(f"rowcount: spark={len(sdf)} duck={len(ddf)}")
        return problems
    a, b = canon(sdf), canon(ddf)
    for c in a.columns:
        bad = (a[c] != b[c]).values
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(
                f"col {c}: {int(bad.sum())} mismatches, first at sorted-row {i}: "
                f"spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}"
            )
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--extras"]
    extras = "--extras" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from stock_indicators_etl_spark.session import get_spark

    spark = get_spark(app_name="check_oracle", long_lived=True)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if extras:
        queries.update(entry_mod.extra_queries())
        oracles.update(entry_mod.extra_oracle_sql())
    n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({len(sdf)} vs {len(ddf)} rows)")
            for p in problems[:5]:
                print(f"    {p}")
        else:
            print(f"OK   {name} ({len(sdf)} rows)")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
