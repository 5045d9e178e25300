"""Registry-wide analysis smoke: every driver query and extra must
ANALYZE against the current testdata (catches schema/type drift like
the TIMESTAMP_NTZ events change at plan-build time, before the
driver's correctness harness does) and declare a matching oracle."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _entry():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as e

    return e


def test_registry_is_at_the_driver_cap_with_oracles():
    e = _entry()
    q, o = e.queries(), e.oracle_sql()
    assert len(q) == 50  # the driver records at most 50
    assert set(q) == set(o)
    xq, xo = e.extra_queries(), e.extra_oracle_sql()
    assert set(xq) == set(xo)
    assert not set(xq) & set(q)


def test_registry_contract():
    """One record per query: the driver surface is exactly the 50
    records marked ``driver=True``, every record carries a real
    oracle, and the two surfaces partition the registry."""
    from stock_indicators_etl_spark.queries import RECORDS
    from stock_indicators_etl_spark.queries_llm import RECORDS_LLM

    e = _entry()
    names = [q.name for q in (*RECORDS, *RECORDS_LLM)]
    assert len(names) == len(set(names)), "duplicate record names"
    assert set(names) == set(e.REGISTRY)
    assert sum(q.driver for q in e.REGISTRY.values()) == 50
    for q in e.REGISTRY.values():
        assert isinstance(q.oracle_sql, str) and q.oracle_sql.strip(), q.name
    q, xq = set(e.queries()), set(e.extra_queries())
    assert not q & xq
    assert q | xq == set(names)


@pytest.mark.parametrize("which", ["main", "extras"])
def test_every_query_analyzes_against_current_testdata(spark, which):
    e = _entry()
    reg = e.queries() if which == "main" else e.extra_queries()
    failures = {}
    for name, fn in reg.items():
        try:
            fn(spark, SF_DIR).schema  # forces full analysis
        except Exception as exc:  # noqa: BLE001 - collecting all failures
            failures[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:150]}"
    assert not failures, failures


def test_entry_returns_analyzable_flagship(spark):
    e = _entry()
    df = e.entry(spark)
    assert len(df.schema.fields) >= 19
