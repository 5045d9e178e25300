"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query: the full indicator feature frame
(SURVEY.md §2.5 W5–W17) over the sf0.001 ``events`` table mapped to
bar series (FIXTURES.md §3).

``queries()`` / ``oracle_sql()`` — the records marked ``driver=True``
in ``REGISTRY``; ``extra_queries()`` / ``extra_oracle_sql()`` — the
rest, checked bit-exact by ``scripts/check_oracle.py --extras``.
Oracle SQL runs on DuckDB over the same parquet. EVERY query has an
oracle — including the recursive Wilder/EMA family (DuckDB
``list_reduce`` lambdas replay the kernels' exact left-fold IEEE
sequence; see ``queries._wilder_oracle_sql``), the LSH/IVF ANN
operators (shared md5-parity hyperplane literals + left-fold
projections), the multi-stage grid pipeline, and the near-dup
connected components (recursive CTE to the same fixpoint) — all
bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stock_indicators_etl_spark.config import IndicatorConfig
from stock_indicators_etl_spark.operators.pipeline import generate_indicators
from stock_indicators_etl_spark.queries import RECORDS, Query, events_as_bars
from stock_indicators_etl_spark.queries_llm import RECORDS_LLM

#: every query, by name: the one source of each query's facts
REGISTRY: dict[str, Query] = {q.name: q for q in (*RECORDS, *RECORDS_LLM)}


def _ensure_session_conf(spark: SparkSession) -> None:
    """Tolerate the events table's physical timestamp-type drift
    (DESIGN §4.15): some testdata generations store TIMESTAMP(NANOS),
    which Spark refuses to read unless ``nanosAsLong`` is on (then
    ``ts`` arrives as int64 epoch-ns); newer generations store µs and
    arrive as TIMESTAMP_NTZ, which this conf does not affect.
    ``queries._events`` branches on the resulting dtype. Our
    ``get_spark`` sets the conf at build time; a caller-supplied
    vanilla session needs it set here — it is runtime-settable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full 20-column indicator frame on sf0.001 events."""
    _ensure_session_conf(spark)
    bars = events_as_bars(spark, "/root/testdata/sf0.001")
    return generate_indicators(bars, IndicatorConfig(), assume_regular=True)


def _conf_wrapped(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_session_conf(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: _conf_wrapped(q.build) for q in REGISTRY.values() if q.driver}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle_sql for q in REGISTRY.values() if q.driver}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries NOT registered with the driver (its report caps at 50
    entries) but still bit-exact-checked locally via
    ``scripts/check_oracle.py --extras``."""
    return {
        q.name: _conf_wrapped(q.build) for q in REGISTRY.values() if not q.driver
    }


def extra_oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle_sql for q in REGISTRY.values() if not q.driver}
