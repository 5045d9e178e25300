"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the driver environment (``local[32]``,
single JVM) but every knob here is chosen to also make sense on a
1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- Arrow on (the recursive-indicator ``applyInPandas`` path is
  Arrow-batched);
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a high initial value;
- UTC session timezone so epoch-ns arithmetic is unambiguous;
- a JIT profile that follows the process's lifetime (DESIGN §4.35).
  A scheduled daily task is a fresh process that lives about 30 s, and
  C2 compilation alone cost 44 CPU-s of one cold ``daily_etl`` process,
  spread thinly over Janino, generated classes, Spark and the JDK. So
  by default the driver JVM stops at C1 (``-XX:TieredStopAtLevel=1``)
  and keeps the 240 MB code cache that tiered mode reserves (C1-only
  mode would reserve 48 MB, which two minutes of warm runs can fill).
  Processes that run for minutes pass ``long_lived=True`` and keep the
  tiered JIT, whose C2 code is faster in steady state. The flags reach
  the driver JVM only (in local mode that JVM runs the tasks too), and
  only when ``get_spark`` launches it: ``getOrCreate`` reuses a running
  JVM as it is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "stock-indicators-etl-spark"

# Spark puts spark.driver.defaultJavaOptions before
# spark.driver.extraJavaOptions on the JVM command line, so a caller's
# extraJavaOptions still wins flag by flag.
_SHORT_LIVED_JVM = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    long_lived: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism.

    ``long_lived``: pass True when the process runs for minutes or runs
    many distinct queries (test sessions, ``bench.py``, oracle sweeps,
    backfills); its driver JVM keeps the tiered JIT. The default starts
    a C1-only driver JVM, which costs less CPU to warm up and suits a
    one-shot task such as a daily ``download``/``indicators`` run.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read TIMESTAMP(NANOS) parquet as int64 epoch-ns (our native
        # time representation; Spark has no ns timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # many-query sessions (bench/oracle sweeps) compile hundreds of
        # distinct codegen units; the default 100-entry cache thrashes
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    if not long_lived:
        builder = builder.config("spark.driver.defaultJavaOptions", _SHORT_LIVED_JVM)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
