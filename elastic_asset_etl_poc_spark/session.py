"""SparkSession factory (reference: lib/es_client.ts:5,34-45 singleton client).

The reference memoizes one dual-cluster ES client per process
(``lib/es_client.ts:34-38``); here one tuned SparkSession serves both the
"reader" and "writer" roles (S5/S6) — read paths and write paths are plain
options on the DataFrame API.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
  * AQE on: runtime partition coalescing, skew-join splitting, and
    dynamic join-strategy switching replace hand-tuned shuffle counts.
  * ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
    real cluster set it ~2-3× total cores and let AQE coalesce.
  * nanosAsLong: the events fixture stores TIMESTAMP(NANOS) which the
    vectorized Parquet reader rejects; we read ns as long and convert to
    microsecond timestamps at the source boundary (sources/registry.py).
  * Arrow enabled for any toPandas()/pandas-UDF path (extensions only —
    reference parity needs zero Python UDFs, SURVEY.md §2.10).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's RAM, capped at 24g — a heap larger than the machine swaps or
    gets OOM-killed instead of spilling."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{max(1024, min(24 * 1024, kb // 2048))}m"


def get_spark(
    app_name: str = "elastic-asset-etl-poc-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build or reuse the singleton SparkSession (S6: getOrCreate)."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Determinism: UTC everywhere so Spark timestamps collect identically
        # to the DuckDB oracle's naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long, convert at source.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE: coalesce post-shuffle partitions, split skewed joins at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(32, cpus)))
        # Local-mode heap: Spark's 1g default thrashes GC on shuffle-heavy
        # work long before this box's RAM matters (the sf1 smoke OOM'd the
        # driver JVM at 1g).  Only honored at JVM launch — a pre-existing
        # session (driver-owned harness) keeps its own setting.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Dims (region/nation/customer at test SF) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # MIN/MAX/COUNT can be answered from parquet footers.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource filter pushdown (mock-ES source, sources/es_source.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
