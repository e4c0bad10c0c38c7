"""Sources: named tables → DataFrames (reference S1-S4).

Reference equivalents:
  * S1 ES index scan   (lib/es_client.ts:25-27)  → ``spark.read.parquet``
  * S2 index patterns  (constants.ts:1-2)        → per-table paths/globs
  * S4 multi-source union scan (lib/collectPods.ts:13, one query over
    ``[logsIndices, apmIndices]``) → ``unionByName(allowMissingColumns)``

Scale notes: the parquet scan is the pushdown boundary — filters and
column pruning land here (verify with ``df.explain``: ``PushedFilters``,
``ReadSchema``).  Timestamp normalization happens once at this boundary so
every downstream operator sees proper TimestampType.
"""

from __future__ import annotations

from datetime import datetime, timezone
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ns_epoch(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000) * 1000


#: per-(session, file-identity) LAZY reader handles.  ``spark.read.X``
#: re-lists the path and re-reads the parquet footer on EVERY call —
#: measured ~90 ms per call, and the suite's 256 load_table sites paid
#: it per query invocation (~20 s per full bench pass).  Memoizing the
#: analyzed handle is metadata-only — the same thing registering the
#: table in a catalog once per session does in production: NO rows are
#: cached, every action still scans the parquet input.  Keyed on the
#: resolved path's (mtime_ns, size) so a rewritten fixture invalidates,
#: and scoped per live SparkSession via a WeakKeyDictionary so a new
#: session (fresh JVM, different confs) never sees another session's
#: plans — the weak key (not id(session)) means a stopped session's
#: handles are garbage-collected with it and a recycled CPython object
#: id can never resurrect plans bound to a dead JVM session (r17,
#: advisor item).  CSV note: inferSchema'd handles freeze the inferred
#: schema for the session — same as a catalog registration would.
#:
#: Caveat (same as spark.table()): two load_table calls for the SAME
#: table now return the SAME DataFrame object — a self-join must use
#: column-NAME join keys or explicit aliases, not bracket columns from
#: the two handles (which would compare a column with itself; Spark
#: raises AMBIGUOUS_SELF_JOIN for the plain form, so the failure is
#: loud, not silent).  Audited: no suite query bracket-joins two loads
#: of one table.
_RAW_FRAMES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _read_raw(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (path, fmt, st.st_mtime_ns, st.st_size)
    except OSError:  # a glob or remote path: read uncached
        key = None
    if key is not None and key in _RAW_FRAMES.get(spark, {}):
        return _RAW_FRAMES[spark][key]
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":  # columnar like parquet: pushdown + pruning intact
        df = spark.read.orc(path)
    elif fmt == "csv":
        df = (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
        )
    else:
        df = spark.read.json(path)
    if key is not None:
        _RAW_FRAMES.setdefault(spark, {})[key] = df
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    ts_range: tuple[datetime, datetime] | None = None,
) -> DataFrame:
    """Load one named table, normalizing nanosecond timestamps.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a ns-epoch long
    and is truncated to microseconds here (integer floor-division, the same
    ns→µs conversion DuckDB applies), so Spark and the oracle agree.

    ``ts_range=(lo, hi)`` (UTC, inclusive) additionally filters the *raw*
    ns column before conversion.  This is the pushdown path for time
    windows: Catalyst cannot invert ``timestamp_micros(ts div 1000)``, so a
    post-conversion range never reaches the scan — the raw-long comparison
    does (``PushedFilters: GreaterThanOrEqual(ts, ...)``), which at 100 TB
    is row-group/partition pruning instead of a full scan.
    """
    fmt = "parquet"
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):  # alternate source formats (S2: same table,
        for cand, f in (
            (f"{sf_dir}/{table}.orc", "orc"),
            (f"{sf_dir}/{table}.csv", "csv"),
            (f"{sf_dir}/{table}.json", "json"),
        ):
            if os.path.exists(cand):  # different physical encoding)
                path, fmt = cand, f
                break
    df = _read_raw(spark, path, fmt)
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        if ts_range is not None:
            # conservative bounds vs the post-conversion µs filter: a row at
            # hi + 999ns truncates to hi µs and must survive the prefilter
            lo, hi = ts_range
            df = df.filter(
                (F.col("ts") >= F.lit(_ns_epoch(lo)))
                & (F.col("ts") <= F.lit(_ns_epoch(hi) + 999))
            )
        # integer division — double division loses precision at ns-epoch scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def union_scan(*dfs: DataFrame) -> DataFrame:
    """S4: one scan over several logical sources (lib/collectPods.ts:13).

    ``unionByName(allowMissingColumns=True)`` mirrors querying two index
    patterns whose documents carry different field sets: missing fields are
    NULL, matching the fields-API "absent field" behavior.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
