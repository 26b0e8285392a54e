"""SparkSession factory with the engine's semantic + performance defaults.

Semantics parity notes (vs the reference's DuckDB executor, SURVEY.md §4):

- ``spark.sql.ansi.enabled=false``: the reference relies on DuckDB
  ``try_cast`` null-on-failure semantics (reference
  ``transform/models/silver/laps.sql:5-6``); non-ANSI Spark ``cast`` plus
  explicit ``try_*`` functions reproduce that.
- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive;
  pinning the session zone makes Spark's timestamp arithmetic and
  ``date_format`` render identically.
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting is
  the scale story for 100 TB — plans written here assume it.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

T = TypeVar("T")


def get_spark(
    app_name: str = "f1_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for this engine.

    In local mode the driver is the only JVM; on a real cluster the same
    configs apply per-executor. Every config below is cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- semantics (oracle parity) ---
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet int96/µs handling: keep timestamps as-is (no rebase).
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Parquet TIMESTAMP(NANOS) (e.g. pandas datetime64[ns] written without
        # coercion) has no Spark type; read as LongType epoch-ns and convert
        # at the loader (tables.load_table truncates to µs like DuckDB does).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- performance ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas exchange (toPandas, pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small dims (region/nation/supplier) should broadcast; default 10MB
        # is fine but make it explicit so the intent survives config drift.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- shared (session, input) cache ---------------------------------------------------
# name -> ((applicationId, sf_dir), value). One slot per name: a
# multi-consumer family (docs/SCALE.md "Shared-frame cache roster") keeps
# exactly one built result, so executor storage holds at most one corpus's
# frame per name and never leaks across inputs or sessions.
_SESSION_CACHE: dict[str, tuple[tuple[str, str], object]] = {}


def _release(value: object) -> None:
    """Unpersist every DataFrame in an evicted value (a DataFrame or a
    tuple holding some); driver-side models have nothing to release."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()


def session_cache(
    name: str, spark: SparkSession, sf_dir: str, build: Callable[[], T]
) -> T:
    """The value ``build()`` returns for (this session, ``sf_dir``), built
    once and shared by every consumer of slot ``name``.

    On a miss the slot's previous value is released BEFORE ``build()``
    runs (peak storage stays one corpus per name), then the result is
    stored. ``build`` does its own persist + materialize; consumers borrow
    the returned frame and must never unpersist it. Builds may nest — a
    build that reads another slot never evicts anything but its own name.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    slot = _SESSION_CACHE.get(name)
    if slot is not None:
        if slot[0] == key:
            return slot[1]  # type: ignore[return-value]
        del _SESSION_CACHE[name]
        _release(slot[1])
    value = build()
    _SESSION_CACHE[name] = (key, value)
    return value


# --- input-volume-derived shuffle sizing --------------------------------------------
# AQE coalesces too-small shuffle partitions at runtime but never SPLITS
# oversized non-skew-join ones, so the initial partition count must scale
# with data volume or each reducer spills at 100 TB. Rule (documented in
# docs/SCALE.md, measured by scripts/scale_stress.py):
#
#     partitions = clamp(input_bytes / TARGET_SHUFFLE_PARTITION_BYTES,
#                        floor = local core count (the sf0.01 constant),
#                        cap   = SHUFFLE_PARTITIONS_CAP)

TARGET_SHUFFLE_PARTITION_BYTES = 128 << 20  # post-shuffle ~128 MB per task
SHUFFLE_PARTITIONS_CAP = 20_000


_BYTE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def parse_byte_size(value: object, default: int = 128 << 20) -> int:
    """Spark byte-size conf value -> bytes, tolerating unit suffixes.

    The vanilla driver session returns a plain number for
    ``spark.sql.files.maxPartitionBytes``, but a user-tuned session may
    legally hold '128m' / '100MB' / '1g' — Spark's own ByteUnit grammar.
    Anything unparseable falls back to ``default`` (the Spark default,
    128 MB) rather than crashing the query: the value only tunes a
    repartition heuristic, never correctness.
    """
    s = str(value).strip().lower()
    i = len(s)
    while i > 0 and not s[: i].replace(".", "", 1).isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    try:
        return int(float(num) * _BYTE_SUFFIXES[suffix])
    except (ValueError, KeyError):
        return default


def maxpartition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` as an int, suffix-tolerant."""
    return parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )


def input_bytes(spark: SparkSession, paths: list[str]) -> int:
    """Total on-disk bytes of the inputs, via the Hadoop FileSystem API so
    the same call works for local dirs, HDFS, and object stores."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        hpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = hpath.getFileSystem(conf)
        total += fs.getContentSummary(hpath).getLength()
    return total


def autosize_shuffle_partitions(spark: SparkSession, paths: list[str]) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the actual input volume
    (call once per job, before the first shuffle is planned). Returns the
    chosen count. Floor = the session's core parallelism (the constant the
    small-SF tests run with), cap = SHUFFLE_PARTITIONS_CAP."""
    floor = int(spark.sparkContext.defaultParallelism)
    n = input_bytes(spark, paths) // TARGET_SHUFFLE_PARTITION_BYTES
    chosen = max(floor, min(int(n), SHUFFLE_PARTITIONS_CAP))
    spark.conf.set("spark.sql.shuffle.partitions", str(chosen))
    return chosen
