"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same settings hold except memory sizing moves to executor configs.  All
knobs here are chosen for the 100 TB design point and merely *also* work
at test scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` ~ cores locally; on a cluster AQE's
  coalescing makes the initial number mostly a ceiling.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive-UTC).
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- Driver heap sized to the machine: half of physical RAM, capped at 24g
  (:func:`default_driver_memory`); ``$SPARK_DRIVER_MEMORY`` overrides.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


DRIVER_MEMORY_CAP_MB = 24 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: ``$SPARK_DRIVER_MEMORY`` if set,
    else half of ``MemTotal`` (the driver JVM shares the machine with its
    Python workers and the OS page cache), capped at
    ``DRIVER_MEMORY_CAP_MB``; the cap alone where ``meminfo`` is
    unreadable."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEMORY_CAP_MB}m"
    return f"{min(total_kb // 2048, DRIVER_MEMORY_CAP_MB)}m"


def get_spark(
    app_name: str = "processo_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.  On a real
    cluster, drop the ``master`` call and submit with ``spark-submit``;
    everything else is identical.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen COMPILE cache (r15): the default 100
        # entries thrash on any long-lived session running this
        # engine's registry (37 headline / 296 registered queries hold
        # far more distinct codegen units), so every re-run recompiled
        # its evicted stages on the driver — measured 6.7 s → 4.4 s on
        # the in-suite pagerank steady pass alone (REST: zero GC delta,
        # task time ≈ wall, pure per-stage compile serialization).
        # 2000 entries ≈ a few tens of MB of compiled classes; sized to
        # the registry, not to this machine.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persist_once(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` unless the session's cache manager already
    holds ``df``'s plan (a re-run of the same query, or a sibling query
    sharing the relation), where Spark keeps the first entry anyway and
    only logs "Asked to cache already cached data".  Chains with
    ``df.transform(persist_once)``; ``unpersist`` frees the shared entry
    either way."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist(level)
    return df
