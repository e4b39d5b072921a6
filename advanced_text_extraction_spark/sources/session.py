"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for the multi-executor cluster: with no
``master`` the session runs ``local[N]`` over the cores this process may
use (``SPARK_GRAFT_CPUS`` overrides N), and the driver heap is sized from
the host's memory (``SPARK_DRIVER_MEM`` overrides it). On a real cluster
the identical builder applies — only master, memory, and the Iceberg
catalog packages change (see sources/catalog.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Upper bound of the default driver heap, well below the ~32 GiB at
# which the JVM stops compressing object pointers.
MAX_DRIVER_MEMORY_GB = 24


def default_driver_memory() -> str:
    """Half the host's memory (MemTotal), in whole GiB, between 1g and
    ``MAX_DRIVER_MEMORY_GB``: in local mode the JVM shares the host with
    the Python workers, the page cache and the shuffle files."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f
                   if line.startswith("MemTotal:"))
    return f"{min(MAX_DRIVER_MEMORY_GB, max(1, kib // 2**21))}g"


def build_session(
    app_name: str = "advanced_text_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    n_threads = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    shuffle_partitions = shuffle_partitions or max(n_threads, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-split backstop (SURVEY §4.2)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow exchange for pandas UDFs; bounded batches keep the Python
        # worker memory flat regardless of payload skew (SURVEY §2.13 C3)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # idempotent per-partition overwrite (reference J2 upsert analog)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # e.g. -XX:ActiveProcessorCount=N for CPU-budget-pinned runs
        # (bench scaling mode) — how a cgroup-aware JVM behaves under a
        # container CPU limit on a real cluster
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        # local mode: no data locality to wait for — schedule immediately
        .config("spark.locality.wait", "0s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
