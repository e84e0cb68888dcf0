"""SparkSession construction tuned for this engine.

The reference relied on ``SparkSession.builder.getOrCreate()`` with cluster
flags in a spark-submit comment (customer_segmentation_1.py:6). We centralize
session config so local test runs and cluster submits share one code path.

At 100 TB scale the interesting knobs are shuffle partitioning, AQE (runtime
coalescing + skew-join splitting), and Arrow for any pandas boundary; locally
we additionally cap shuffle partitions at the core count so tiny test runs
are not over-parallelized.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def default_driver_memory(meminfo: str) -> str:
    """Driver heap for a host whose ``/proc/meminfo`` text is ``meminfo``:
    half of ``MemTotal`` in whole GiB, at least 1g. In local mode the
    driver JVM hosts every executor thread, and a heap sized past the
    host's memory gets the JVM killed part-way through a long session."""
    kib = int(re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M).group(1))
    return f"{max(1, kib // (2 * 1024 * 1024))}g"


def build_session(
    app_name: str = "bigdata_capstone_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``)
    with shuffle partitions = core count. On a real cluster, pass
    ``master=None`` with a pre-configured environment and only the SQL-level
    configs below apply. Driver heap: ``$SPARK_DRIVER_MEM``, else
    :func:`default_driver_memory` of this host.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    driver_mem = os.environ.get("SPARK_DRIVER_MEM")
    if driver_mem is None:
        with open("/proc/meminfo") as f:
            driver_mem = default_driver_memory(f.read())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dimension tables at test scale are single-digit MB; the default
        # 10 MB threshold leaves some star-join dims on the shuffle path
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # runtime bloom-filter pushdown: a selective build side of a
        # shuffle join prunes the probe side's SCAN — at 100 TB this is
        # the difference between scanning a week and scanning a year of a
        # fact table when the filtered dimension implies the subset
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM hosts all executor threads — size it
        # for the host, not like a cluster driver (8g for 32 threads
        # thrashes GC under shuffle-heavy self-joins)
        .config("spark.driver.memory", driver_mem)
        # ContextCleaner runs off GC; a big mostly-idle heap can defer GC
        # for many minutes, piling up dead shuffle/broadcast state that
        # slows later queries in long sessions. Default is 30min.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Python workers (mapInPandas, pandas UDFs) import this package
        # by name; they inherit neither the driver's sys.path nor its
        # working directory, so hand them the package's parent directory
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session time zone to UTC (runtime-settable).

    Timestamp field extraction (hour/date_trunc) is session-TZ dependent in
    Spark but UTC-naive in DuckDB; every query that touches timestamps calls
    this so oracle comparisons are TZ-stable regardless of who built the
    session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
