"""SparkSession factory.

One place to pin the configs that matter at 100 TB scale:

- AQE on (runtime coalesce / skew-join handling).
- Arrow execution on for every pandas UDF boundary (the reference's hot path
  is per-row asyncio, /root/reference/src/bespokelabs/curator/request_processor/
  base_online_request_processor.py:346-398; ours is Arrow-batched columnar).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  leave it to AQE's coalescing with a high initial value.
- ``spark.sql.files.maxPartitionBytes`` kept at 128m: the ``html`` binary
  column makes rows wide, so file-split granularity governs scan parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """Driver heap default: min(16g, 40% of physical memory) in whole GiB,
    so a small host (e.g. 15.7 GiB -> 6g) leaves room for the python
    workers instead of having the JVM OOM-killed. Hosts that do not report
    their memory through ``os.sysconf`` get 16g."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "16g"
    return f"{max(1, min(16, int(phys * 0.4) >> 30))}g"


def get_spark(
    app_name: str = "curator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is supplied by spark-submit and must be left None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("CURATOR_SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound the Arrow batch so wide html/binary rows don't blow the
        # executor python worker. Measured on local[32]: 10k-row batches of
        # ~1KB pages pin enough off-heap Arrow memory across 32 workers to
        # cause multi-x run-to-run jitter. 1024 measured best end-to-end
        # (pinned sweep 256/512/1024/2048): small enough that the JVM task
        # thread and its python worker pipeline batches instead of taking
        # turns (a 2500-row task holds 2-3 batches at 1024, vs 1-2 stalls
        # at 2048), big enough to amortize per-batch pandas overhead.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("CURATOR_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's DataFrame-debugging call-site capture wraps every Column
        # method and function in py4j round trips (origin lookup, a conf
        # read, set, clear): F.col 13 vs 3, F.when 22 vs 4 with it off, so
        # a quality_filter plan build makes ~1,700 trips instead of ~580.
        # Cost: errors lose the Python file:line "DataFrame" query context
        # (error class and message stay). extra_conf can turn it back on;
        # it must be set here, since PySpark caches it per process on the
        # first wrapped call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
