"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the same
logical plans survive a 1000-executor cluster at 100 TB: AQE on (runtime shuffle
re-plan + skew-join handling), Arrow for every pandas-UDF boundary, and explicit
shuffle-partition sizing instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "host_memory_bytes"]


def host_memory_bytes() -> int:
    """Physical RAM of this host (16 GiB where POSIX sysconf is missing)."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):  # non-POSIX fallback
        return 16 << 30


def get_spark(
    app_name: str = "filtered-ads-vector-search-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_CPUS``, else ``cpus``,
    else 32. On a local master the driver heap defaults to half the host's
    RAM, at most 24g; ``$SPARK_DRIVER_MEMORY`` overrides it.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    # cluster deployments point this factory at yarn/k8s via the env var;
    # local-bench-only tunings below are gated on the master actually
    # being local so they never leak onto a real cluster
    master = os.environ.get("SPARK_GRAFT_MASTER", master)
    is_local = master.startswith("local")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", cpus or 32))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # UTC so timestamp<->epoch conversions match the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # bucketed tables (sources.bucketed) land outside the repo
        .config("spark.sql.warehouse.dir", "/tmp/favs-warehouse")
        # Arrow for pandas UDF / mapInPandas / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep broadcast autodetection on; dims/queries are small sides.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if is_local:
        # LOCAL-ONLY input-split sizing: bucket-partitioned layouts write one
        # compact file per bucket (the right artifact at 100 TB, where each
        # bucket is GBs and row groups split further), but at local bench
        # scale a whole 300 MB layout coalesces into ~3 default-128MB splits
        # and a scan loses its parallelism. 16 MB keeps local[32] saturated
        # on MB-scale buckets. Gated on the master being local[*]: a cluster
        # deployment (SPARK_GRAFT_MASTER=yarn/k8s) keeps Spark's 128 MB
        # default — 16 MB there would blow up task counts on TB inputs.
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        # local mode: driver JVM == the one executor; size the heap well above
        # the working set so benchmark timings measure the plan, not G1 GC,
        # but inside the host's RAM.
        heap_mb = min(24 << 10, host_memory_bytes() // 2 >> 20)
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", f"{heap_mb}m")
        )
    elif os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES"):
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"],
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
