"""SparkSession factory.

One place to build sessions so every entrypoint (tests, bench,
__spark_entry__, spark-submit jobs) gets the same scale-oriented
defaults: AQE on (runtime re-plan + skew-join splitting), Arrow on
(vectorized pandas-UDF exchange), shuffle partitions sized to the
actual parallelism instead of the 200 default.

On a real cluster, pass ``master=None`` and let spark-submit supply the
master; ``enable_iceberg=True`` adds the Iceberg catalog configs (the
runtime jar must be on the classpath — it is not available in this
sandbox, so the local lake layer in ``cdc/table.py`` is used instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP = "fec-cn-support-etl-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(meminfo: str) -> str:
    """Driver heap when neither ``driver_memory`` nor
    SPARK_GRAFT_DRIVER_MEM is given: half of ``MemTotal`` from
    /proc/meminfo text, in whole GiB, at least 1g. The heap is pinned
    (-Xms=-Xmx) and pre-touched, so it must fit in physical RAM."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            kib = int(line.split()[1])
            return f"{max(1, kib // 2 // (1024 * 1024))}g"
    return "1g"


def _meminfo() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return ""


def get_spark(
    app_name: str = DEFAULT_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    enable_iceberg: bool = False,
    iceberg_warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> default_parallelism
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cores

    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(_meminfo())
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", mem)
        # Pin the initial heap to the max and pre-fault it (round 7):
        # with the default tiny -Xms, the first allocation-heavy queries
        # of a session run against a still-growing heap — measured
        # 28/8.5/9.8/18.5 s for identical back-to-back runs of the
        # minhash band join at sf1.0, collapsing to a stable
        # 11.4/7.2/7.8/7.5 s once -Xms=-Xmx + AlwaysPreTouch remove
        # heap-resize + first-touch page faults from the measurement.
        # Applies to any driver JVM size (tests run 8g and pre-fault in
        # ~1 s); on a cluster the same flags go on the executor JVMs.
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch")
        # local mode: shuffle goes through driver disk; keep codegen on.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # v2 committer: task outputs move to the destination at task
        # commit, skipping the serial driver-side job-commit rename pass
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if enable_iceberg:
        warehouse = iceberg_warehouse or "/tmp/iceberg-warehouse"
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.lake.type", "hadoop")
            .config("spark.sql.catalog.lake.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
