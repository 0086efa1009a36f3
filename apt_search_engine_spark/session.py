"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "apt-search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned like the cluster profile: AQE on (runtime
    coalescing + skew-join handling), Arrow on for all pandas UDF traffic.
    `master`/parallelism come from env so bench can run the same job at two
    parallelism levels (scaling-efficiency evidence, BASELINE.md).

    A session already active in this thread comes back unchanged: the
    builder's getOrCreate would re-apply the confs below to it."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("APTSE_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("APTSE_SHUFFLE_PARTITIONS", cpus if cpus.isdigit() else "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # deterministic epoch math everywhere: parquet TIMESTAMP_NTZ columns
        # convert to TIMESTAMP via the session zone, so pin it — otherwise
        # unix_micros()-based operators would shift by the box's local offset
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("APTSE_DRIVER_MEM", "8g"))
        # Finer file splits than the 128MB JVM-scan default: the hot stages
        # are Arrow->pandas compute, so a split should be minutes of Python
        # work, not 128MB of parquet. The open-cost floor stops many small
        # files from being packed into a handful of giant splits (which
        # caps stage parallelism below the core count).
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        .config("spark.sql.files.openCostInBytes", "8388608")
        # shuffle/spill on tmpfs: local mode shares ONE virtual disk across
        # all task threads, which serializes shuffle I/O and masks real CPU
        # scaling; a cluster has per-node disks. Falls back to default /tmp
        # if /dev/shm is absent.
        .config(
            "spark.local.dir",
            "/dev/shm/aptse-spark" if os.path.isdir("/dev/shm") else "/tmp",
        )
        .config("spark.ui.enabled", "false")
        # FileOutputCommitter v1 renames every output file SEQUENTIALLY on
        # the driver at job commit — with partitionBy(term_bucket) writes
        # producing hundreds of files, that is a serial tail that poisons
        # scaling. v2 moves renames into the (parallel) tasks; real
        # clusters use v2 or object-store committers for the same reason.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
