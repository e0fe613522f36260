"""Spark session factory.

One place to pin every config the engine depends on:

- AQE on (runtime coalesce + skew-join splitting).  It splits skewed joins
  only: ``operators.rollup`` has no salting, so the gap-fill window runs a
  hot conversation in one task (``operators.skew`` bounds grouped kernels).
- Arrow execution on — every heavy kernel is a pandas/Arrow UDF
  (grouped-map ``applyInPandas`` / ``mapInPandas``); zero per-row Python.
- shuffle partitions sized to cores for local mode; on a real cluster this
  is overridden by ``--conf`` at submit time (AQE coalesces the rest).
- ``RUNTIME_CONF``, the runtime SQL confs every session gets from
  ``pin_runtime``: UTC session timezone (deterministic bucket boundaries
  and a stable comparison surface against the DuckDB oracle), the
  Parquet write format (zstd level 6, INT64 microsecond timestamps) and
  the partition-listing threshold.  ``get_spark`` calls ``pin_runtime``,
  and so do the spark-submit jobs (``jobs/``) right after their
  ``getOrCreate``, so every write path writes the same files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# runtime SQL confs (``spark.conf.set`` works after getOrCreate).  INT64
# µs is what Iceberg stores (Parquet deprecates INT96); zstd level 9
# wrote 1.4% fewer tier bytes than 6 but raised peak RSS.  The listing
# threshold (Spark's default is 32) lists up to 64 partition directories
# on the driver instead of in a Spark job: it covers the backfill job's
# default of 64 buckets, the only count measured (local disk)
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
    "parquet.compression.codec.zstd.level": "6",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "64",
}


def pin_runtime(spark: SparkSession) -> None:
    """Set ``RUNTIME_CONF`` on a session, overriding any ``--conf``."""
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "ts_process_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
    benchmark (``perfbench/run.py``) and the tests pass ``cores``.

    Shuffle and spill go to tmpfs (``/dev/shm/spark_local``) only when
    the caller names no local dir, neither ``spark.local.dir`` in
    ``extra_conf`` nor ``SPARK_LOCAL_DIRS`` in the environment.
    """
    extra_conf = extra_conf or {}
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # local mode: all "executors" share the driver JVM; keep result
        # collection bounded anyway.
        .config("spark.driver.maxResultSize", "4g")
    )
    # shuffle/spill to tmpfs when available: local mode has one disk and
    # shuffle-file I/O was the measured scaling bottleneck on this box
    # (on a real cluster each executor has its own local dirs)
    if "spark.local.dir" not in extra_conf and "SPARK_LOCAL_DIRS" not in os.environ:
        shm = "/dev/shm/spark_local"
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    pin_runtime(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
