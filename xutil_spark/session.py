"""SparkSession factory with the engine's tuned defaults.

Local-mode testbed for a multi-executor design: shuffle partitions sized
to cores (not the 200 default), AQE on (runtime coalesce + skew-join
splitting), Arrow enabled for the pandas-UDF kernels, UTC session TZ so
DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    master: str | None = None,
    app_name: str = "xutil_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        # respect an externally-configured master (spark-submit
        # --master / spark.master) instead of forcing local mode —
        # the --py-files deployment path depends on this
        from pyspark import SparkConf

        if SparkConf().contains("spark.master"):
            master = SparkConf().get("spark.master")
        else:
            # one task thread per CPU this process may run on
            cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
            master = f"local[{cpus}]"
    n_threads = master.split("[")[-1].rstrip("]") if "[" in master else "4"
    try:
        n = int(n_threads.replace("*", "0")) or (os.cpu_count() or 4)
    except ValueError:
        n = os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1k rows/batch, NOT the 64k sometimes recommended: the engine's
        # pandas-UDF operators carry ~4 KB binary payloads (images), so
        # a 64k batch keeps ~260 MB in flight per worker and a 16k batch
        # ~64 MB — at 32 concurrent workers that materialization churn
        # caps throughput well below the hardware (measured on the 400k
        # bench pipeline, pinned local[32]: 32.9s at 16384 vs 8.5s at
        # 1024; pinned local[8]: 25.7s vs ~16s; the JVM-side record
        # batch is built and held whole before the Python worker sees
        # it, so smaller batches also overlap scan and compute).  Narrow
        # rows pay a per-batch constant (~100 µs) — negligible until
        # row counts per task reach 10^7, where operators that care
        # (kNN grid, jaccard verify) already chunk internally.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("XUTIL_SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
