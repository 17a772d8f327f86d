"""SparkSession factory.

One place to pin the configs that matter at 100 TB:

- AQE on (runtime coalesce + skew-join splitting — the north rule names
  skew handling explicitly; web-domain keys are Zipfian).
- Arrow on (every Python touchpoint is a vectorized pandas UDF; the
  reference's per-row ``df.apply`` lambdas are banned here).
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a
  real cluster AQE coalesces from a deliberately-high initial number.
- A fixed-size young gen for the driver JVM, so its resident memory
  does not swing with G1's eden sizing from one run to the next.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "dqmtools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox.
    Pass ``master=""`` to leave the master unset so ``spark-submit
    --master yarn/k8s`` decides (the cluster path).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # overwrite replaces only the partitions present in the write —
        # the Iceberg overwritePartitions() semantic on plain parquet
        # (sources/tables.py relies on this for --force re-runs)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # fixed young gen at 1/8 of the heap: G1 would otherwise grow
        # eden towards 60% of it, and the driver's resident memory would
        # depend on how far into an eden cycle a job happened to end
        .config("spark.driver.defaultJavaOptions", "-XX:NewRatio=7")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
