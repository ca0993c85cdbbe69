"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what a 1000-executor cluster submit would set via
``spark-submit --conf``: AQE on (skew-join splitting + partition coalescing),
Arrow enabled for the pandas-UDF stages, shuffle partitions sized to cores
rather than the 200 default. Starting a session loads nothing else of the
package and sets no executor environment: every setting is a Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "attp_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` accepts an int (→ ``local[n]``) or a full master string.
    Defaults come from ``SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) else f"local[{cores}]"
    n_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cores)  # type: ignore[arg-type]
        except (TypeError, ValueError):
            shuffle_partitions = n_cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("ATTP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "256m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
