"""SparkSession builders with scale-aware defaults.

All jobs — tests, bench, and the spark-submit entry point — go through
:func:`get_spark` so the AQE / shuffle / Arrow configuration is uniform.
On a real cluster the same code runs unchanged; only ``master`` and the
shuffle-partition count change (via spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import config


def get_spark(
    app_name: str = "refined_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults chosen for the 100TB design point, harmless locally:

    - AQE on (runtime coalescing + skew-join splitting — the reference has no
      skew handling at all, SURVEY.md §4).
    - Arrow enabled for pandas UDFs (every per-row computation in this engine
      is Arrow-batched; per-row Python UDFs are banned by the input contract).
    - Broadcast threshold left at default; dimension tables (pem_topk,
      entity) are broadcast explicitly with hints where they are known-small.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or config.DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
