"""SparkSession factory tuned for both local testing and cluster scale.

All configs are chosen for the 100 TB design point and degrade gracefully on
``local[*]``:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only a pre-AQE upper bound; on a real
  cluster it should be ~2-3x total cores (set via ``shuffle_partitions``).
- Arrow enabled for the Pandas-UDF paths (similarity / multimodal ops).
- Session timezone pinned to UTC: CDC timestamps are event-time in UTC and
  the DuckDB oracle compares naive-UTC values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_LOCAL_CORES = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "mongodb-cdc-delta-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master=None`` means: respect an already-running session / spark-submit
    master, falling back to ``local[$SPARK_GRAFT_CPUS]`` for tests.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and SparkSession.getActiveSession() is None:
        master = f"local[{DEFAULT_LOCAL_CORES}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        # local default: one per core; a cluster deployment overrides this.
        try:
            shuffle_partitions = int(DEFAULT_LOCAL_CORES)
        except ValueError:
            shuffle_partitions = 32

    conf = {
        "spark.sql.session.timeZone": "UTC",
        # --- scale: adaptive execution does the per-stage tuning ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # scan-side parallelism: 128 MB splits are the sweet spot for S3/HDFS
        "spark.sql.files.maxPartitionBytes": "134217728",
        # --- python interop: Arrow batches, never row-at-a-time pickling ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # broadcast small dimension tables (region/nation/... at any SF)
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # deterministic parquet behavior
        "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
        "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
        # testdata timestamps are naive-UTC; read as session-local TIMESTAMP
        # (UTC) rather than TIMESTAMP_NTZ so epoch fns and LTZ literals work
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # quieter local runs
        "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

