"""SparkSession factory with scale-oriented defaults.

Tuned for the local[N] sandbox but with settings that carry to a
multi-executor cluster: AQE on (coalesce + skew-join), modest
shuffle-partition default (AQE re-plans at runtime), Arrow batch
sizing for the extraction UDF (a batch of parsed DOMs must fit the
executor's Python worker).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "content-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _default_shuffle_partitions(master)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # Documents carry multi-KB HTML strings: the default 4096-row
        # columnar reader batch makes each task hold ~60 MB of column
        # vectors, and at 32 concurrent tasks the allocation/GC churn
        # collapses scan throughput 30x (measured: 33.6s -> 0.9s on a
        # 0.5 GB corpus at local[32]). 512 rows keeps batches ~8 MB.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # single-JVM local mode does all executors' work in the driver
        # heap; 8g GC-thrashes at local[32] with multi-KB string columns
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame) -> DataFrame:
    """Compute `df` now and cut its lineage: the one lineage cut of the
    package. With a checkpoint dir on the SparkContext (Spark's
    ``spark.checkpoint.dir``, or ``sc.setCheckpointDir``) the rows go to
    that reliable storage and survive a lost executor; without one they
    stay in executor block storage (``localCheckpoint``), which is not
    fault-tolerant but needs no shared filesystem."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _default_shuffle_partitions(master: str) -> int:
    import re

    m = re.match(r"local\[(\d+|\*)\]", master or "")
    if m and m.group(1) != "*":
        return max(int(m.group(1)) * 2, 8)
    return 32
