"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config block is what we'd ship
to a 1000-executor cluster via spark-submit --py-files (AQE on, skew-join
mitigation on, Arrow batching for all pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def configured_builder(app: str = "rasters-rs-spark", cores: int | None = None,
                       shuffle_partitions: int | None = None
                       ) -> SparkSession.Builder:
    """The engine's session config on an unstarted builder, for callers
    that add settings of their own before ``getOrCreate()``."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # workers skip re-reading unchanged zips per task (see pyworker)
        .config("spark.python.daemon.module", "rasters_rs_spark.pyworker")
    )


def get_spark(app: str = "rasters-rs-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    return configured_builder(app, cores, shuffle_partitions).getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict:
    """Register the driver testdata parquet tables as temp views and
    return them as a dict of DataFrames."""
    if names is None:
        names = [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
