"""Parquet table loaders for the driver-provided oracle tables
(TESTDATA.md: region nation customer supplier part orders lineitem events
documents embeddings at /root/testdata/sf*/).

Iceberg note: on a real cluster these loads become
``spark.read.format('iceberg').load(table)`` — jars aren't in this image, so
the engine reads parquet behind the same call shape (see module
``sources.iceberg``); partition-predicate pushdown applies to both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Ensure expensive per-row projections downstream use every core.

    Small inputs (few parquet files / row groups) arrive in 1-2 partitions,
    serializing interpreted higher-order-function evaluation onto 1-2 tasks
    while the rest of the cluster idles; repartition up to the default
    parallelism. No-op — no added shuffle — for big inputs, whose file-scan
    partition count already exceeds the core count (the 100-TB case), so
    the guard makes this safe to apply unconditionally on hot paths.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans can't report files
        n_files = 0
    if n_files >= cores:
        return df
    return df.repartition(cores)

