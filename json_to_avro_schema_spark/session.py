"""SparkSession factory with scale-tuned defaults.

Local-mode testing (`local[N]`) per the sandbox; the same configs are what
the engine would ship in ``spark-submit --conf`` on a real multi-executor
cluster: AQE on (runtime coalesce + skew-join splitting), shuffle partitions
sized to parallelism, Arrow enabled for the pandas-UDF paths, UTC session TZ
so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "json_to_avro_schema_spark",
    cpus: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` (e.g.
    ``local-cluster[4,2,4096]`` for true multi-executor JVMs in the
    sandbox); ``cpus`` still sizes shuffle partitions."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder
    # Under spark-submit the JVM gateway already exists and --master/--conf
    # from the submit command must win; setting .master() here would silently
    # force local mode on a real cluster. PYSPARK_GATEWAY_PORT is only set
    # when the python driver was launched by spark-submit's PythonRunner.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if not under_submit:
        builder = builder.master(master or f"local[{cpus}]")
    builder = (
        builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
