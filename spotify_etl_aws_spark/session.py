"""SparkSession factory.

One place to encode the execution posture the whole engine assumes:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the single most important knob for the 100 TB
  target, where static plans misestimate.
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster this is overridden (AQE coalesces anyway).
- Partition discovery sized to the same core count
  (``spark.sql.sources.parallelPartitionDiscovery.parallelism``). A
  read of more than 32 paths (Spark's threshold) still lists them as a
  distributed job, so object-store tables list in parallel, but as
  ``cpus`` tasks instead of one task per directory: listing a
  128-directory table took a median 640 ms with Spark's default and
  102 ms with 4 tasks (``local[4]``, 4 vCPU Xeon).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every Python<->JVM data transfer (toPandas,
  pandas_udf, applyInPandas / mapInPandas).
- ANSI off: the reference's DuckDB staging layer relies on lenient
  VARCHAR->INT/BOOLEAN/DATE casts; with ANSI off Spark yields NULL on
  bad casts, which matches ``TRY_CAST`` oracle semantics
  (SURVEY.md §7 "cast semantics drift").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "spotify_etl_aws_spark"


def default_parallelism() -> int:
    """Core count used for local-mode masters and shuffle sizing."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    On a real cluster, pass ``master=None`` with an externally-configured
    session; locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
