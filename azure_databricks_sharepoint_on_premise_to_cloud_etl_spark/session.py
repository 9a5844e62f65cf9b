"""SparkSession factory with scale-conscious defaults.

The reference inherits its session from Databricks (no explicit config
anywhere in /root/reference).  We pin the handful of settings that
matter for correctness (session timezone, Arrow) and for scale (AQE,
skew-join handling, shuffle partitions) so the same code runs on
local[32] tests and a 1000-executor cluster without edits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB these two are cluster-tuned; the env override keeps tests
# and production on one code path.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "azure-databricks-sharepoint-etl-spark") -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Settings rationale:
    - ``spark.sql.session.timeZone=UTC``: the reference does driver-side
      UTC<->CST conversion (code/ukg_open_census.py:697-700); we keep all
      engine-internal timestamps UTC and convert explicitly at the edges,
      which also pins DuckDB-oracle comparisons.
    - AQE on (+ skew join): runtime re-planning replaces the reference's
      hand-rolled batch sizing for the data plane.
    - Arrow on: every pandas interchange (mapInPandas/pandas UDF) is
      Arrow-batched.
    - Generated-code cache at 1000 entries (Spark's default is 100):
      one warm ETL increment needs about 120 compiled classes (driver
      and executor classloaders count separately) and one relational
      pass 101, so at 100 the LRU evicted classes the same pass needed
      again and a warm increment recompiled 44-54 of them.  At 1000 it
      compiles only the 14 whose bodies inline per-run literals.
      Classes average 2.6 KB of bytecode and 7 KB of source: ~10 MB.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The driver testdata's events table carries parquet
        # TIMESTAMP(NANOS) which vanilla Spark rejects; read as long
        # and convert in the registry (sources/registry.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Small local parquet files: don't let tiny splits fan out.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()
