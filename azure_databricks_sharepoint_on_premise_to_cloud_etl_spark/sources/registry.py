"""Table registry over the driver-provided parquet testdata.

Replaces the reference's metastore table scans (S3:
``spark.read.format("delta").table("ukg.ukg_dept_bus_strctr")``,
code/ukg_open_census.py:55) with a thin parquet-directory registry.
Tables load lazily; filters/projections push down to the parquet scan
(Catalyst handles PushedFilters / ReadSchema — verified in tests).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
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


def pin_read_confs(spark: SparkSession) -> None:
    """Pin the two session confs every read of these tables relies on.

    They are set at runtime so the engine works under ANY
    caller-provided SparkSession, not just sessions from session.py.  This is the package's only runtime conf
    write:

    - ``spark.sql.legacy.parquet.nanosAsLong``: the events table stores
      parquet TIMESTAMP(NANOS), which vanilla Spark rejects; as a long
      of nanos it is decoded by :func:`decode_event_ts`;
    - ``spark.sql.session.timeZone=UTC``: a non-UTC session shifts
      every collected timestamp relative to the (timezone-naive)
      DuckDB oracle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (S3 analog). Lazy; no action triggered.

    Pins the read confs (:func:`pin_read_confs`); the events table's
    nanos column is converted to a microsecond TimestampType (floor
    division — matches DuckDB's ns->us truncation).
    """
    pin_read_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = decode_event_ts(df)
    return df


def decode_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType regardless
    of the fixture's physical parquet type.  Under
    ``nanosAsLong=true`` a TIMESTAMP(NANOS) column surfaces as a long
    of nanos (converted here via floor division, matching DuckDB's
    ns->us truncation); a TIMESTAMP(MICROS) column arrives as a real
    timestamp and passes through untouched.  Both the batch registry
    and the streaming queries MUST route through this one conditional
    — a hard-coded decode silently shifts epochs when the fixture's
    dtype changes (the round-4 streaming_tumbling bug)."""
    if dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def rebalance(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow compute-heavy stage across all cores.

    At production scale input splits provide parallelism for free; the
    small test fixtures arrive as ONE parquet file -> one partition, so
    per-row-expensive operators (hashing, shingling, vector math) would
    run single-threaded.  Repartition only when under-parallelized.
    The check uses inputFiles() (a metadata lookup, ~free) rather than
    df.rdd.getNumPartitions(), which forces RDD conversion and costs
    ~1s of plan translation per call.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        width = len(df.inputFiles())
    except Exception:
        width = target  # non-file-scan plans: assume wide enough
    if width < target:
        return df.repartition(target)
    return df


def register_temp_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES
) -> None:
    """Register tables as temp views so ``spark.sql`` queries can
    reference them by bare name (mirrors the reference's metastore
    usage, e.g. code/ukg_open_census.py:334-349).  Pass the subset a
    query actually touches — registration reads parquet footers."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
