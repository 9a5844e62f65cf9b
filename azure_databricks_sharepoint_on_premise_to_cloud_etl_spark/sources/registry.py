"""Table registry over the driver-provided parquet testdata.

Replaces the reference's metastore table scans (S3:
``spark.read.format("delta").table("ukg.ukg_dept_bus_strctr")``,
code/ukg_open_census.py:55) with a thin parquet-directory registry.
Tables load lazily; filters/projections push down to the parquet scan
(Catalyst handles PushedFilters / ReadSchema — verified in tests).

Each path's schema is inferred once.  Inference reads parquet footers
in a Spark job (~90 ms per call on a 4-vCPU host, the largest fixed
cost of a ``load_table`` call), so the inferred ``StructType`` is
memoised per path, stamped with ``os.stat(path)``'s
``(st_mtime_ns, st_size)`` and with the calling session's values of the
confs that change what inference returns (``_INFERENCE_CONFS``; the
timezone :func:`pin_read_confs` sets is equal in every session).  A
path rewritten in place (a new file, or files added to or removed from
a directory), or read from a session with other inference confs, gets
a new stamp and is inferred again; one entry is kept per path, so the
memo is bounded by the number of paths read.  Only inference is
skipped: Spark still lists the path's files on every call, so a file
appended to a directory dataset is read by the next call.  The memo
holds schemas, not DataFrames.  The stamp cannot tell apart two rewrites
that leave the size equal within one filesystem timestamp tick, nor a
file inside a directory edited in place; parquet writers do neither.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def pin_read_confs(spark: SparkSession) -> None:
    """Pin ``spark.sql.session.timeZone=UTC``, which every read of these
    tables relies on: a non-UTC session shifts every collected timestamp
    relative to the (timezone-naive) DuckDB oracle.

    It is set at runtime so the engine works under ANY caller-provided
    SparkSession, not just sessions from session.py.  This is the
    package's only runtime conf write.  Timestamps are read as stored:
    every fixture stores TIMESTAMP(MICROS), and a TIMESTAMP(NANOS)
    column fails with Spark's own ``PARQUET_TYPE_ILLEGAL`` error.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Session confs that change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> ((st_mtime_ns, st_size, *conf values), inferred schema).  Two
# threads may both miss and infer one path; they store equal schemas,
# so no lock.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for ``path``, inferred once per stamp."""
    st = os.stat(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    stamp = (st.st_mtime_ns, st.st_size, *confs)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (stamp, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (S3 analog). Lazy; no action triggered.

    Pins the session timezone (:func:`pin_read_confs`) and reads with
    the path's memoised schema (module docstring), so a repeated call
    runs no footer-inference job but still lists the files.
    """
    pin_read_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(_parquet_schema(spark, path)).parquet(path)


def rebalance(df: DataFrame) -> DataFrame:
    """Spread a narrow compute-heavy stage across all cores: repartition
    to ``defaultParallelism`` when the scan has fewer input files.

    At production scale input splits provide parallelism for free; the
    small test fixtures arrive as ONE parquet file -> one partition, so
    per-row-expensive operators (hashing, shingling, vector math) would
    run single-threaded.  Repartition only when under-parallelized.
    The check uses inputFiles() (a metadata lookup, ~free) rather than
    df.rdd.getNumPartitions(), which forces RDD conversion and costs
    ~1s of plan translation per call.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        width = len(df.inputFiles())
    except Exception:
        width = target  # non-file-scan plans: assume wide enough
    if width < target:
        return df.repartition(target)
    return df

