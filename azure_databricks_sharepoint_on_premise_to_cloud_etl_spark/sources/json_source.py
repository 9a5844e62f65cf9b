"""Nested-JSON document sources and master/child normalization
(SURVEY.md 2.1 S4, 2.8 F14/F15; build-plan step 4).

The reference walks API JSON in Python loops on the driver —
``response["data"]["children"]`` element by element
(code/ukg_wrkload_dtl.py:142-177), triple-nested loops for staffing
matrices (code/ukg_stf_matrx.py:121-155).  Here the documents become
ONE DataFrame with an explicit schema and the walk is explode +
getField — fully distributed, no Python in the loop, linear not
driver-bound.  This is the 'highly normalized schema' ingest of
README.md:2 done in-plane.

The fetched documents are already on the driver, so their frame is a
JVM-local relation built from an Arrow table: scans of it start no
Python worker.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# --- explicit document schemas (FIXTURES.md 2.6 / 2.7 shapes) ---------------

WORKLOAD_SCHEMA = """
    data STRUCT<children: ARRAY<STRUCT<
        key: MAP<STRING, STRING>,
        coreEntityKey: STRUCT<
            ORG: STRUCT<id: STRING, qualifier: STRING>,
            DAY: STRUCT<id: STRING>,
            SCH_ZONE: STRUCT<id: STRING, qualifier: STRING>>,
        attributes: ARRAY<STRUCT<key: STRING, value: STRING>>>>>
"""

STAFFING_SCHEMA = """
    ARRAY<STRUCT<
        id: BIGINT, name: STRING, description: STRING,
        staffingMatrixRanges: ARRAY<STRUCT<
            lowRange: DOUBLE, highRange: DOUBLE,
            staffingMatrixItems: ARRAY<STRUCT<
                item: STRUCT<id: BIGINT, qualifier: STRING>,
                scheduleZone: STRUCT<id: BIGINT, qualifier: STRING>,
                `column`: STRUCT<id: BIGINT, qualifier: STRING>,
                columnNumber: BIGINT,
                staffingCount: DOUBLE>>>>>>
"""

ZONES_SCHEMA = """
    ARRAY<STRUCT<
        effectiveDate: STRING, expirationDate: STRING,
        location: STRUCT<qualifier: STRING>,
        scheduleZoneSet: STRUCT<scheduleZones: ARRAY<STRUCT<
            name: STRING, description: STRING,
            startTime: STRING, endTime: STRING>>>>>
"""


def json_documents_df(
    spark: SparkSession, documents: list[str], schema: StructType | str
) -> DataFrame:
    """S4 with a declared schema: one row per JSON document string.

    The reference infers a schema with
    ``spark.read.json(sc.parallelize([response.text]))``
    (code/ukg_open_census_old.py:96); from_json with an explicit
    schema is deterministic and skips the inference scan.  The strings
    go to the JVM once as an Arrow table and the frame is a
    ``LocalRelation``, so no Python worker runs on any scan (a list of
    tuples would plan a Python-backed RDD, one worker task per
    partition per scan).
    """
    df = spark.createDataFrame(
        pa.table({"raw": pa.array(documents, pa.string())}), "raw STRING"
    )
    return df.select(F.from_json(F.col("raw"), schema).alias("doc"))


def normalize_workload(doc_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Workload master/child split (code/ukg_wrkload_dtl.py:142-177),
    in-plane.  Master: one row per (org, day, schedule zone); child:
    one row per attribute bundle keyed by org qualifier."""
    children = doc_df.select(
        F.explode(F.col("doc.data.children")).alias("c")
    )
    master = children.select(
        F.col("c.key")["SCHEDULE_COVERAGE_SCHEDULED_COUNT"].alias("schdl_covge_schdld_cnt"),
        F.col("c.key")["SCHEDULE_WORKLOAD_PLANNED_COUNT"].alias("schdl_wrkload_plnd_cnt"),
        F.col("c.coreEntityKey.ORG.qualifier").alias("org_qlfr"),
        F.col("c.coreEntityKey.ORG.id").cast("long").alias("org_id"),
        F.to_date(F.col("c.coreEntityKey.DAY.id")).alias("day_id"),
        F.col("c.coreEntityKey.SCH_ZONE.id").cast("int").alias("schdl_zn_id"),
        F.col("c.coreEntityKey.SCH_ZONE.qualifier").alias("schdl_zn_qlfr"),
    )
    # child: pivot the attribute array to columns; _DT keys parse
    # M/dd/yyyy (code/ukg_wrkload_dtl.py:173-174)
    attrs = F.map_from_entries(F.col("c.attributes"))
    child = children.select(
        F.col("c.coreEntityKey.ORG.qualifier").alias("org_qlfr"),
        attrs["SCH_WORKLOAD_PLANNED_COUNT_JOB"].alias("plnd_cnt_job"),
        F.to_date(attrs["SCH_WORKLOAD_PLANNED_COUNT_DATE"], "M/dd/yyyy").alias("plnd_cnt_dt"),
        attrs["SCH_WORKLOAD_PLANNED_COUNT_SPAN"].alias("plnd_cnt_span"),
        attrs["SCH_COVERAGE_SCHEDULED_COUNT_JOB"].alias("schdld_cnt_job"),
        F.to_date(attrs["SCH_COVERAGE_SCHEDULED_COUNT_DATE"], "M/dd/yyyy").alias("schdld_cnt_dt"),
        attrs["SCH_COVERAGE_SCHEDULED_COUNT_SPAN"].alias("schdld_cnt_span"),
    )
    return master, child


def normalize_staffing(doc_df: DataFrame, matrices_col: str = "doc") -> tuple[DataFrame, DataFrame]:
    """Staffing-matrix master/child split (code/ukg_stf_matrx.py:121-155).

    Master: one row per matrix; child: one row per (range x item) with
    the optional staffingCount defaulted to 0 (:137-141).  The Python
    triple loop becomes two explodes — still linear, now distributed.
    """
    m = doc_df.select(F.explode(F.col(matrices_col)).alias("m"))
    master = m.select(
        F.col("m.id").alias("stf_matrx_id"),
        F.col("m.name").alias("stf_matrx_nm"),
        F.col("m.description").alias("stf_matrx_descr"),
    )
    ranges = m.select(
        F.col("m.id").alias("stf_matrx_id"),
        F.explode(F.col("m.staffingMatrixRanges")).alias("r"),
    )
    items = ranges.select(
        "stf_matrx_id",
        F.col("r.lowRange").cast("decimal(5,1)").alias("low_range"),
        F.col("r.highRange").cast("decimal(5,1)").alias("hi_range"),
        F.explode(F.col("r.staffingMatrixItems")).alias("i"),
    )
    child = items.select(
        "stf_matrx_id",
        "low_range",
        "hi_range",
        F.col("i.item.id").alias("stf_matrx_item_id"),
        F.col("i.item.qualifier").alias("stf_matrx_item_qlfr"),
        F.col("i.scheduleZone.id").alias("stf_matrx_schdl_zn_id"),
        F.col("i.scheduleZone.qualifier").alias("stf_matrx_schdl_zn_qlfr"),
        F.col("i.column.id").alias("stf_matrx_col_id"),
        F.col("i.column.qualifier").alias("stf_matrx_col_qlfr"),
        F.col("i.columnNumber").alias("col_nbr"),
        F.coalesce(F.col("i.staffingCount"), F.lit(0.0))
        .cast("decimal(5,1)")
        .alias("stf_cnt"),
    )
    return master, child


def normalize_zones(doc_df: DataFrame, zones_col: str = "doc") -> DataFrame:
    """Schedule-zone flattening (code/ukg_open_census_old.py:98-107):
    one row per location x zone, with raw time-of-day strings — the
    interval operators (operators/intervals.py) anchor them to dates."""
    loc = doc_df.select(F.explode(F.col(zones_col)).alias("z"))
    return loc.select(
        F.to_date(F.col("z.effectiveDate")).alias("effective_date"),
        F.to_date(F.col("z.expirationDate")).alias("expiration_date"),
        F.col("z.location.qualifier").alias("location"),
        F.explode(F.col("z.scheduleZoneSet.scheduleZones")).alias("zone"),
    ).select(
        "effective_date",
        "expiration_date",
        "location",
        F.col("zone.name").alias("zone_name"),
        F.col("zone.startTime").alias("start_time"),
        F.col("zone.endTime").alias("end_time"),
    )
