"""The open-census pipeline, end to end (SURVEY.md 3.1, entry point A)
— the reference's flagship notebook (code/ukg_open_census.py:812-827)
as a parameterized, testable composition.

Reference flow: widget param -> byte cleanse -> bronze CSV ingest ->
census-count SQL -> per-date partition loop -> zone fetch + rolling
window -> hierarchical join + ACTUAL/PLAN -> batched POST -> on-2xx
audit append -> alerts.

Differences by design (all SURVEY build-plan items):
- the per-date driver loop becomes one partitioned DataFrame pass;
- zone expansion is explode(sequence(...)) not a Python double loop;
- the three-level zone match is one exploded-key broadcast join, not
  three joins and a union;
- the labeled plan runs once per POST: the audit append writes the
  rows that were posted (``sinks.rest_sink.post_then_audit``);
- the processed-file set-difference is a left_anti join;
- clock/run_id/user/transport/mailer are injected for determinism.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import overnight_corrected_end
from ..operators.hierarchy import fallback_join_exploded
from ..operators.intervals import actual_plan_label, rolling_window_expand
from ..operators.snapshots import (
    high_watermark_filter,
    latest_batch_only,
    latest_snapshot,
    unprocessed_only,
)
from ..sinks.rest_sink import PostResult, Transport, post_then_audit
from ..sources.csv_source import read_csv_dir_with_filename
from ..sinks.writers import append_versioned

CENSUS_SCHEMA = (
    "pat_enc_csn_id STRING, pat_mrn_id STRING, encntr_dept_id STRING, "
    "arrival_dttm STRING, admsn_dttm STRING, dschrg_dttm STRING, "
    "bed_reqst_to_bed_asgnd STRING"
)


def cast_census(raw: DataFrame, now: _dt.datetime | None = None) -> DataFrame:
    """The bronze typed-cast block, shared by the batch ingest and its
    streaming twin (queries/composed.py q_streaming_bronze_ingest) so
    the two landings stay cast-for-cast identical.

    try_cast / try_to_timestamp: malformed source values become NULL
    instead of failing the job under ANSI mode — bronze ingest must
    survive dirty rows (the reference ran pre-ANSI Spark where plain
    cast already behaved this way)."""
    return (
        raw.withColumn("pat_enc_csn_id", F.col("pat_enc_csn_id").try_cast("decimal(18,0)"))
        .withColumn("arrival_dttm", F.try_to_timestamp("arrival_dttm"))
        .withColumn("admsn_dttm", F.try_to_timestamp("admsn_dttm"))
        .withColumn("dschrg_dttm", F.try_to_timestamp("dschrg_dttm"))
        .withColumn(
            "bed_reqst_to_bed_asgnd",
            F.col("bed_reqst_to_bed_asgnd").try_cast("decimal(10,0)"),
        )
        .withColumn("run_tsp", F.lit((now or _dt.datetime.now(_dt.timezone.utc)).replace(tzinfo=None)).cast("timestamp"))
    )


def ingest_census(
    spark: SparkSession,
    csv_dir: str,
    bronze_path: str,
    run_id: int,
    now: _dt.datetime | None = None,
    ledger: DataFrame | None = None,
) -> DataFrame:
    """Bronze ingest (code/ukg_open_census.py:247-273): explicit-schema
    CSV scan + filename capture, typed casts, audit columns, versioned
    append.  ``ledger`` (already-ingested file names) applies the
    exactly-once anti-join (T2) in-plane."""
    raw = read_csv_dir_with_filename(spark, csv_dir, CENSUS_SCHEMA)
    if ledger is not None:
        raw = unprocessed_only(raw, ledger, "file_nm")
    typed = cast_census(raw, now)
    append_versioned(typed, bronze_path, run_id=run_id, now=now)
    return typed


def census_counts(
    spark: SparkSession,
    census: DataFrame,
    mapping: DataFrame,
    posted: DataFrame | None,
) -> DataFrame:
    """The census-count aggregate (code/ukg_open_census.py:331-352):
    latest-snapshot mapping filter, cast-key join, high-watermark gate
    against already-posted data, latest-file selection, group count."""
    dep = (
        latest_snapshot(mapping, "run_id")
        .filter(F.upper(F.col("frcst_yn")) == "YES")
        .select("epic_dept_id", "dept_bus_strctr")
        .distinct()
    )
    # try_cast on the join key: bronze deliberately keeps
    # encntr_dept_id a raw string; a malformed id must fall out of the
    # join as NULL, not crash the run under ANSI mode
    joined = census.join(
        F.broadcast(dep),
        census["encntr_dept_id"].try_cast("int")
        == dep["epic_dept_id"].try_cast("int"),
        "inner",
    )
    if posted is not None:
        joined = high_watermark_filter(joined, "run_tsp", posted, "census_dttm")
    from ..functions import filename_embedded_ts

    latest = latest_batch_only(joined, filename_embedded_ts("file_nm"))
    return latest.groupBy("dept_bus_strctr", "run_tsp").agg(
        F.count("pat_enc_csn_id").alias("census_cnt")
    )


def plan_zones(
    zones: DataFrame,
    rolling_window: int = 7,
) -> DataFrame:
    """Zone prep (code/ukg_open_census.py:138-160): anchor time-of-day
    strings to the effective date, fix overnight zones (+1 day), and
    project the plan horizon with explode(sequence(0..w))."""
    anchored = zones.withColumn(
        "start_tm",
        F.to_timestamp(
            F.concat_ws(" ", F.col("effective_date").cast("string"), F.col("start_time"))
        ),
    ).withColumn(
        "end_tm",
        F.to_timestamp(
            F.concat_ws(" ", F.col("effective_date").cast("string"), F.col("end_time"))
        ),
    )
    corrected = anchored.withColumn(
        "end_tm", overnight_corrected_end(F.col("start_tm"), F.col("end_tm"))
    )
    return rolling_window_expand(corrected, rolling_window, ["start_tm", "end_tm"])


def label_census_against_zones(
    counts: DataFrame, planned_zones: DataFrame
) -> DataFrame:
    """Hierarchical zone match + ACTUAL/PLAN labeling
    (code/ukg_open_census.py:710-730): each count meets the zones
    defined at its exact location or its 4- or 5-segment prefix, then
    each census timestamp is classified against the zone interval."""
    matched = fallback_join_exploded(
        counts,
        planned_zones.select(
            F.col("location").alias("zone_loc"),
            "zone_name",
            "day_offset",
            "start_tm",
            "end_tm",
        ),
        "dept_bus_strctr",
        "zone_loc",
        levels=(4, 5),
    )
    return matched.withColumn(
        "actual",
        actual_plan_label(F.col("run_tsp"), F.col("start_tm"), F.col("end_tm")),
    )


@dataclass
class CensusRun:
    labeled: DataFrame
    post_result: PostResult | None


def run_census_pipeline(
    spark: SparkSession,
    census: DataFrame,
    mapping: DataFrame,
    zones: DataFrame,
    posted: DataFrame | None,
    post_url: str | None,
    transport: Transport | None,
    audit_path: str | None,
    run_id: int,
    now: _dt.datetime | None = None,
    rolling_window: int = 7,
) -> CensusRun:
    """Steps 4-7 of the traced lifecycle, composed.  POST + audit are
    optional edges (None skips them — pure-transform mode for tests)."""
    counts = census_counts(spark, census, mapping, posted)
    planned = plan_zones(zones, rolling_window)
    labeled = label_census_against_zones(counts, planned)
    result: PostResult | None = None
    if post_url and transport and audit_path:
        result = post_then_audit(
            labeled,
            post_url,
            transport,
            lambda df: append_versioned(df, audit_path, run_id=run_id, now=now),
        )
    return CensusRun(labeled=labeled, post_result=result)
