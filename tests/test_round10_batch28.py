"""Round-10 widening batch 28: streaming Page-Hinkley drift monitor
(stateful twin of stats.page_hinkley)."""

from __future__ import annotations

import os

import pytest

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.streaming import incremental
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.streaming.stateful import (
    streaming_page_hinkley,
)

PH_DELTA = 0.5
PH_THRESHOLD = 20.0


def _day_series(spark, sf="/root/testdata/sf0.001"):
    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            F.col("event_type").alias("series_key"),
            F.to_date(F.col("ts")).cast("timestamp").alias("t"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )


def _sliced_series_dir(spark, tmp_path, k=4):
    """Write the day series as k CHRONOLOGICAL parquet slices with
    increasing mtimes so the file stream replays it in time order,
    one slice per micro-batch."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pdf = _day_series(spark).toPandas()
    import pyarrow as pa

    t = pa.Table.from_pandas(pdf, preserve_index=False)
    # write MICROS: pandas hands back timestamp[ns], and Spark rejects
    # a TIMESTAMP(NANOS) column
    t = t.set_column(
        t.schema.get_field_index("t"), "t",
        t["t"].cast(pa.timestamp("us")),
    )
    t = t.take(pc.sort_indices(t, sort_keys=[("t", "ascending")]))
    d = str(tmp_path / "sliced_series")
    os.makedirs(d)
    n = t.num_rows
    for i in range(k):
        lo, hi = i * n // k, (i + 1) * n // k
        p = os.path.join(d, f"slice_{i}.parquet")
        pq.write_table(t.slice(lo, hi - lo), p)
        os.utime(p, (1_700_000_000 + i * 1000,) * 2)
    return d, t.schema


def _batch_expected(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import page_hinkley

    series = _day_series(spark)
    return {
        (r["series_key"], r["t"]): (r["ph_stat"], r["drift"])
        for r in page_hinkley(
            series, "series_key", "t", "x",
            delta=PH_DELTA, threshold=PH_THRESHOLD,
        ).collect()
    }


def test_streaming_ph_single_batch_equals_batch(spark, tmp_path):
    d, schema = _sliced_series_dir(spark, tmp_path, k=1)
    stream = spark.readStream.schema(
        "series_key STRING, t TIMESTAMP, x DOUBLE"
    ).parquet(d)
    out = streaming_page_hinkley(stream, delta=PH_DELTA, threshold=PH_THRESHOLD)
    ckpt = str(tmp_path / "ph1_ckpt")
    incremental.run_to_memory_sink(out, "ph_one", ckpt, output_mode="append")
    got = {
        (r["series_key"], r["t"]): (r["ph_stat"], r["drift"])
        for r in spark.table("ph_one").collect()
    }
    want = _batch_expected(spark)
    assert len(want) > 0
    assert got == want


def test_streaming_ph_state_survives_micro_batches(spark, tmp_path):
    """The recursion must carry (n, sum, m, min m) across batch
    boundaries: drain as >= 4 time-ordered micro-batches and require
    row-for-row equality with the batch operator."""
    d, schema = _sliced_series_dir(spark, tmp_path, k=4)
    stream = (
        spark.readStream.schema("series_key STRING, t TIMESTAMP, x DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = streaming_page_hinkley(stream, delta=PH_DELTA, threshold=PH_THRESHOLD)
    ckpt = str(tmp_path / "ph4_ckpt")
    progs = incremental.run_to_memory_sink(
        out, "ph_four", ckpt, output_mode="append"
    )
    assert sum(1 for p in progs if p["numInputRows"] > 0) >= 4
    got = {
        (r["series_key"], r["t"]): (r["ph_stat"], r["drift"])
        for r in spark.table("ph_four").collect()
    }
    want = _batch_expected(spark)
    assert got == want


def test_streaming_ph_alarm_fires_in_crossing_batch(spark, tmp_path):
    """A planted step-change must flag drift in the emitted rows."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pd.date_range("2024-01-01", periods=30, freq="D")
    x = [10.0] * 20 + [60.0] * 10
    pdf = pd.DataFrame({"series_key": "m", "t": ts, "x": x})
    d = str(tmp_path / "step_series")
    os.makedirs(d)
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    t = t.set_column(
        t.schema.get_field_index("t"), "t",
        t["t"].cast(pa.timestamp("us")),
    )
    pq.write_table(t, os.path.join(d, "s.parquet"))
    stream = spark.readStream.schema(
        "series_key STRING, t TIMESTAMP, x DOUBLE"
    ).parquet(d)
    out = streaming_page_hinkley(stream, delta=0.0, threshold=20.0)
    ckpt = str(tmp_path / "ph_step_ckpt")
    incremental.run_to_memory_sink(out, "ph_step", ckpt, output_mode="append")
    rows = sorted(spark.table("ph_step").collect(), key=lambda r: r["t"])
    assert not any(r["drift"] for r in rows[:20])
    assert any(r["drift"] for r in rows[20:])
