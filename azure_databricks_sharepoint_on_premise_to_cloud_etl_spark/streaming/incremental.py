"""Streaming equivalents of the reference's micro-batch watermarks
(SURVEY.md 2.9 T1-T3).

The reference hand-rolls incrementality: scalar-subquery high
watermarks (T1), a processed-file ledger diffed in Python (T2), and
latest-batch selection (T3).  Structured Streaming gives each a native
form: ``withWatermark`` + checkpointed state, file-source exactly-once
tracking, and ``Trigger.AvailableNow`` batch draining.  Both
formulations ship; batch pipelines keep working unchanged.

Scale notes: streaming aggregation state is partitioned by group key
across executors; watermark delay bounds state size.  The file source
tracks seen-files in the checkpoint — the ledger anti-join disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_from_files(
    spark: SparkSession,
    directory: str,
    schema: StructType | str,
    fmt: str = "parquet",
) -> DataFrame:
    """T2 as a stream: the file source's checkpoint IS the
    processed-file ledger (exactly-once per file, no anti-join)."""
    reader = spark.readStream.schema(schema).format(fmt)
    return reader.load(directory)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    window: str = "1 hour",
    late_threshold: str = "2 hours",
) -> DataFrame:
    """T1+T6 as a stream: tumbling-window counts with a real watermark
    — late rows beyond the threshold are dropped by the engine instead
    of a hand-rolled max-timestamp filter."""
    return (
        events.withWatermark(ts_col, late_threshold)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            group_col,
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    late_threshold: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via the native session_window — the
    streaming analog of operators.intervals.sessionize."""
    return (
        events.withWatermark(ts_col, late_threshold)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def drain_available_now(
    stream_df: DataFrame, checkpoint_dir: str, out_path: str
) -> None:
    """T3 as a trigger: process everything currently available as one
    bounded run, then stop (the streaming form of the reference's
    'latest batch only' selection)."""
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_path)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def run_to_memory_sink(
    stream_df: DataFrame, name: str, checkpoint_dir: str, output_mode: str = "complete"
) -> list:
    """Drain the stream with Trigger.AvailableNow into an in-memory
    table and return its per-micro-batch progress records
    (``StreamingQuery.recentProgress``).  The state gate reads
    ``stateOperators[].numRowsTotal`` / ``numRowsRemoved`` from these
    to assert EMPIRICALLY that watermarked state plateaus across
    batches instead of growing with the stream — the property the
    plan-audit argues statically and production relies on."""
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.awaitTermination()
    return list(q.recentProgress)


def drain_foreach_batch_to_parquet(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_path: str,
    output_mode: str = "update",
) -> None:
    """AvailableNow drain through foreachBatch into parquet — unlike
    the memory sink, foreachBatch supports checkpoint RECOVERY, so
    stateful queries can resume the same checkpoint across drains
    (how a production incremental job runs)."""

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_path)

    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .outputMode(output_mode)
        .start()
    )
    q.awaitTermination()


def start_foreach_batch_to_parquet(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_path: str,
    output_mode: str = "update",
):
    """Continuous (default-trigger) variant of
    :func:`drain_foreach_batch_to_parquet` — REQUIRED for stateful
    streams that arm processing-time timeouts: once timers are
    registered, ``Trigger.AvailableNow`` never terminates (it keeps
    scheduling empty micro-batches for the timeout machinery,
    verified empirically on Spark 4), so bounded drains are the wrong
    shape.  Returns the running query; the caller owns its lifecycle
    (``q.stop()``)."""

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_path)

    return (
        stream_df.writeStream.trigger(processingTime="200 milliseconds")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .outputMode(output_mode)
        .start()
    )


def drain_scd2_upsert(
    updates_stream: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key_col: str,
    attr_cols: list[str],
    eff_col: str = "effective_ts",
) -> None:
    """CDC-stream → SCD2 dimension: every micro-batch of updates is
    merged into the parquet dimension at ``dim_path`` via
    ``operators.scd.scd2_merge`` inside ``foreachBatch`` — the
    production change-data-capture consumer: exactly-once per batch
    through the checkpoint, versions accumulate across batches, and a
    resumed drain on the same checkpoint never re-merges processed
    input.

    The dimension is read and fully rewritten per batch (the plain-
    parquet form; a lake format upgrades the rewrite to a MERGE on
    changed keys only).  The rewrite stages through a temp dir +
    atomic rename so a mid-write failure cannot destroy the
    dimension; the checkpoint then replays the batch.
    """
    import os
    import shutil

    from ..operators.scd import scd2_merge

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_path)
        merged = scd2_merge(dim, batch_df, key_col, attr_cols, eff_col)
        staged = dim_path.rstrip("/") + ".staging"
        merged.write.mode("overwrite").parquet(staged)
        old = dim_path.rstrip("/") + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(dim_path, old)
        os.rename(staged, dim_path)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        updates_stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_batch)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()
