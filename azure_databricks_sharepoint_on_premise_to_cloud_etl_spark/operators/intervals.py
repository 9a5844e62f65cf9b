"""Interval / time semantics (SURVEY.md sections 2.3 P7-P8, 2.4 J7,
2.9 T5-T6).

The reference's flagship join classifies census timestamps against
schedule-zone intervals (equi key on location + range predicate on the
timestamp, code/ukg_open_census_old.py:694-696) and labels rows
ACTUAL when inside the interval, PLAN otherwise
(code/ukg_open_census.py:729-730).  The 7-day rolling-window plan
projection is a Python double loop in the reference
(code/ukg_open_census.py:153-156) — here a fully in-plane
``explode(sequence(...))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rolling_window_expand(
    df: DataFrame,
    window_days: int,
    date_cols: list[str],
    offset_col: str = "day_offset",
) -> DataFrame:
    """Replicate each row for day offsets 0..window_days, shifting every
    column in ``date_cols`` by the offset (T5).

    ``rows_out == rows_in * (window_days + 1)`` exactly (the reference's
    ``range(rolling_window + 1)``, code/ukg_open_census.py:153-156).
    Runs narrow (no shuffle): explode is a flatMap over each partition.
    """
    out = df.withColumn(
        offset_col, F.explode(F.sequence(F.lit(0), F.lit(window_days)))
    )
    for c in date_cols:
        out = out.withColumn(
            c, F.col(c) + F.col(offset_col) * F.expr("INTERVAL 1 DAY")
        )
    return out


def interval_containment_join(
    events: DataFrame,
    intervals: DataFrame,
    on: list[str],
    ts_col: str,
    start_col: str,
    end_col: str,
    how: str = "inner",
) -> DataFrame:
    """Event-in-window join (J7): equi-join on ``on`` plus range
    predicate ``start <= ts <= end``.

    Catalyst plans the equi part as a hash join and evaluates the range
    as a post-join filter — the interval side (zones) is dimension-sized
    in the reference, so it broadcasts; only the fact side streams.
    """
    cond = [events[c] == intervals[c] for c in on]
    cond.append(events[ts_col].between(intervals[start_col], intervals[end_col]))
    dupes = [c for c in on]
    joined = events.join(F.broadcast(intervals), cond, how)
    for c in dupes:
        joined = joined.drop(intervals[c])
    return joined


def interval_containment_join_bucketed(
    events: DataFrame,
    intervals: DataFrame,
    on: list[str],
    ts_col: str,
    start_col: str,
    end_col: str,
    how: str = "inner",
) -> DataFrame:
    """Event-in-window join with a TIME-BUCKETED equi key — the
    scale form of :func:`interval_containment_join`.

    The plain form's equi key is only ``on``; when that key is
    low-cardinality (the reference's location, here event_type), every
    event meets EVERY same-key interval before the range predicate
    filters — per-key candidate fan-out grows with the number of
    intervals per key (measured alpha ~0.6 at x10 on the rehearsal:
    linear data, superconstant join work).  Bucketing the time axis
    restores a selective equi key:

    1. each interval explodes into the day buckets it
       covers (``sequence(trunc(start), trunc(end), step)`` — bounded
       by interval length / bucket size, 1 for the reference's intra-
       day zones);
    2. events join on ``on + [trunc(ts) = bucket]`` — a hash join
       whose per-key candidates are only the intervals COVERING the
       event's bucket, independent of how many intervals the key has
       elsewhere in time;
    3. the exact range predicate rides the join condition as before.

    Each qualifying (event, interval) pair emerges exactly once — the
    event's bucket is a single value and appears once in the
    interval's bucket sequence — so results are identical to the
    plain form, including under ``how='left'``.  The exploded
    interval side is broadcast: zone tables are dimension-sized.

    Inverted intervals (``end < start`` — common dirty data) are
    dropped before the explode: ``sequence()`` with a positive step
    throws on a descending range, which would fail the whole job on
    one bad row, whereas the plain form simply never matches such a
    row.  Filtering first preserves the plain form's degrade-to-no-
    match semantics (under ``how='left'`` an event can only pair with
    a valid interval either way).
    """
    ib = F.broadcast(
        intervals.where(F.col(end_col) >= F.col(start_col)).withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.date_trunc("day", F.col(start_col)),
                    F.date_trunc("day", F.col(end_col)),
                    F.expr("INTERVAL 1 DAY"),
                )
            ),
        )
    )
    cond = [events[c] == ib[c] for c in on]
    cond.append(F.date_trunc("day", events[ts_col]) == ib["__bucket"])
    cond.append(events[ts_col].between(ib[start_col], ib[end_col]))
    joined = events.join(ib, cond, how)
    for c in on:
        joined = joined.drop(ib[c])
    return joined.drop("__bucket")


def actual_plan_label(
    ts: Column, start: Column, end: Column, label_col_values: tuple[str, str] = ("ACTUAL", "PLAN")
) -> Column:
    """T6 classification: in-interval rows are ACTUAL, future rows PLAN
    (code/ukg_open_census.py:729-730)."""
    actual, plan = label_col_values
    return F.when((ts >= start) & (ts <= end), F.lit(actual)).otherwise(F.lit(plan))


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Tumbling-interval aggregate via ``F.window`` (the streaming-ready
    formulation of T6; identical semantics under readStream +
    withWatermark). Emits ``window_start``/``window_end`` columns."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("__w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "INTERVAL 30 MINUTE",
    session_col: str = "session_id",
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the time since the previous event exceeds ``gap``.

    Classic lag + conditional cumulative-sum; one shuffle on the key.
    (Streaming analog: ``F.session_window`` — see streaming/.)
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc())
    prev = F.lag(ts_col).over(w)
    new_session = F.when(
        prev.isNull() | (F.col(ts_col) > prev + F.expr(gap)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn("__new", new_session).withColumn(
        session_col, F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__new")


def streaks(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    grain: str = "day",
) -> DataFrame:
    """Gaps-and-islands: collapse each key's activity to distinct
    ``grain`` buckets and group CONSECUTIVE buckets into streaks.
    Returns one row per key: ``active_<grain>s`` (distinct active
    buckets), ``n_streaks`` (maximal consecutive runs), and
    ``longest_streak`` (length of the longest run in buckets).
    Engagement streaks, uptime runs, consecutive-trading-day spans.

    The classic island key is ``bucket_index - row_number()`` —
    constant exactly while buckets are consecutive.  Cost: one
    distinct on (key, bucket) — the big cardinality drop happens
    first, raw events never reach the window — then a key-partitioned
    window (no global sort) and two key-local aggregates.  All
    shuffles share the key hash; at 100 TB the distinct is the only
    pass over the corpus.

    ``grain`` is any unit accepted by ``date_trunc``; the island
    arithmetic converts the truncated bucket to an epoch-based index
    with integral steps (days via datediff, otherwise unix seconds
    divided by the grain width).
    """
    from pyspark.sql import Window

    if grain == "day":
        bucket = F.datediff(
            F.date_trunc("day", F.col(ts_col)).cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long")
    elif grain == "hour":
        bucket = (F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))) / 3600).cast("long")
    elif grain == "week":
        bucket = (
            F.datediff(
                F.date_trunc("week", F.col(ts_col)).cast("date"),
                F.lit("1970-01-05").cast("date"),
            )
            / 7
        ).cast("long")
    else:
        raise ValueError(f"unsupported grain: {grain!r}")

    active = df.select(*key_cols, bucket.alias("__b")).distinct()
    w = Window.partitionBy(*key_cols).orderBy(F.col("__b").asc())
    islands = active.withColumn(
        "__island", F.col("__b") - F.row_number().over(w)
    )
    runs = islands.groupBy(*key_cols, "__island").agg(
        F.count(F.lit(1)).alias("__run_len")
    )
    return runs.groupBy(*key_cols).agg(
        F.sum("__run_len").alias(f"active_{grain}s"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("__run_len").alias("longest_streak"),
    )


def merge_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    key_cols: list[str],
) -> DataFrame:
    """Coalesce overlapping-or-touching intervals per key into maximal
    disjoint spans: ``(key..., start, end)`` where consecutive input
    intervals with ``start <= max(end so far)`` fuse.  Downtime
    windows, on-call coverage, promo-period overlap — the interval
    twin of gaps-and-islands.

    One key-partitioned window (ordered ``start, end``) computes the
    running max end over STRICTLY PRECEDING rows; a new span begins
    where the current start exceeds it, and the conditional cumulative
    sum of those breaks is the span id — the sessionize recipe lifted
    from points to intervals.  Cost: one shuffle on the key, key-local
    sorts only; intervals that arrive pre-bucketed by key never move
    again through the span aggregate (same key hash).
    """
    from pyspark.sql import Window

    s, e = F.col(start_col), F.col(end_col)
    w = Window.partitionBy(*key_cols).orderBy(s.asc(), e.asc())
    prev_max_end = F.max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_max_end.isNull() | (s > prev_max_end), F.lit(1)).otherwise(
        F.lit(0)
    )
    spans = df.withColumn("__brk", brk).withColumn(
        "__span", F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        spans.groupBy(*key_cols, "__span")
        .agg(F.min(s).alias(start_col), F.max(e).alias(end_col))
        .drop("__span")
    )
