"""Window-function operators (SURVEY.md section 2.6).

W1/W2: top-1-per-group via row_number (the reference's pattern,
code/ukg_open_census_old.py:140-142, :175-177).
W3: next-row lookup — the reference implements this as an 18-line
boundary-equality self-join (code/ukg_open_census_old.py:716-735);
``F.lead`` over a window is the idiomatic one-pass replacement: one
shuffle on the partition key instead of a self-join's two.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..scope import persist


def top1_per_group(
    df: DataFrame, partition_cols: list[str], order_col: str, latest: bool = True
) -> DataFrame:
    """One row per group: latest (W1) or earliest (W2) by ``order_col``.

    Ties broken deterministically by the remaining columns so results
    are oracle-stable.  Single shuffle on ``partition_cols``.
    """
    ordering = [
        F.col(order_col).desc() if latest else F.col(order_col).asc(),
        *[F.col(c) for c in df.columns if c != order_col and c not in partition_cols],
    ]
    w = Window.partitionBy(*partition_cols).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_next(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    value_cols: dict[str, str],
) -> DataFrame:
    """Attach next-row values per group (W3/J6).

    ``value_cols`` maps source column -> new column name, e.g.
    ``{"startTime": "next_zone_dttm"}``.  Replaces the reference's
    as-of self-join (code/ukg_open_census_old.py:716-735).  Pass a
    unique ``order_cols`` suffix (e.g. an id) for deterministic output
    under timestamp ties.
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    out = df
    for src, dst in value_cols.items():
        out = out.withColumn(dst, F.lead(src).over(w))
    return out


def rank_topk_per_group(
    df: DataFrame, partition_cols: list[str], order: list[Column], k: int
) -> DataFrame:
    """Top-k rows per group (generalized W1; also the inner loop of the
    similarity-search operators). Deterministic given a total order."""
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def trailing_range_agg(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    value_col: str,
    trailing_seconds: int = 3600,
) -> DataFrame:
    """Trailing time-RANGE window aggregate: for every event, the sum
    and count of ``value_col`` over the partition's events whose
    timestamp falls in ``[ts - trailing_seconds, ts]`` — a VALUE-based
    frame (``RANGE BETWEEN``), not a row-count frame, so irregular
    event spacing and timestamp ties are handled by time semantics
    (equal-timestamp peers are all in-frame on every engine).

    Adds ``trail_sum`` (6 dp) and ``trail_n``.

    Scale shape: one shuffle on the partition key, then a sorted
    streaming frame per partition — Spark evaluates the bounded RANGE
    frame with a sliding pointer, O(rows) per partition.  Hot
    partition keys are the skew risk, same mitigation as any window:
    pre-bucket by (key, coarse time) if one key dominates.
    """
    # INTERVAL range frame via SQL expression: the DataFrame
    # rangeBetween API takes only long offsets, and every long-based
    # encoding of a timestamp loses something (cast-to-long truncates
    # sub-second parts and widens the frame; unix_micros rejects
    # TIMESTAMP_NTZ and a cast through TIMESTAMP drags session-
    # timezone semantics in).  The interval frame is timezone-free,
    # microsecond-exact, and identical in Spark and ANSI/DuckDB.
    frame = (
        f"OVER (PARTITION BY {partition_col} ORDER BY {ts_col} "
        f"RANGE BETWEEN INTERVAL {trailing_seconds} SECOND PRECEDING "
        f"AND CURRENT ROW)"
    )
    return df.selectExpr(
        "*",
        f"round(sum({value_col}) {frame}, 6) AS trail_sum",
        f"count(1) {frame} AS trail_n",
    )


def global_cumsum(
    df: DataFrame,
    order: list[Column],
    values: dict[str, str],
) -> DataFrame:
    """Distributed exact running totals over a GLOBAL order — the
    scale path for cumulative analytics that would otherwise need an
    unpartitioned ``Window.orderBy`` (a single-task stage that caps
    throughput at one core no matter the cluster size).

    ``values`` maps source column -> output column; each output is the
    running ``sum(src)`` over rows at-or-before the current row under
    ``order`` (``ROWS UNBOUNDED PRECEDING``).  ``order`` must be a
    total order (include a tiebreaker) for deterministic output.

    Scale shape — the classic two-phase prefix sum:

    1. ``repartitionByRange`` on the order columns: partition *i*'s
       rows all precede partition *i+1*'s, and equal keys never
       straddle a boundary (the range partitioner bucket-assigns each
       key tuple to exactly one partition).
    2. Per-partition running totals via a window PARTITIONED on the
       partition id — every task sorts and scans only its own slice.
    3. Per-partition grand totals collapse to one row per partition;
       the offset for partition *i* is the (tiny, bounded-by-
       partitions) cumulative of totals before *i*, broadcast back and
       added.

    The range shuffle has as many partitions as the frame's session
    ``spark.sql.shuffle.partitions`` (32 in ``session.get_spark``),
    passed explicitly so AQE does not coalesce the slices.

    Two full shuffles (range + hash on the partition id) instead of
    the single-partition window's one — but every stage is parallel,
    so the plan survives a 1000-executor corpus where the one-task
    window cannot.  Cost: O(n log(n/p)) local sort work, O(p) driver
    state.

    The staged (range-partitioned, pid-stamped) frame feeds BOTH the
    per-slice window branch and the totals/offsets branch, so it is
    ``persist()``-ed before branching: range boundaries come from
    sampling and pid assignment from the physical partitioning, and
    two independent plan instantiations of the same lazy frame are not
    guaranteed to sample identical boundaries (nondeterministic
    upstream, source files changing between jobs) — which would make
    offsets disagree with local cumsums and silently corrupt ranks.
    With persist, Spark's cache manager resolves both branches to ONE
    shared ``InMemoryRelation`` (one physical range shuffle, one pid
    assignment); evicted partitions replay through the already-written
    shuffle files, never re-sampling boundaries.  MEMORY_AND_DISK with
    LRU eviction bounds the cost.  Spark's cache manager holds the
    relation until explicit unpersist or session end — NOT JVM GC —
    so callers that run many cumsums in one session should consume
    each result inside a ``with Scope():``, which unpersists it.
    """
    srcs = list(values)
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = df.repartitionByRange(n, *order)
    staged = persist(part.withColumn("__pid", F.spark_partition_id()))
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = staged.select(
        "*",
        *[
            F.sum(F.col(s)).over(w_local).alias(f"__loc_{s}")
            for s in srcs
        ],
    )
    totals = staged.groupBy("__pid").agg(
        *[F.sum(F.col(s)).alias(f"__tot_{s}") for s in srcs]
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__tot_{s}").over(w_off), F.lit(0)).alias(
                f"__off_{s}"
            )
            for s in srcs
        ],
    )
    out = ranked.join(F.broadcast(offsets), "__pid")
    for s in srcs:
        out = out.withColumn(
            values[s], F.col(f"__off_{s}") + F.col(f"__loc_{s}")
        )
    return out.drop(
        "__pid", *[f"__loc_{s}" for s in srcs], *[f"__off_{s}" for s in srcs]
    )


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed exact dense row numbering (1-based ``row_number``)
    over a GLOBAL total order, without the single-task unpartitioned
    window — :func:`global_cumsum` of a literal 1.  ``order`` must be
    a total order (include a tiebreaker) for deterministic ranks.
    """
    staged = df.withColumn("__one", F.lit(1).cast("long"))
    summed = global_cumsum(staged, order, {"__one": rank_col})
    return summed.drop("__one")


def global_ntile_pct(
    df: DataFrame,
    order: list[Column],
    k: int,
    tile_col: str = "tile",
    pct_col: str = "pct_rank",
) -> DataFrame:
    """Distributed exact ``ntile(k)`` + ``percent_rank()`` over a
    global total order — same results as the SQL window functions
    (first ``n mod k`` tiles one row larger; pct = (rank-1)/(n-1)),
    built from :func:`global_rank` plus one broadcast scalar, so no
    stage ever runs single-task.  ``order`` must be a total order.
    """
    ranked = global_rank(df, order, rank_col="__r")
    n_tbl = ranked.agg(F.count(F.lit(1)).alias("__n"))
    q = F.floor(F.col("__n") / k)
    r = F.col("__n") % k
    big = q + 1  # first r tiles have q+1 rows
    in_big = F.col("__r") <= r * big
    tile = F.when(
        in_big, F.floor((F.col("__r") - 1) / big) + 1
    ).otherwise(r + F.floor((F.col("__r") - r * big - 1) / q) + 1)
    pct = F.when(F.col("__n") > 1, (F.col("__r") - 1) / (F.col("__n") - 1)).otherwise(
        F.lit(0.0)
    )
    return (
        ranked.join(F.broadcast(n_tbl), how="cross")
        .withColumn(tile_col, tile.cast("int"))
        .withColumn(pct_col, pct)
        .drop("__r", "__n")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: list[str],
    right_id_col: str,
) -> DataFrame:
    """Generic backward as-of join: match every left row to the most
    recent right row with the same key at or before its timestamp
    (ties: the right row is visible to a same-timestamp left row).
    Appends ``asof_<col>`` for each requested right value column
    (NULL when no prior right row exists).

    Scale shape — the union+window pattern, NOT a range join: tag the
    two inputs, union them, and carry the latest right-row payload
    forward with one ``last(..., ignorenulls)`` window per key.  One
    shuffle + sort on the key, work linear in rows; a range-condition
    join would rescan right-side history per left row and a naive
    "latest per pair" aggregation would blow up on hot keys.

    Determinism: the window orders by (ts, side, right id) with the
    id coalesced on left rows — never by a nullable column, because
    ASC null ordering differs across engines (Spark NULLS FIRST,
    DuckDB NULLS LAST) and the oracle must sort identically.  Among
    right rows sharing (key, ts) the largest ``right_id_col`` wins.
    """
    payload = F.struct(
        F.col(ts_col).alias("ts"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    r = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(1).alias("__is_r"),
        F.col(right_id_col).cast("long").alias("__oid"),
        payload.alias("__payload"),
        *[F.lit(None).cast(t.dataType).alias(f"__l_{t.name}") for t in left.schema],
    )
    l = left.select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(0).alias("__is_r"),
        F.lit(-1).cast("long").alias("__oid"),
        F.lit(None).cast(
            r.schema["__payload"].dataType
        ).alias("__payload"),
        *[F.col(t.name).alias(f"__l_{t.name}") for t in left.schema],
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("__is_r").desc(), F.col("__oid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = r.unionByName(l).withColumn(
        "__m", F.last("__payload", ignorenulls=True).over(w)
    )
    out_cols = [
        F.col(f"__l_{t.name}").alias(t.name) for t in left.schema
    ] + [F.col("__m.ts").alias(f"asof_{ts_col}")] + [
        F.col(f"__m.{c}").alias(f"asof_{c}") for c in value_cols
    ]
    return matched.filter(F.col("__is_r") == 0).select(*out_cols)


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Regularize an irregular per-key time series: generate each
    key's time grid (anchored at its first observation, stepping
    ``step_seconds``, up to its last) and carry the latest observed
    value forward onto every grid point — gap filling for feature
    windows / monitoring rollups over event streams.

    Output: (key, grid ts, ``asof_<ts>`` observation time,
    ``asof_<value>``, ``asof_<id>``).

    Scale shape: the grid is a narrow ``explode(sequence(...))`` off a
    per-key min/max aggregate (grid size is data-bounded, never a
    global calendar), and the fill is ``asof_join``'s union+window
    pass — one shuffle on the key, no range join, no per-grid-point
    history rescans."""
    spans = df.groupBy(key_col).agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.expr(f"sequence(__lo, __hi, interval {step_seconds} second)")
        ).alias(ts_col),
    )
    obs = df.select(key_col, ts_col, value_col, id_col)
    return asof_join(grid, obs, key_col, ts_col, [value_col, id_col], id_col)


def ohlc_bucket(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Time-bucketed OHLC aggregation per key: open/close (first/last
    value by event time, ties broken on ``id_col``), high/low, count
    and sum per ``bucket_seconds`` window — the candle/rollup shape of
    a metrics or market hypertable.

    Scale shape: ONE shuffle on (key, bucket).  Open/close are
    ``min_by``/``max_by`` over an orderable (ts, id) struct inside the
    same hash aggregate as high/low/sum — never a rank window followed
    by a re-aggregate, so the whole thing stays a single
    partial-aggregable pass (windows can't map-side combine; min_by
    can).  The bucket is emitted as epoch seconds (BIGINT) — timezone-
    and format-neutral across engines; callers cast for display.
    """
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds)
        * bucket_seconds
    ).cast("long")
    order = F.struct(F.col(ts_col), F.col(id_col))
    return (
        df.select(
            F.col(key_col).alias("key"),
            bucket.alias("bucket_epoch"),
            F.col(value_col).alias("v"),
            order.alias("__o"),
        )
        .groupBy("key", "bucket_epoch")
        .agg(
            F.round(F.min_by("v", F.col("__o")), 4).alias("open"),
            F.round(F.max("v"), 4).alias("high"),
            F.round(F.min("v"), 4).alias("low"),
            F.round(F.max_by("v", F.col("__o")), 4).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("v"), 4).alias("sum_value"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Time-weighted average per (key, bucket) for irregularly-sampled
    values (TWAP): each observation holds its value until the next
    observation in the bucket; the bucket's last observation holds to
    the bucket end.  The plain ``avg`` over-weights bursts of rapid
    samples — TWAP is the honest aggregate for gauge-style series.

    Scale shape: ONE window pass per (key, bucket) (lead over (ts,
    id) — same shuffle the OHLC rollup uses) and one hash aggregate;
    weights are epoch-second arithmetic, no interval types.  Returns
    (key, bucket_epoch, n_obs, twap) with twap rounded to 6.
    """
    epoch = F.unix_timestamp(F.col(ts_col))
    bucket = (F.floor(epoch / bucket_seconds) * bucket_seconds).cast("long")
    w = Window.partitionBy("key", "bucket_epoch").orderBy(
        F.col("__e"), F.col(id_col)
    )
    staged = df.select(
        F.col(key_col).alias("key"),
        bucket.alias("bucket_epoch"),
        epoch.alias("__e"),
        F.col(id_col),
        F.col(value_col).cast("double").alias("__v"),
    ).withColumn(
        "__dt",
        F.coalesce(
            F.lead("__e").over(w),
            F.col("bucket_epoch") + F.lit(bucket_seconds),
        )
        - F.col("__e"),
    )
    return staged.groupBy("key", "bucket_epoch").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(
            F.sum(F.col("__v") * F.col("__dt")) / F.sum("__dt"), 6
        ).alias("twap"),
    )


def ewma_smooth(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key, the
    ``adjust=True`` (finite-window-corrected) form:

        ewma_t = Σ_{i≤t} (1-α)^(t-i) · x_i  /  Σ_{i≤t} (1-α)^(t-i)

    computed as ONE cumulative window sum per key — the weights
    factor as (1-α)^t · (1-α)^(-i), so the position-dependent part
    rides each row (``x_i · (1-α)^(-i)``) and the cumulative sum is
    rescaled once per row.  No self-join, no per-row rescan of the
    history; one shuffle on the key.

    Determinism contract: with the default ``alpha=0.5`` every weight
    is a power of two, so scaling is EXACT in IEEE arithmetic, and
    when ``value_col`` is integral every partial sum is an integer —
    the result is bit-identical across engines regardless of their
    summation order, which is what lets a SQL oracle hash-match it.
    For other alphas the closed form is float-associative (last-ulp
    engine variance) — fine for smoothing, not for hash comparison.

    Scale note: the rescaled terms grow as (1-α)^(-i), so the closed
    form is for BOUNDED series per key (≤ ~1000 points at α=0.5 stays
    finite; ≤ ~50 keeps integer exactness under 2^53).  Aggregate to
    coarse buckets first (the intended use: daily/hourly rollups per
    entity — bounded by the calendar); unbounded tick streams should
    segment or use the streaming form.

    Output: the input columns plus ``out_col``; rows ordered freely.
    """
    r = 1.0 - alpha
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    idx = F.row_number().over(
        Window.partitionBy(*key_cols).orderBy(order_col)
    ) - F.lit(1)
    staged = df.withColumn("__i", idx).withColumn(
        "__term", F.col(value_col) * F.pow(F.lit(r), -F.col("__i"))
    )
    num = F.sum("__term").over(w) * F.pow(F.lit(r), F.col("__i"))
    den = F.sum(F.pow(F.lit(r), -F.col("__i"))).over(w) * F.pow(
        F.lit(r), F.col("__i")
    )
    return staged.withColumn(out_col, num / den).drop("__i", "__term")


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D Pareto frontier (skyline), both dimensions MINIMIZED: the
    distinct ``(x, y)`` points not dominated by any other point
    (dominated = other.x <= x AND other.y <= y with at least one
    strict).  Cheapest-and-soonest offers, cost/latency frontiers,
    accuracy/size model selection (negate a column to maximize it).
    Null coordinates are dropped (a point with an unknown dimension
    can neither dominate nor be ranked).

    The sort-scan identity does the work: over DISTINCT points in
    ``(x ASC, y ASC)`` order, a point is on the frontier iff its y is
    STRICTLY below the minimum y of every earlier point — equal-x ties
    resolve correctly because the smaller y sorts first, and duplicate
    elimination makes "no strict improvement" impossible among equals.
    That turns skyline into a global prefix-min, which distributes by
    the ``global_cumsum`` recipe: range-partition on the sort key,
    per-slice window prefix-min (each task scans only its slice),
    per-partition mins collapse to one row per partition whose running
    min broadcasts back as each slice's offset (as many slices as
    ``global_cumsum`` takes).  No single-task
    window, no quadratic dominance join; the staged frame is persisted
    so both branches share one range shuffle (see global_cumsum's
    determinism note).
    """
    pts = (
        df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .distinct()
    )
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    staged = persist(
        pts.repartitionByRange(n, F.col("__x").asc(), F.col("__y").asc())
        .withColumn("__pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(F.col("__x").asc(), F.col("__y").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = staged.withColumn("__locmin", F.min("__y").over(w_local))
    pmins = staged.groupBy("__pid").agg(F.min("__y").alias("__pmin"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = pmins.select(
        "__pid", F.min("__pmin").over(w_off).alias("__premin")
    )
    prev_min = F.least(F.col("__locmin"), F.col("__premin"))
    return (
        local.join(F.broadcast(offs), "__pid")
        .filter(prev_min.isNull() | (F.col("__y") < prev_min))
        .select(F.col("__x").alias(x_col), F.col("__y").alias(y_col))
    )


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str],
    season_days: int = 7,
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict each day with
    the value ``season_days`` earlier — the baseline every real
    forecasting model must beat): per group, MAE and sMAPE over the
    days where a season-old observation exists.  Returns
    ``(group..., n_days, mae, smape)``.

    The season shift is an EQUI-JOIN on ``date + season_days``, not a
    ``lag(season)`` row offset — a row-offset lag silently misaligns
    whenever a day is missing from the stream, the classic backtest
    bug.  Scale shape: the corpus collapses to (group, day) totals in
    one hash aggregate; the shifted self-join and the metric rollup
    run on that bounded calendar table.  sMAPE terms with a zero
    denominator (both sides zero) contribute 0; metrics round to 6
    decimals for cross-engine hash stability.
    """
    d = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = df.groupBy(
        *group_cols, d.alias("__d")
    ).agg(F.sum(F.col(value_col)).alias("__actual"))
    shifted = daily.select(
        *group_cols,
        F.date_add(F.col("__d"), season_days).alias("__d"),
        F.col("__actual").alias("__forecast"),
    )
    j = daily.join(shifted, [*group_cols, "__d"])
    err = F.abs(F.col("__actual") - F.col("__forecast"))
    denom = F.abs(F.col("__actual")) + F.abs(F.col("__forecast"))
    smape_term = F.when(denom > 0, F.lit(2.0) * err / denom).otherwise(F.lit(0.0))
    return j.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg(err), 6).alias("mae"),
        F.round(F.avg(smape_term), 6).alias("smape"),
    )


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    date_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Regularize a sparse per-key DAILY series with LINEAR
    interpolation — the gap-fill for rates and levels where
    forward-fill (``resample_ffill``) would flat-line a trend: every
    key gets its full day grid (first..last observation) and missing
    days take ``prev + (next − prev)·Δ/span`` between the bracketing
    observations.  Input is one row per (key, day) observation;
    callers pre-aggregate duplicates.

    Scale shape: the grid is ``explode(sequence(...))`` off a per-key
    min/max aggregate (data-bounded, never a global calendar), ONE
    left join back to the observations on (key, day), and two
    ignore-nulls window passes per direction over the key-partitioned
    grid — no range join, no per-gap rescans.  The interpolation
    weight is a ratio of day counts (exact small integers), so the
    division is well-conditioned and only evaluates where both
    brackets exist (grid construction guarantees span ≥ 1 there —
    ANSI-safe).  Returns ``(key, day, value, filled, is_observed)``
    with ``filled`` rounded; grid ends carry their observations only
    (nothing to interpolate toward).
    """
    k, d, v = F.col(key_col), F.col(date_col), F.col(value_col)
    spans = df.groupBy(key_col).agg(
        F.min(d).alias("__lo"), F.max(d).alias("__hi")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.expr("sequence(__lo, __hi, interval 1 day)")
        ).alias(date_col),
    )
    joined = grid.join(df.select(key_col, date_col, value_col),
                       [key_col, date_col], "left")
    w_prev = Window.partitionBy(k).orderBy(d.asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.partitionBy(k).orderBy(d.desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    obs_d = F.when(v.isNotNull(), d)
    staged = joined.select(
        key_col,
        date_col,
        value_col,
        F.last(v, ignorenulls=True).over(w_prev).alias("__pv"),
        F.last(obs_d, ignorenulls=True).over(w_prev).alias("__pd"),
        F.last(v, ignorenulls=True).over(w_next).alias("__nv"),
        F.last(obs_d, ignorenulls=True).over(w_next).alias("__nd"),
    )
    frac = F.datediff(d, F.col("__pd")) / F.datediff(
        F.col("__nd"), F.col("__pd")
    )
    filled = F.when(v.isNotNull(), v.cast("double")).otherwise(
        F.when(
            F.col("__pv").isNotNull() & F.col("__nv").isNotNull(),
            F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac,
        )
    )
    return staged.select(
        key_col,
        date_col,
        value_col,
        F.round(filled, round_to).alias("filled"),
        v.isNotNull().alias("is_observed"),
    )


def brown_double_smooth(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Brown's double exponential smoothing (trend-adjusted EWMA,
    public textbook method): smooth once (s1), smooth the smoothed
    series again (s2), then level ``a = 2·s1 − s2``, trend
    ``b = α/(1−α)·(s1 − s2)``, one-step forecast ``a + b`` — the
    classic lag-corrected forecast for a drifting daily series.

    Built as two passes of :func:`ewma_smooth` (the adjust=True
    closed form), so it inherits that operator's shape — one
    cumulative window per key per pass, no self-joins — AND its
    determinism contract: at ``alpha=0.5`` every weight is a power of
    two, so with an integral ``value_col`` s1 is exactly a dyadic
    rational, s2 is an exact second-stage sum of dyadics, and both
    engines produce bit-identical doubles for a bounded series (the
    ewma_smooth ≤~50-point integer-exactness bound applies per pass).

    Returns input columns plus ``s1``, ``s2``, ``sm_level``,
    ``sm_trend``, ``forecast_next``.
    """
    one = ewma_smooth(
        df, key_cols, order_col, value_col, alpha=alpha, out_col="s1"
    )
    two = ewma_smooth(
        one, key_cols, order_col, "s1", alpha=alpha, out_col="s2"
    )
    ratio = alpha / (1.0 - alpha)
    return two.select(
        "*",
        (2.0 * F.col("s1") - F.col("s2")).alias("sm_level"),
        (F.lit(ratio) * (F.col("s1") - F.col("s2"))).alias("sm_trend"),
    ).withColumn(
        "forecast_next", F.col("sm_level") + F.col("sm_trend")
    )


def max_drawdown(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Maximum drawdown of the cumulative series of ``value_col`` per
    group: build the running equity curve (cumulative sum in event
    order), track its running peak, and report the deepest absolute
    fall below that peak plus the relative form where the peak is
    positive.

    One window shuffle on ``group_cols`` serves all three running
    expressions (cumsum, running max, drawdown) — Catalyst collapses
    same-frame window functions into one Window node — then a hash
    aggregate reduces each group to a single row.  Relative drawdown
    is lazy-CASE-guarded on ``peak > 0`` (ANSI-safe: a non-positive
    peak yields NULL, never DIVIDE_BY_ZERO).
    """
    run = Window.partitionBy(*group_cols).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(value_col).over(run)
    curve = df.withColumn("__cum", cum).withColumn(
        "__peak", F.max(F.col("__cum")).over(run)
    )
    dd = F.col("__peak") - F.col("__cum")
    rel = F.when(F.col("__peak") > 0, dd / F.col("__peak"))
    return (
        curve.withColumn("__dd", dd)
        .withColumn("__rel", rel)
        .groupBy(*group_cols)
        .agg(
            F.round(F.max("__dd"), 6).alias("max_drawdown"),
            F.round(F.max("__rel"), 6).alias("max_rel_drawdown"),
            F.round(F.max("__peak"), 6).alias("peak_equity"),
            F.round(F.sum(value_col), 6).alias("final_equity"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def volume_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    price_col: str,
    qty_col: str,
    notional_col: str | None = None,
) -> DataFrame:
    """Volume-weighted average price per key — the execution-quality
    twin of :func:`time_weighted_avg`: TWAP weights by elapsed time,
    VWAP by traded size, and the gap between VWAP and the simple
    per-row mean price is the standard size-bias diagnostic (big lots
    trading at different prices than small ones).

    ``notional_col``, when the table already carries price×qty (e.g.
    an extended-price column), is used directly so the numerator stays
    exact 2-dp arithmetic; otherwise the product is formed here.

    Scale shape: ONE map-side-combined hash aggregate to |keys| rows —
    no window, no second scan.  All three sums run on exact micro-cent
    integers (DECIMAL(38,0)); the two divisions happen once, on the
    key-sized result.

    Returns (*key_cols, n, total_qty, vwap, avg_price, size_bias).
    """
    cents = lambda c: F.round(c * 100).cast("decimal(38,0)")  # noqa: E731
    notional = (
        cents(F.col(notional_col))
        if notional_col
        else F.round(
            F.col(price_col) * F.col(qty_col) * 100
        ).cast("decimal(38,0)")
    )
    base = df.filter(
        F.col(price_col).isNotNull() & F.col(qty_col).isNotNull()
    ).select(
        *key_cols,
        F.round(F.col(qty_col)).cast("decimal(38,0)").alias("__q"),
        notional.alias("__nc"),
        cents(F.col(price_col)).alias("__pc"),
    )
    agg = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__q").alias("__sq"),
        F.sum("__nc").alias("__sn"),
        F.sum("__pc").alias("__sp"),
    )
    vwap = F.when(
        F.col("__sq") > 0,
        F.col("__sn").cast("double") / 100.0 / F.col("__sq").cast("double"),
    )
    avg_price = F.col("__sp").cast("double") / 100.0 / F.col("n")
    return agg.select(
        *key_cols,
        "n",
        F.col("__sq").cast("long").alias("total_qty"),
        F.round(vwap, 6).alias("vwap"),
        F.round(avg_price, 6).alias("avg_price"),
        F.round(vwap - avg_price, 6).alias("size_bias"),
    )


def bollinger_bands(
    df: DataFrame,
    order_col: str,
    value_col: str,
    window: int = 20,
    k: float = 2.0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Bollinger bands over an ordered series: rolling mean ± k rolling
    sample-stddevs over the trailing ``window`` rows, plus a breakout
    label (``high``/``low``/``in``) — the volatility-normalized
    anomaly channel for daily revenue/volume series.  Rows without a
    full window get NULL bands (no half-window estimates).

    Scale shape: values are carried as exact micro-unit integers
    (round(v*1e6) as DECIMAL(38,0)); the window sums s and s² are
    integer-exact, so mean/stddev/bands are identical doubles in any
    engine.  Per-group series sort inside their own partitions; the
    single-global-series form is for already-collapsed rollups (days,
    not raw rows), documented at call sites.
    """
    group_cols = group_cols or []
    v = F.col(value_col)
    micro = F.round(v * 1_000_000).cast("decimal(38,0)")
    base = df.filter(v.isNotNull()).select(
        *group_cols,
        F.col(order_col).alias("__o"),
        v.alias("__v"),
        micro.alias("__m"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__o")
        .rowsBetween(-(window - 1), 0)
    )
    agged = base.select(
        *group_cols,
        "__o",
        "__v",
        F.count(F.lit(1)).over(w).alias("__cnt"),
        F.sum("__m").over(w).alias("__s"),
        F.sum(F.col("__m") * F.col("__m")).over(w).alias("__s2"),
    )
    nw = float(window)
    full = F.col("__cnt") == window
    s = F.col("__s").cast("double")
    s2 = F.col("__s2").cast("double")
    mid_micro = s / nw
    var_micro = (s2 - s * s / nw) / (nw - 1.0)
    std = F.sqrt(F.greatest(var_micro, F.lit(0.0))) / 1_000_000.0
    mid = mid_micro / 1_000_000.0
    upper = mid + F.lit(float(k)) * std
    lower = mid - F.lit(float(k)) * std
    return agged.select(
        *group_cols,
        F.col("__o").alias(order_col),
        F.col("__v").alias(value_col),
        F.round(F.when(full, mid), 6).alias("mid"),
        F.round(F.when(full, upper), 6).alias("upper"),
        F.round(F.when(full, lower), 6).alias("lower"),
        F.when(~full, F.lit(None).cast("string"))
        .when(F.col("__v") > upper, F.lit("high"))
        .when(F.col("__v") < lower, F.lit("low"))
        .otherwise(F.lit("in"))
        .alias("signal"),
    )


def rsi_cutler(
    df: DataFrame,
    order_col: str,
    value_col: str,
    period: int = 14,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cutler's RSI (simple-moving-average relative strength index)
    over an ordered series: ``100 * sum(gains) / (sum(gains) +
    sum(losses))`` across the trailing ``period`` diffs — the bounded
    momentum oscillator; unlike Wilder's recursive smoothing this form
    is a pure window aggregate (no recurrence), so it parallelizes and
    has an exact SQL twin.  Rows without ``period`` trailing diffs get
    NULL; an all-flat window (no gains or losses) also yields NULL.

    Scale shape: diffs of exact micro-unit integers through one lag +
    one trailing-rows window per group; integer-exact sums until the
    single final division.
    """
    group_cols = group_cols or []
    v = F.col(value_col)
    micro = F.round(v * 1_000_000).cast("decimal(38,0)")
    base = df.filter(v.isNotNull()).select(
        *group_cols,
        F.col(order_col).alias("__o"),
        v.alias("__v"),
        micro.alias("__m"),
    )
    wlag = Window.partitionBy(*group_cols).orderBy("__o")
    zero = F.lit(0).cast("decimal(38,0)")
    diffed = base.withColumn(
        "__d", F.col("__m") - F.lag("__m").over(wlag)
    ).select(
        *group_cols,
        "__o",
        "__v",
        F.when(F.col("__d") > 0, F.col("__d")).otherwise(zero).alias(
            "__gain"
        ),
        F.when(F.col("__d") < 0, -F.col("__d")).otherwise(zero).alias(
            "__loss"
        ),
        F.col("__d").isNotNull().cast("int").alias("__has_d"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__o")
        .rowsBetween(-(period - 1), 0)
    )
    agged = diffed.select(
        *group_cols,
        "__o",
        "__v",
        F.sum("__has_d").over(w).alias("__nd"),
        F.sum("__gain").over(w).alias("__sg"),
        F.sum("__loss").over(w).alias("__sl"),
    )
    sg = F.col("__sg").cast("double")
    sl = F.col("__sl").cast("double")
    rsi = F.when(
        (F.col("__nd") == period) & (sg + sl > 0),
        100.0 * sg / (sg + sl),
    )
    return agged.select(
        *group_cols,
        F.col("__o").alias(order_col),
        F.col("__v").alias(value_col),
        F.round(rsi, 6).alias("rsi"),
    )


def rolling_slope(
    df: DataFrame,
    order_col: str,
    value_col: str,
    window: int = 14,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Rolling OLS slope over the trailing ``window`` rows of an
    ordered series (x = row position, equally spaced) — the local
    trend detector: sign flips mark inflections, magnitude is
    units-per-step, and unlike a first difference it is not whipsawed
    by single-row noise.  Rows without a full window get NULL.

    Scale shape: the value rides as an exact micro-unit integer and
    the row index as an integer, so ALL four window sums (Σy, Σxy,
    Σx, Σx²) are integer-exact decimals; the slope assembles per row
    in doubles — engine-identical.  Slope is invariant to the x
    origin, so the absolute row index works directly.  Per-group
    series sort inside their own partitions; the single-global form
    is for already-collapsed rollups, documented at call sites.
    """
    group_cols = group_cols or []
    v = F.col(value_col)
    micro = F.round(v * 1_000_000).cast("decimal(38,0)")
    wo = Window.partitionBy(*group_cols).orderBy("__o")
    base = (
        df.filter(v.isNotNull())
        .select(
            *group_cols,
            F.col(order_col).alias("__o"),
            v.alias("__v"),
            micro.alias("__m"),
        )
        .withColumn(
            "__i",
            F.row_number().over(wo).cast("decimal(38,0)"),
        )
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__o")
        .rowsBetween(-(window - 1), 0)
    )
    agged = base.select(
        *group_cols,
        "__o",
        "__v",
        F.count(F.lit(1)).over(w).alias("__cnt"),
        F.sum("__m").over(w).alias("__sy"),
        F.sum(F.col("__i") * F.col("__m")).over(w).alias("__sxy"),
        F.sum("__i").over(w).alias("__sx"),
        F.sum(F.col("__i") * F.col("__i")).over(w).alias("__sx2"),
    )
    n = F.lit(float(window))
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sx = F.col("__sx").cast("double")
    sx2 = F.col("__sx2").cast("double")
    den = n * sx2 - sx * sx
    slope_micro = F.when(
        (F.col("__cnt") == window) & (den > 0),
        (n * sxy - sx * sy) / den,
    )
    return agged.select(
        *group_cols,
        F.col("__o").alias(order_col),
        F.col("__v").alias(value_col),
        F.round(slope_micro / 1_000_000.0, 6).alias("slope"),
    )


def prorate(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
    total_col: str,
    key_col: str,
    out_col: str = "allocated",
) -> DataFrame:
    """Largest-remainder proration: split each group's integer total
    (cents, units) across its members in proportion to weights so the
    parts SUM BACK TO THE TOTAL EXACTLY — the allocation every
    finance/ledger pipeline needs, where naive ``round(total*w/W)``
    leaves pennies missing or invented.

    Each member gets ``floor(total*w/W)``; the leftover ``total -
    Σfloor`` units go one each to the largest fractional remainders
    (ties broken by ``key_col`` ascending — deterministic and
    oracle-reproducible).  NULL weights count as zero; a group whose
    weights are ALL zero falls back to uniform proration (every
    member weight 1), so the invariant Σallocated = total holds for
    every group unconditionally.

    Scale shape: one group aggregate for W, broadcast back; ONE rank
    window per group over its members (groups are small — line items
    per order, accounts per ledger); every quantity is integer-exact
    (the fractional remainder is compared as the integer
    ``total*w mod W``, never a float; the exact floor is derived as
    ``(num - num mod W) / W`` because Spark decimal division ROUNDS).
    """
    w = F.coalesce(
        F.col(weight_col).cast("decimal(38,0)"), F.lit(0)
    )
    t = F.col(total_col).cast("decimal(38,0)")
    base = df.withColumn("__w", w)
    sums = base.groupBy(*group_cols).agg(
        F.sum("__w").alias("__Wsum")
    )
    j = base.join(sums, group_cols)
    one = F.lit(1).cast("decimal(38,0)")
    w_eff = F.when(F.col("__Wsum") > 0, F.col("__w")).otherwise(one)
    cnt_w = Window.partitionBy(*group_cols)
    W_eff = F.when(
        F.col("__Wsum") > 0, F.col("__Wsum")
    ).otherwise(F.count(F.lit(1)).over(cnt_w).cast("decimal(38,0)"))
    num = t * w_eff
    rem = F.pmod(num, W_eff)
    fl = ((num - rem) / W_eff).cast("decimal(38,0)")
    staged = j.select(
        *df.columns,
        fl.alias("__fl"),
        rem.alias("__rem"),
        (
            t
            - F.sum(fl).over(
                Window.partitionBy(*group_cols)
            )
        ).alias("__left"),
    )
    wr = Window.partitionBy(*group_cols).orderBy(
        F.col("__rem").desc(), F.col(key_col).asc()
    )
    ranked = staged.withColumn("__rk", F.row_number().over(wr))
    alloc = F.col("__fl") + F.when(
        F.col("__rk") <= F.col("__left"), 1
    ).otherwise(0)
    return ranked.select(
        *df.columns, alloc.cast("long").alias(out_col)
    )


def topk_others(
    df: DataFrame,
    group_cols: list[str],
    label_col: str,
    value_col: str,
    k: int,
    other_label: str = "OTHER",
) -> DataFrame:
    """Top-k labels per group by value with the tail rolled into one
    ``OTHER`` row — the reporting cut every dashboard query wants
    ("top 5 products per region, everything else as one bar").
    Deterministic order (value desc, label asc) so the k-boundary is
    engine-independent; groups with ≤ k labels emit no OTHER row.

    Scale shape: assumes a PRE-AGGREGATED (group, label, value) table
    (the caller's groupBy), so the rank window runs over label
    cardinality per group, not raw rows; the tail collapses in the
    same pass via a conditional re-aggregate.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).desc(), F.col(label_col).asc()
    )
    ranked = df.withColumn("__rk", F.row_number().over(w))
    top = ranked.filter(F.col("__rk") <= k).select(
        *group_cols,
        F.col(label_col),
        F.col(value_col),
        F.col("__rk").alias("rank"),
    )
    others = (
        ranked.filter(F.col("__rk") > k)
        .groupBy(*group_cols)
        .agg(F.sum(value_col).alias(value_col))
        .select(
            *group_cols,
            F.lit(other_label).alias(label_col),
            F.col(value_col),
            F.lit(None).cast("int").alias("rank"),
        )
    )
    return top.unionAll(others)


def croston_forecast(
    df: DataFrame,
    key_cols: list[str],
    period_col: str,
    demand_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand (spare parts, long-tail
    SKUs — series that are mostly zeros, where plain EWMA decays to
    nonsense between demands): smooth the NON-ZERO demand sizes and
    the inter-demand intervals separately, forecast their ratio
    ``ẑ/p̂`` per period.

    This is the adjust-corrected (finite-window) EWMA variant — both
    smoothers use :func:`ewma_smooth`'s closed form
    ``Σ(1-α)^(t-i)·x_i / Σ(1-α)^(t-i)`` rather than the textbook
    init-biased recursion, so it is expressible as ONE cumulative
    window and engine-deterministic at ``alpha=0.5`` (power-of-two
    weights, the ewma_smooth determinism contract).

    Input grain: one row per (key, integer period) with the period's
    demand; zero/NULL-demand periods may be present or absent (they
    are ignored either way).  The first demand has no defined
    interval, so ``p̂`` smooths from the second demand on; keys with a
    single demand get NULL ``p_hat``/``forecast`` via lazy CASE.

    Scale shape: one filter, one lag window, two cumulative sums, one
    top-1-per-key window — all on the same key partitioning (single
    shuffle), over the non-zero-demand rows only (the point of
    Croston: that table is SPARSE).

    INHERITED LENGTH BOUND: :func:`ewma_smooth`'s closed-form weight
    ``(1/(1−α))^i`` overflows to inf past ~1020 NON-ZERO demands per
    key at α=0.5, silently yielding NaN forecasts — cap or
    pre-aggregate so no key exceeds ~1000 demand events (intermittent
    series rarely do; a key that does isn't intermittent).

    Returns one row per key: (key..., n_demands, z_hat, p_hat,
    forecast).
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    r = 1.0 - alpha
    d = F.col(demand_col).cast("double")
    nz = df.filter(d.isNotNull() & (d > 0)).select(
        *key_cols,
        F.col(period_col).cast("long").alias("__p"),
        d.alias("__z"),
    )
    w_ord = Window.partitionBy(*key_cols).orderBy(F.col("__p").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = nz.withColumn(
        "__gap", (F.col("__p") - F.lag("__p").over(w_ord)).cast("double")
    ).withColumn("__i", F.row_number().over(w_ord) - F.lit(1))
    # adjust-EWMA closed form (ewma_smooth): terms ride (1-a)^(-i)
    zk = F.pow(F.lit(r), -F.col("__i"))
    z_num = F.sum(F.col("__z") * zk).over(w_cum)
    z_den = F.sum(zk).over(w_cum)
    # interval smoother skips the first (undefined-gap) demand
    g_num = F.sum(
        F.when(F.col("__gap").isNotNull(), F.col("__gap") * zk)
    ).over(w_cum)
    g_den = F.sum(F.when(F.col("__gap").isNotNull(), zk)).over(w_cum)
    smoothed = staged.select(
        *key_cols,
        F.row_number().over(
            Window.partitionBy(*key_cols).orderBy(F.col("__p").desc())
        ).alias("__last"),
        F.count(F.lit(1)).over(
            Window.partitionBy(*key_cols)
        ).alias("n_demands"),
        F.round(z_num / z_den, 6).alias("z_hat"),
        F.round(
            F.when(g_den > 0, g_num / g_den), 6
        ).alias("p_hat"),
    )
    out = smoothed.filter(F.col("__last") == 1).select(
        *key_cols,
        "n_demands",
        "z_hat",
        "p_hat",
        F.round(
            F.when(F.col("p_hat") > 0, F.col("z_hat") / F.col("p_hat")),
            6,
        ).alias("forecast"),
    )
    return out


def local_peaks(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    neighbors: int = 2,
    min_sigma: float = 1.0,
) -> DataFrame:
    """Local-maximum peak detection per series: a point is a peak when
    it strictly exceeds its ``neighbors`` preceding AND following
    points and sits at least ``min_sigma`` group-standard-deviations
    above the group mean — the pragmatic spike finder for incident
    review and launch-day retrospectives (plateau points tie their
    neighbors and are correctly NOT peaks under strict inequality).

    Scale shape: one fixed-width window pair per group (max over the
    w preceding / w following rows, O(w) state) on a single key
    shuffle, plus a broadcast of the per-group moments (rounded to 6
    decimals first).  Series edges (fewer than ``neighbors`` points
    on a side) cannot qualify — the window counts enforce it.

    Returns peak rows only: (group, time, value, z).
    """
    if neighbors < 1:
        raise ValueError(f"neighbors must be >= 1, got {neighbors}")
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    moments = (
        df.filter(g.isNotNull() & x.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.round(F.avg(x), 6).alias("__mu"),
            F.round(F.stddev_samp(x), 6).alias("__sd"),
        )
    )
    w_before = (
        Window.partitionBy(g)
        .orderBy(F.col(time_col).asc())
        .rowsBetween(-neighbors, -1)
    )
    w_after = (
        Window.partitionBy(g)
        .orderBy(F.col(time_col).asc())
        .rowsBetween(1, neighbors)
    )
    staged = (
        df.filter(g.isNotNull() & x.isNotNull())
        .withColumn("__maxb", F.max(x).over(w_before))
        .withColumn("__cntb", F.count(x).over(w_before))
        .withColumn("__maxa", F.max(x).over(w_after))
        .withColumn("__cnta", F.count(x).over(w_after))
        .join(F.broadcast(moments), g == F.col("__g"))
        .filter(F.col("__sd") > 0)
        .withColumn("z", F.round((x - F.col("__mu")) / F.col("__sd"), 6))
    )
    peaks = staged.filter(
        (F.col("__cntb") == neighbors)
        & (F.col("__cnta") == neighbors)
        & (x > F.col("__maxb"))
        & (x > F.col("__maxa"))
        & (F.col("z") >= F.lit(float(min_sigma)))
    )
    return peaks.select(group_col, time_col, value_col, "z")
