"""Behavioral analytics over event streams: ordered funnels and
cohort retention.

Both are compositions of hash aggregates on the user key — the shapes
that stay cheap at 100 TB because every pass shuffles only (user,
small state), never event payloads, and consecutive passes reuse the
same key so AQE/bucketing can co-locate them.

Extends the reference's event aggregation family (group-by counts,
SURVEY A2) with the two questions production event tables answer
daily: "how far do users get through step1 → step2 → step3, in
order?" and "of the users who showed up in week W, how many came
back k weeks later?".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..scope import checkpoint


def funnel_times(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_span_seconds: int | None = None,
) -> DataFrame:
    """Per-key ORDERED funnel: ``t_1`` is the key's first ``steps[0]``
    event, ``t_i`` the first ``steps[i]`` event strictly AFTER
    ``t_{i-1}`` (NULL once a step is missed — later steps stay NULL,
    preserving order semantics).  Also emits ``reached`` = number of
    completed steps.

    ``max_span_seconds`` bounds the whole funnel to a conversion
    window: step i counts only while within ``t_1 +
    max_span_seconds`` (the "converted within 7 days" semantic).
    NOTE the window anchors at the key's FIRST step-1 event — the
    per-anchor-retry variant (restart the window from every step-1
    occurrence) is a different, strictly heavier query.

    Scale shape: one conditional-min hash aggregate per step, all
    keyed on ``key_col`` — pass i needs ``t_{i-1}``, so the chain is
    sequential by construction (funnel order IS a data dependency),
    but each pass is a partial-aggregated shuffle of (key, one
    timestamp) and Catalyst collapses the chained joins on the
    already-partitioned key.  Never a per-user sort, never a window
    over event history.
    """
    out = df.groupBy(key_col).agg(
        F.min(F.when(F.col(type_col) == steps[0], F.col(ts_col))).alias("t_1")
    )
    for i, step in enumerate(steps[1:], start=2):
        prev = f"t_{i - 1}"
        carry = [key_col, "t_1"] if prev == "t_1" else [key_col, "t_1", prev]
        cond_df = df.withColumnRenamed(ts_col, "__ts").join(
            out.select(*carry), key_col
        )
        in_order = (F.col(type_col) == step) & (F.col("__ts") > F.col(prev))
        if max_span_seconds is not None:
            in_order = in_order & (
                F.col("__ts")
                <= F.col("t_1") + F.expr(f"INTERVAL {max_span_seconds} SECOND")
            )
        nxt = cond_df.groupBy(key_col).agg(
            F.min(F.when(in_order, F.col("__ts"))).alias(f"t_{i}")
        )
        out = out.join(nxt, key_col, "left")
    reached = None
    for i in range(1, len(steps) + 1):
        hit = F.col(f"t_{i}").isNotNull().cast("int")
        reached = hit if reached is None else reached + hit
    return out.withColumn("reached", reached)


def funnel_counts(funnel: DataFrame, n_steps: int) -> DataFrame:
    """Collapse ``funnel_times`` output to the funnel chart: one row
    per step with how many keys reached it (a |steps|-row result)."""
    aggs = [
        F.sum(F.col(f"t_{i}").isNotNull().cast("long")).alias(f"step_{i}")
        for i in range(1, n_steps + 1)
    ]
    wide = funnel.agg(*aggs)
    stack = ", ".join(f"{i}, step_{i}" for i in range(1, n_steps + 1))
    return wide.selectExpr(
        f"stack({n_steps}, {stack}) AS (step, n_users)"
    )


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    bucket_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: cohort = the key's first-activity
    period (``bucket_days``-wide buckets anchored at the corpus
    epoch), offset = periods since the cohort, value = distinct keys
    active at that offset.  Rows: (cohort_start DATE, period_offset,
    n_active).

    Scale shape: first-activity is one (key → min ts) aggregate;
    activity buckets are a narrow date arithmetic projection; the
    matrix is a count-distinct over (cohort, offset) — shuffles carry
    (key, two small ints).  At extreme scale swap the exact distinct
    for ``approx_count_distinct`` per cell (HLL sketches merge across
    partitions), same output columns.
    """
    bucket = lambda c: F.floor(  # noqa: E731 — local bucketing expr
        F.datediff(F.to_date(c), F.lit("1970-01-01").cast("date"))
        / bucket_days
    )
    first = df.groupBy(key_col).agg(F.min(ts_col).alias("__first_ts"))
    acts = (
        df.select(key_col, ts_col)
        .join(first, key_col)
        .select(
            F.col(key_col),
            bucket(F.col("__first_ts")).alias("__cohort_b"),
            bucket(F.col(ts_col)).alias("__act_b"),
        )
        .distinct()
    )
    return (
        acts.select(
            "__cohort_b",
            (F.col("__act_b") - F.col("__cohort_b")).alias("period_offset"),
            key_col,
        )
        .groupBy("__cohort_b", "period_offset")
        .agg(F.count_distinct(key_col).alias("n_active"))
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                (F.col("__cohort_b") * bucket_days).cast("int"),
            ).alias("cohort_start"),
            "period_offset",
            "n_active",
        )
    )


def last_touch_attribution(
    df: DataFrame,
    conversion_type: str,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Last-touch conversion attribution: credit every conversion
    event's value to the channel (the ``type_col`` of the key's most
    recent PRECEDING non-conversion event), then roll up per channel.
    Conversions with no preceding touch attribute to the literal
    channel ``'(none)'`` — counted honestly, never dropped.

    This is the marketing-analytics composition of the engine's as-of
    machinery (SURVEY J6): conversions are the left of a backward
    as-of join against the same stream's touches.  Implemented with
    the union+window pattern via one ``last(..., ignorenulls)`` sweep
    per key — ONE shuffle on (key), work linear in events, no range
    join, no per-conversion rescan of the touch history.

    Determinism: a touch at the exact conversion timestamp is visible
    (ties go to the touch, matching asof_join's boundary rule); among
    same-timestamp touches the one with the larger event id wins —
    the window never orders by a nullable column.
    """
    is_conv = F.col(type_col) == conversion_type
    tagged = df.select(
        F.col(key_col),
        F.col(ts_col),
        is_conv.cast("int").alias("__is_c"),
        F.when(~is_conv, F.col(type_col)).alias("__touch"),
        F.when(~is_conv, F.col("event_id")).alias("__tid"),
        F.when(is_conv, F.col(value_col)).alias("__val"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(
            F.col(ts_col),
            F.col("__is_c"),  # touch sorts before conversion at equal ts
            F.coalesce(F.col("__tid"), F.lit(-1)),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = tagged.withColumn(
        "__channel", F.last("__touch", ignorenulls=True).over(w)
    ).filter(F.col("__is_c") == 1)
    return (
        attributed.groupBy(
            F.coalesce(F.col("__channel"), F.lit("(none)")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("__val"), 4).alias("attributed_value"),
        )
    )


def transition_matrix(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    every ordered (prev_type -> next_type) adjacency within a user's
    timeline, the transition count and conditional probability
    P(next | prev) — the navigation-flow summary behind sankey/path
    charts and drop-off analysis.

    Scale shape: ONE window pass per user (lag over (ts, id) — the
    same single shuffle the as-of family uses), then a
    |types|²-bounded count aggregate; the per-prev totals come from a
    window over the tiny aggregate, not a second scan.  Returns
    (prev_type, next_type, n_transitions, p) with p rounded to 6.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    pairs = (
        df.select(
            F.col(key_col),
            F.col(ts_col),
            F.col(id_col),
            F.lag(type_col).over(w).alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(tot),
            6,
        ).alias("p"),
    )


def rolling_active_users(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Daily + trailing-window active users (DAU / WAU-style): for
    every day within ``window_days`` of observed activity, the count
    of distinct users active that day and in the trailing
    ``window_days`` window ending that day.  Days whose trailing
    window contains no activity at all are absent from the output
    (sparse axis — callers needing dense calendars join a day
    sequence).

    Scale shape: the corpus collapses to DISTINCT (user, day) FIRST
    (the only corpus-sized aggregate); each activity day then
    contributes to exactly ``window_days`` window-end days via a
    bounded ``explode(sequence)`` — linear x window_days, never a
    per-day self-join or a count-distinct-over-range window (which
    Spark cannot partial-aggregate).  Trailing windows that extend
    past the last observed day are clipped by a broadcast scalar.
    Returns (day, dau, wau) — wau is the trailing count; at
    ``window_days=1`` the two columns agree.
    """
    ud = df.select(
        F.col(key_col).alias("u"), F.to_date(ts_col).alias("d")
    ).distinct()
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    last = ud.agg(F.max("d").alias("__last"))
    contrib = (
        ud.select(
            "u",
            F.explode(
                F.sequence(
                    F.col("d"), F.date_add(F.col("d"), window_days - 1)
                )
            ).alias("day"),
        )
        .crossJoin(F.broadcast(last))
        .filter(F.col("day") <= F.col("__last"))
    )
    wau = contrib.groupBy("day").agg(
        F.count_distinct("u").alias("wau")
    )
    return (
        wau.join(dau, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("dau"), F.lit(0)).alias("dau"),
            "wau",
        )
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_shared: int = 2,
    max_basket: int = 40,
) -> DataFrame:
    """Directed market-basket association rules (antecedent →
    consequent) with support / confidence / lift — the report layer
    over the co-occurrence pair counts (reference A2-family group-by
    aggregation, generalized to the classic basket-analysis shape).

    Scale shape: the bipartite (basket, item) table collapses to
    DISTINCT first; baskets above ``max_basket`` distinct items are
    dropped BEFORE the basket-keyed self-join (a hot basket
    contributes basket² pairs for near-zero signal — the same
    explicit fan-out cut as the co-purchase query); pair counts
    aggregate map-side on (item_a, item_b).  Item supports and the
    basket total are dimension-sized aggregates that BROADCAST onto
    the pair table, so the only big shuffle is the bounded pair agg
    itself.  Each undirected pair emits both rule directions.

    Returns (antecedent, consequent, n_both, support, confidence,
    lift) for pairs co-occurring in at least ``min_shared`` baskets:
    support = n_both / n_baskets, confidence = n_both / n_antecedent,
    lift = confidence / (n_consequent / n_baskets) — all ratios of
    exact longs, rounded to 6, so any engine agrees.
    """
    bi = (
        df.select(
            F.col(basket_col).alias("__bk"), F.col(item_col).alias("__it")
        )
        .filter(F.col("__bk").isNotNull() & F.col("__it").isNotNull())
        .distinct()
    )
    # the basket-size cut and the item supports both ride the rows as
    # window counts (one shuffle on the basket key, one on the item
    # key) rather than separate aggregate+join branches — the
    # self-join sides then each carry their item's support, so no
    # branch re-reads the bipartite collapse and the plan has exactly
    # one corpus-sized subtree per join side
    bounded = bi.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("__bk"))
    ).filter(F.col("__n") <= max_basket)
    counted = bounded.withColumn(
        "__ni", F.count(F.lit(1)).over(Window.partitionBy("__it"))
    )
    totals = bounded.agg(F.count_distinct("__bk").alias("__nb"))
    a = counted.select(
        "__bk", F.col("__it").alias("__ia"), F.col("__ni").alias("__sa")
    )
    b = counted.select(
        "__bk", F.col("__it").alias("__ib"), F.col("__ni").alias("__sb")
    )
    pairs = (
        a.join(b, "__bk")
        .filter(F.col("__ia") < F.col("__ib"))
        .groupBy("__ia", "__ib")
        .agg(
            F.count(F.lit(1)).alias("n_both"),
            F.first("__sa").alias("__sa"),
            F.first("__sb").alias("__sb"),
        )
        .filter(F.col("n_both") >= min_shared)
    )
    # both rule directions from ONE pairs subtree (explode, not a
    # union that would duplicate the whole self-join plan)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("__ia").alias("antecedent"),
                    F.col("__ib").alias("consequent"),
                    F.col("n_both"),
                    F.col("__sa").alias("__na"),
                    F.col("__sb").alias("__nc"),
                ),
                F.struct(
                    F.col("__ib").alias("antecedent"),
                    F.col("__ia").alias("consequent"),
                    F.col("n_both"),
                    F.col("__sb").alias("__na"),
                    F.col("__sa").alias("__nc"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    return (
        directed.crossJoin(F.broadcast(totals))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(F.col("n_both") / F.col("__nb"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("__na"), 6).alias("confidence"),
            F.round(
                F.col("n_both").cast("double") * F.col("__nb")
                / (F.col("__na").cast("double") * F.col("__nc")),
                6,
            ).alias("lift"),
        )
    )


def rfm_segments(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    tiers: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic lifecycle report: score each customer 1..``tiers`` on
    how recently they bought, how often, and how much, with
    ``tiers`` = best on every axis.

    Scale shape: ONE hash aggregate collapses the order stream to a
    |customers|-sized (last_ts, frequency, monetary) table; the
    anchor date and the three ntile scores are windows over that
    BOUNDED table (customer cardinality, never order rows) with
    key tiebreakers so the tiling is a deterministic total order on
    any engine.  Monetary sums round to 2 (exact cents) before
    tiling.  Returns (key, recency_days, frequency, monetary,
    r_score, f_score, m_score, segment).
    """
    per = df.groupBy(F.col(key_col)).agg(
        F.max(F.col(ts_col)).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col(amount_col)), 2).alias("monetary"),
    )
    anchor = F.max("__last").over(Window.partitionBy())
    scored = per.withColumn(
        "recency_days", F.datediff(anchor, F.col("__last"))
    )
    k = F.col(key_col).asc()
    r = (tiers + 1) - F.ntile(tiers).over(
        Window.orderBy(F.col("recency_days").asc(), k)
    )
    fr = (tiers + 1) - F.ntile(tiers).over(
        Window.orderBy(F.col("frequency").desc(), k)
    )
    m = (tiers + 1) - F.ntile(tiers).over(
        Window.orderBy(F.col("monetary").desc(), k)
    )
    return scored.select(
        key_col,
        "recency_days",
        "frequency",
        "monetary",
        r.alias("r_score"),
        fr.alias("f_score"),
        m.alias("m_score"),
    ).withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def cohort_ltv(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by
    first-purchase month, each cohort's revenue tracked by months
    since acquisition, cumulated and divided by cohort size — the
    "how much is a customer acquired in month M worth after k
    months" report (the revenue-weighted sibling of
    :func:`cohort_retention`).

    Scale shape: first-purchase is one (key → min ts) aggregate;
    the activity projection is narrow month arithmetic
    (year*12+month, identical on any engine); the curve is a
    (cohort, offset) aggregate plus a cumulative window over the
    BOUNDED per-cohort offset axis; cohort sizes are a
    |cohorts|-sized broadcast.  Revenue rounds to exact cents before
    cumulating.  Returns (cohort_start, period_offset, n_customers,
    period_revenue, cum_revenue_per_customer).
    """
    first = df.groupBy(key_col).agg(F.min(ts_col).alias("__f"))
    mon = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    acts = df.select(key_col, ts_col, amount_col).join(first, key_col)
    rev = (
        acts.select(
            F.date_trunc("month", F.col("__f")).cast("date").alias(
                "cohort_start"
            ),
            (mon(F.col(ts_col)) - mon(F.col("__f"))).alias("period_offset"),
            F.col(amount_col).alias("__amt"),
        )
        .groupBy("cohort_start", "period_offset")
        .agg(F.round(F.sum("__amt"), 2).alias("period_revenue"))
    )
    sizes = first.groupBy(
        F.date_trunc("month", F.col("__f")).cast("date").alias(
            "cohort_start"
        )
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    w = (
        Window.partitionBy("cohort_start")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_start")
        .select(
            "cohort_start",
            "period_offset",
            "n_customers",
            "period_revenue",
            F.round(
                F.sum("period_revenue").over(w) / F.col("n_customers"), 6
            ).alias("cum_revenue_per_customer"),
        )
    )


def linear_attribution(
    df: DataFrame,
    conversion_type: str,
    channels: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Linear multi-touch attribution: every conversion's value is
    split across ALL of the key's preceding touches in proportion to
    how many touches each channel contributed (the uniform-credit
    multi-touch model, vs ``last_touch_attribution``'s winner-take-
    all).  Conversions with no preceding touch attribute in full to
    the literal channel ``'(none)'`` — counted honestly, never
    dropped.

    Scale shape: the naive formulation joins conversions against
    their full touch history (a per-user range join, quadratic in
    events per user).  Because the channel set is SMALL and DECLARED
    (``channels``), the same result comes from one cumulative
    conditional count per channel over a single (key)-partitioned
    window — ONE shuffle on the key, work linear in events ×
    |channels|, no self-join.  The per-conversion credit vector is
    then unpivoted via ``stack`` (rows only for channels with
    non-zero credit) and rolled up per channel.

    Tie rule matches last_touch_attribution: a touch at the exact
    conversion timestamp is visible to that conversion.

    Output: (channel, n_conversions, attributed_value) — a channel's
    n_conversions counts conversions it received ANY credit from.
    """
    is_conv = F.col(type_col) == conversion_type
    tagged = df.select(
        F.col(key_col),
        F.col(ts_col),
        is_conv.cast("int").alias("__is_c"),
        F.col(type_col).alias("__t"),
        F.when(~is_conv, F.col("event_id")).alias("__tid"),
        F.when(is_conv, F.col(value_col)).alias("__val"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(
            F.col(ts_col),
            F.col("__is_c"),  # touch sorts before conversion at equal ts
            F.coalesce(F.col("__tid"), F.lit(-1)),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cnt_cols = {
        ch: F.sum(
            ((F.col("__is_c") == 0) & (F.col("__t") == ch)).cast("long")
        ).over(w)
        for ch in channels
    }
    conv = (
        tagged.select(
            "*", *[c.alias(f"__n_{i}") for i, c in enumerate(cnt_cols.values())]
        )
        .filter(F.col("__is_c") == 1)
        .withColumn(
            "__tot", sum(F.col(f"__n_{i}") for i in range(len(channels)))
        )
    )
    # unpivot: one row per (conversion, channel-with-credit); the
    # '(none)' arm carries untouched conversions at full value
    stack_args = ", ".join(
        f"'{ch}', __n_{i}" for i, ch in enumerate(channels)
    )
    credited = (
        conv.filter(F.col("__tot") > 0)
        .selectExpr(
            "__val",
            "__tot",
            f"stack({len(channels)}, {stack_args}) AS (channel, __n)",
        )
        .filter(F.col("__n") > 0)
        .select(
            "channel",
            (F.col("__val") * F.col("__n") / F.col("__tot")).alias("__credit"),
        )
    )
    untouched = conv.filter(F.col("__tot") == 0).select(
        F.lit("(none)").alias("channel"), F.col("__val").alias("__credit")
    )
    return (
        credited.unionAll(untouched)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("__credit"), 4).alias("attributed_value"),
        )
    )


def path_ngrams(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    session_cols: list[str],
    n: int = 3,
    top_k: int = 20,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Most-common length-``n`` event-type paths across sessions: the
    behavioral n-gram census ('view → click → purchase happened 412
    times') behind journey mining and next-step suggestion.  Returns
    ``(path, n_occurrences)`` for the top ``top_k`` paths, rank-
    filtered on the deterministic (count DESC, path ASC) order so
    count ties never truncate arbitrarily.

    One session-keyed window (shuffle on the session key, no global
    sort) builds each row's trailing n-gram via ``lag``; the census is
    a map-side-combined count whose cardinality is bounded by
    |event types|^n, and top-k runs on that bounded table.  Pass
    ``tiebreak_col`` (a unique id) to pin intra-timestamp order —
    without it, equal-timestamp events have engine-dependent order and
    the census is not reproducible.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*session_cols).orderBy(*order)
    parts = [F.lag(type_col, n - 1 - i).over(w) for i in range(n - 1)]
    parts.append(F.col(type_col))
    path = F.concat_ws(" > ", *parts)
    complete = F.lag(type_col, n - 1).over(w).isNotNull()
    census = (
        df.withColumn("__path", path)
        .withColumn("__ok", complete)
        .filter(F.col("__ok"))
        .groupBy(F.col("__path").alias("path"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    wr = Window.orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
    return (
        census.withColumn("__rk", F.row_number().over(wr))
        .filter(F.col("__rk") <= top_k)
        .drop("__rk")
    )


def sequence_match(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    key_cols: list[str],
    first: str,
    then: str,
    exclude: str | None = None,
    within_seconds: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Event-pattern matching (the ``sequenceMatch``/MATCH_RECOGNIZE
    class of query): per key, count ``then``-type events completing a
    ``first -> then`` pattern — matched against the MOST RECENT
    preceding ``first`` event, optionally requiring the gap to be at
    most ``within_seconds`` and that no ``exclude``-type event fell
    between the matched pair ("clicked then purchased within an hour
    with no error in between").

    Semantics are defined over the per-key event order ``(ts,
    tiebreak)``: for each ``then`` row, ``last_first`` / ``last_excl``
    are the latest STRICTLY-PRECEDING rows of the respective types
    (row-frame ``UNBOUNDED PRECEDING .. 1 PRECEDING``); the pattern
    completes when ``last_first`` exists, the time gap fits, and
    ``last_excl`` is absent or not after ``last_first`` (an exclude
    sharing ``last_first``'s position does not block, one between the
    pair does).  Most-recent-anchor matching is the standard stream
    semantic — it never requires joining a ``then`` event to ALL its
    candidate anchors, so no pair blow-up exists at any scale.

    Scale shape: ONE shuffle on the key and a single ordered window
    pass computing both running maxima — event payloads never
    replicate, state per row is two timestamps.  The final rollup is a
    key-keyed hash aggregate with map-side combine.  Returns
    ``(key..., n_complete, first_completion_ts)`` for keys with at
    least one completed pattern.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_first = F.max(
        F.when(F.col(type_col) == first, F.col(ts_col))
    ).over(w)
    cur = df.withColumn("__last_first", last_first)
    matched = (
        (F.col(type_col) == then) & F.col("__last_first").isNotNull()
    )
    if within_seconds is not None:
        matched = matched & (
            F.col(ts_col)
            <= F.col("__last_first")
            + F.expr(f"INTERVAL {within_seconds} SECOND")
        )
    if exclude is not None:
        last_excl = F.max(
            F.when(F.col(type_col) == exclude, F.col(ts_col))
        ).over(w)
        cur = cur.withColumn("__last_excl", last_excl)
        matched = matched & (
            F.col("__last_excl").isNull()
            | (F.col("__last_excl") <= F.col("__last_first"))
        )
    return (
        cur.filter(matched)
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_complete"),
            F.min(F.col(ts_col)).alias("first_completion_ts"),
        )
    )


def period_overlap(
    df: DataFrame,
    ts_col: str,
    actor_col: str,
    grain: str = "day",
) -> DataFrame:
    """Consecutive-period audience overlap — the turnover signal
    behind "how much of yesterday's audience came back today":
    Jaccard of adjacent periods' distinct active-actor sets, plus the
    retained share of the earlier period.

    Scale shape: collapse to the DISTINCT (period, actor) table first
    (one hash aggregate; shuffle volume = active pairs, not events),
    then ONE equi-join of that table against itself shifted one
    period (join key = (actor, period+1) vs (actor, period) — never a
    range join), one period-keyed count for sizes, and two
    broadcast-sized size joins.  |A ∪ B| = |A| + |B| − |A ∩ B| avoids
    ever materializing the union.  Periods with zero shared actors
    are absent (Jaccard 0 rows carry no signal and would need an
    all-periods spine).  Returns ``(period, next_period, n_prev,
    n_next, n_shared, jaccard, retained)`` rounded to 6 decimals.
    """
    period = F.date_trunc(grain, F.col(ts_col)).cast("date")
    active = df.select(
        period.alias("period"), F.col(actor_col).alias("__a")
    ).distinct()
    step = {"day": 1, "week": 7}[grain]
    nxt = active.select(
        F.date_sub(F.col("period"), step).alias("period"),
        F.col("__a"),
    )
    shared = (
        active.join(nxt, ["period", "__a"])
        .groupBy("period")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = active.groupBy("period").agg(F.count(F.lit(1)).alias("n"))
    nsz = sizes.select(
        F.date_sub(F.col("period"), step).alias("period"),
        F.col("n").alias("n_next"),
    )
    return (
        shared.join(sizes, "period")
        .join(nsz, "period")
        .select(
            F.col("period"),
            F.date_add(F.col("period"), step).alias("next_period"),
            F.col("n").alias("n_prev"),
            "n_next",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n") + F.col("n_next") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
            F.round(F.col("n_shared") / F.col("n"), 6).alias("retained"),
        )
    )


def time_decay_attribution(
    df: DataFrame,
    conversion_type: str,
    channels: list[str],
    halflife_days: float = 7.0,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-decay multi-touch attribution: each preceding touch earns
    credit proportional to ``2^(-Δt / halflife)`` where ``Δt`` is the
    gap to the conversion — yesterday's click outranks last month's,
    the recency-weighted middle ground between linear and last-touch.

    Scale shape — the :func:`linear_attribution` trick survives the
    weighting because the decay FACTORS: ``2^(-(T-t)/h) = 2^(-T/h) ·
    2^(t/h)`` and the conversion-time term cancels in every credit
    share, so per-channel credit is a cumulative conditional SUM of
    ``2^((t - t_min_user)/h)`` over ONE user-keyed window (the
    per-user anchor keeps the exponent bounded by the user's activity
    span) — no conversion×touch range join, work linear in events ×
    |channels|.  Untouched conversions attribute to ``'(none)'``;
    tie rule matches linear_attribution (a touch at the conversion
    timestamp is visible to it).

    Output: (channel, n_conversions, attributed_value).
    """
    is_conv = F.col(type_col) == conversion_type
    # NTZ-safe epoch micros: cast through TIMESTAMP (session tz is
    # pinned UTC repo-wide, so this matches DuckDB epoch_us on naive
    # timestamps)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    tagged = df.select(
        F.col(key_col),
        F.col(ts_col),
        us.alias("__us"),
        is_conv.cast("int").alias("__is_c"),
        F.col(type_col).alias("__t"),
        F.when(~is_conv, F.col("event_id")).alias("__tid"),
        F.when(is_conv, F.col(value_col)).alias("__val"),
    )
    w_user = Window.partitionBy(key_col)
    anchored = tagged.withColumn(
        "__w",
        F.pow(
            F.lit(2.0),
            (F.col("__us") - F.min("__us").over(w_user)).cast("double")
            / 86_400_000_000.0
            / F.lit(float(halflife_days)),
        ),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(
            F.col(ts_col),
            F.col("__is_c"),
            F.coalesce(F.col("__tid"), F.lit(-1)),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sum_cols = {
        ch: F.sum(
            F.when(
                (F.col("__is_c") == 0) & (F.col("__t") == ch),
                F.col("__w"),
            )
        ).over(w)
        for ch in channels
    }
    conv = (
        anchored.select(
            "*",
            *[
                F.coalesce(c, F.lit(0.0)).alias(f"__s_{i}")
                for i, c in enumerate(sum_cols.values())
            ],
        )
        .filter(F.col("__is_c") == 1)
        .withColumn(
            "__tot", sum(F.col(f"__s_{i}") for i in range(len(channels)))
        )
    )
    stack_args = ", ".join(
        f"'{ch}', __s_{i}" for i, ch in enumerate(channels)
    )
    credited = (
        conv.filter(F.col("__tot") > 0)
        .selectExpr(
            "__val",
            "__tot",
            f"stack({len(channels)}, {stack_args}) AS (channel, __s)",
        )
        .filter(F.col("__s") > 0)
        .select(
            "channel",
            (F.col("__val") * F.col("__s") / F.col("__tot")).alias(
                "__credit"
            ),
        )
    )
    untouched = conv.filter(F.col("__tot") == 0).select(
        F.lit("(none)").alias("channel"), F.col("__val").alias("__credit")
    )
    return (
        credited.unionAll(untouched)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("__credit"), 4).alias("attributed_value"),
        )
    )


def cooccurrence_lift(
    df: DataFrame,
    entity_col: str,
    item_col: str,
    min_both: int = 1,
) -> DataFrame:
    """Item co-occurrence lift matrix at the ENTITY grain: for every
    unordered item pair, ``lift = P(a,b) / (P(a)·P(b))`` over entities
    (users, sessions, baskets) — the "which behaviors travel
    together?" readout behind cross-sell and feature-bundling calls
    (lift > 1 = the pair co-occurs beyond chance).

    Scale shape: the corpus collapses to DISTINCT (entity, item)
    first (hash aggregate, shuffle volume = entity-item incidences);
    pairs come from a WITHIN-ENTITY self-join (equi on the entity key,
    ``item_a < item_b`` so each pair counts once) — quadratic only in
    the per-entity item count, which is the bounded dimension
    (catalog facets, event types), never in entities.  Item marginals
    broadcast back onto the k² pair rows.

    Returns (item_a, item_b, n_both, support, lift), pairs with
    ``n_both >= min_both``.
    """
    e = F.col(entity_col)
    i = F.col(item_col)
    inc = (
        df.filter(e.isNotNull() & i.isNotNull())
        .select(e.alias("__e"), i.alias("__i"))
        .distinct()
    )
    u_row = inc.select("__e").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("__u")
    )
    item_counts = inc.groupBy("__i").agg(
        F.count(F.lit(1)).alias("__ci")
    )
    lhs = inc.select("__e", F.col("__i").alias("item_a"))
    rhs = inc.select("__e", F.col("__i").alias("item_b"))
    pairs = (
        lhs.join(rhs, "__e")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= int(min_both))
    )
    ca = item_counts.select(
        F.col("__i").alias("item_a"), F.col("__ci").alias("__ca")
    )
    cb = item_counts.select(
        F.col("__i").alias("item_b"), F.col("__ci").alias("__cb")
    )
    joined = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(u_row))
    )
    return joined.select(
        "item_a",
        "item_b",
        "n_both",
        F.round(F.col("n_both").cast("double") / F.col("__u"), 6).alias(
            "support"
        ),
        F.round(
            F.col("__u")
            * F.col("n_both")
            / (F.col("__ca").cast("double") * F.col("__cb")),
            4,
        ).alias("lift"),
    )


def behavior_entropy(
    df: DataFrame,
    entity_col: str,
    action_col: str,
) -> DataFrame:
    """Shannon entropy of each entity's action distribution (bits) —
    the behavioral-diversity fingerprint (entropy ≈ 0: single-action
    bots and scrapers; high entropy: organically mixed usage), the
    per-entity complement of the corpus-level token entropy.

    Scale shape: two stacked hash aggregates — (entity, action)
    counts, then the per-entity entropy fold — shuffle volume is the
    incidence table, never the event grain twice.  Shares are rounded
    to 6 decimals FIRST (cross-engine determinism).

    Returns (entity, n_actions, n_distinct, entropy_bits).
    """
    e = F.col(entity_col)
    a = F.col(action_col)
    counts = (
        df.filter(e.isNotNull() & a.isNotNull())
        .groupBy(e.alias("__e"), a.alias("__a"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("__e")
    share = F.round(
        F.col("__c").cast("double") / F.sum("__c").over(w), 6
    )
    staged = counts.withColumn("__p", share)
    term = F.when(F.col("__p") > 0, -F.col("__p") * F.log2("__p")).otherwise(
        F.lit(0.0)
    )
    return (
        staged.groupBy(F.col("__e").alias(entity_col))
        .agg(
            F.sum("__c").alias("n_actions"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.sum(term), 6).alias("entropy_bits"),
        )
    )


def markov_next_accuracy(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Backtest of the first-order Markov next-event predictor: learn
    argmax P(next | current) from the observed transition counts, then
    score it on every transition — the honesty check that should
    accompany any transition-matrix readout (a matrix nobody validates
    predicts nothing).

    In-sample by design (the standard quick look); feed a train/test
    split upstream for out-of-sample rigor.  Prediction ties break to
    the lexicographically smallest next state (deterministic).

    Scale shape: one lag window per entity builds the transition
    pairs (single shuffle on the entity key); counts collapse to the
    state-domain-squared cell table; the argmax is a window over
    those k² rows; scoring is one broadcast join of the k-row policy
    back onto the pairs.

    Returns one row per current state plus the overall row
    (state = '(all)'): (state, predicted_next, n_transitions, n_hits,
    accuracy).
    """
    e = F.col(entity_col)
    order = [F.col(time_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(e).orderBy(*order)
    pairs = (
        df.filter(e.isNotNull() & F.col(state_col).isNotNull())
        .withColumn("__next", F.lead(state_col).over(w))
        .filter(F.col("__next").isNotNull())
        .select(F.col(state_col).alias("__cur"), "__next")
    )
    cells = pairs.groupBy("__cur", "__next").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_best = Window.partitionBy("__cur").orderBy(
        F.col("__c").desc(), F.col("__next").asc()
    )
    policy = (
        cells.withColumn("__rk", F.row_number().over(w_best))
        .filter(F.col("__rk") == 1)
        .select("__cur", F.col("__next").alias("predicted_next"))
    )
    scored = pairs.join(F.broadcast(policy), "__cur").select(
        "__cur",
        "predicted_next",
        (F.col("__next") == F.col("predicted_next")).cast("long").alias(
            "__hit"
        ),
    )
    per_state = scored.groupBy(
        F.col("__cur").alias("state"), "predicted_next"
    ).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("__hit").alias("n_hits"),
    )
    overall = scored.agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("__hit").alias("n_hits"),
    ).select(
        F.lit("(all)").alias("state"),
        F.lit(None).cast("string").alias("predicted_next"),
        "n_transitions",
        "n_hits",
    )
    out = per_state.unionByName(overall)
    return out.select(
        "state",
        "predicted_next",
        "n_transitions",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_transitions"), 6
        ).alias("accuracy"),
    )


MARKOV_START = "__START__"
MARKOV_CONV = "__CONV__"
MARKOV_NULL = "__NULL__"


def markov_journey_edges(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    channel_col: str,
    conversion: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Collapse raw events to the Markov-attribution transition-
    probability cells: per entity, the ordered pre-conversion touch
    sequence becomes START→first, touch→touch, and last→CONV/NULL
    edges; probabilities are per-source-normalized counts rounded to
    6 decimals.

    Touches are events of any non-conversion channel strictly BEFORE
    the entity's first conversion (all of them for non-converters);
    a converter whose first event is the conversion contributes the
    bare START→CONV edge.

    Scale shape: one min-aggregate for conversion times, one lag/lead
    window per entity (single shuffle on the key), then the count
    collapse to the (channels+2)² cell table — the ONLY thing that
    leaves the corpus grain.  The conversion-time table is
    CONVERTER-cardinality (per-entity, not dimension-bounded), so its
    join is left UNHINTED — the planner (AQE) broadcasts it only when
    runtime stats say it fits, and shuffle-joins on the entity key
    otherwise.

    Returns (src, dst, n_edges, p).
    """
    return _markov_cells_and_converters(
        df, entity_col, time_col, channel_col, conversion, tiebreak_col
    )[0]


def _markov_cells_and_converters(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    channel_col: str,
    conversion: str,
    tiebreak_col: str | None,
) -> tuple[DataFrame, int]:
    """:func:`markov_journey_edges`'s cells and the distinct-converter
    count, which markov_attribution scales its shares by."""
    e = F.col(entity_col)
    order = [F.col(time_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    # Converter-cardinality table referenced TWICE (the touches join
    # and the bare-converter anti-join — each re-derivation a corpus
    # filter+aggregate); one eager checkpoint runs it once.  The
    # NULL-entity filter matches the oracle's semantics on BOTH
    # consumers: count(DISTINCT user) ignores NULLs and `NOT IN`
    # excludes a NULL probe, while the touches equi-join never matched
    # a NULL key anyway.  The row count rides the checkpoint job as an
    # Observation: it IS the oracle's distinct-converter count
    # (r13 derived n_conv from summed CONV edges instead, which
    # silently dropped converters whose conversion events all carry
    # NULL timestamps — the r13 advice item; this restores the
    # distinct-entity semantics for free).
    conv_ts, m = checkpoint(
        df.filter((F.col(channel_col) == conversion) & e.isNotNull())
        .groupBy(e.alias("__e"))
        .agg(F.min(time_col).alias("__cts")),
        observe=F.count(F.lit(1)).alias("__n_conv"),
    )
    n_converters = int(m["__n_conv"] or 0)
    base = df.filter(
        e.isNotNull()
        & F.col(channel_col).isNotNull()
        & F.col(time_col).isNotNull()
    )
    touches = (
        base.join(conv_ts, e == F.col("__e"), "left")
        .filter(
            (F.col(channel_col) != conversion)
            & (
                F.col("__cts").isNull()
                | (F.col(time_col) < F.col("__cts"))
            )
        )
        .select(
            e.alias("__u"),
            F.col(time_col).alias("__t"),
            *( [F.col(tiebreak_col).alias("__tb")] if tiebreak_col else [] ),
            F.col(channel_col).alias("__ch"),
            F.col("__cts").isNotNull().alias("__converted"),
        )
    )
    w_order = [F.col("__t").asc()] + (
        [F.col("__tb").asc()] if tiebreak_col else []
    )
    w = Window.partitionBy("__u").orderBy(*w_order)
    w_all = Window.partitionBy("__u")
    # r13 optimization round: seq is referenced FOUR times (starts,
    # mids, ends, and — via touches — the bare-converter anti-join);
    # without materialization the conv-time join + ordered window
    # pipeline re-executes per reference.  One eager checkpoint of the
    # windowed sequence runs the corpus pass once (guide §1.2).
    seq = checkpoint(
        touches.withColumn("__rn", F.row_number().over(w))
        .withColumn("__nxt", F.lead("__ch").over(w))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
    )
    starts = seq.filter(F.col("__rn") == 1).select(
        F.lit(MARKOV_START).alias("src"), F.col("__ch").alias("dst")
    )
    mids = seq.filter(F.col("__nxt").isNotNull()).select(
        F.col("__ch").alias("src"), F.col("__nxt").alias("dst")
    )
    ends = seq.filter(F.col("__rn") == F.col("__n")).select(
        F.col("__ch").alias("src"),
        F.when(F.col("__converted"), F.lit(MARKOV_CONV))
        .otherwise(F.lit(MARKOV_NULL))
        .alias("dst"),
    )
    # converters whose first event IS the conversion: bare START->CONV
    # (touched rows == seq rows, so derive it from the checkpoint)
    touched = seq.select("__u").distinct()
    bare = (
        conv_ts.join(
            touched, F.col("__e") == touched["__u"], "left_anti"
        ).select(
            F.lit(MARKOV_START).alias("src"),
            F.lit(MARKOV_CONV).alias("dst"),
        )
    )
    edges = starts.unionByName(mids).unionByName(ends).unionByName(bare)
    counts = edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    w_src = Window.partitionBy("src")
    result = counts.withColumn(
        "p",
        F.round(
            F.col("n_edges").cast("double") / F.sum("n_edges").over(w_src),
            6,
        ),
    )
    return result, n_converters


def _markov_value_iteration(
    probs: dict[tuple[str, str], float],
    channels: list[str],
    removed: str | None,
    iterations: int,
) -> float:
    """Fixed-iteration conversion-probability solve, arithmetic-
    deterministic: per state the update is the LEFT-ASSOCIATIVE sum
    ``p(s→CONV)·1 + Σ_ch p(s→ch)·v_ch`` in declared channel order,
    rounded to 9 decimals — the exact expression the generated DuckDB
    oracle evaluates, so both engines produce identical doubles."""

    def pr(s: str, t: str) -> float:
        if removed is not None and (s == removed or t == removed):
            return 0.0
        return probs.get((s, t), 0.0)

    states = [MARKOV_START] + [c for c in channels if c != removed]
    v = {c: 0.0 for c in channels}
    for _ in range(iterations):
        new = {}
        for s in states:
            acc = pr(s, MARKOV_CONV) * 1.0
            for ch in channels:
                acc = acc + pr(s, ch) * v.get(ch, 0.0)
            new[s] = round(acc, 9)
        for s in states:
            if s != MARKOV_START:
                v[s] = new[s]
        v_start = new[MARKOV_START]
    return v_start


def markov_attribution(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    channel_col: str,
    conversion: str,
    channels: list[str],
    tiebreak_col: str | None = None,
    iterations: int = 100,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014) — the
    data-driven multi-touch model that asks, channel by channel,
    "how much conversion probability disappears if this channel's
    node is deleted from the journey graph?", then splits the
    observed conversions by normalized removal effect.  The principled
    upgrade over positional rules (linear/time-decay), sensitive to a
    channel's GRAPH position rather than its timestamps.

    Scale shape: the corpus collapses to the (channels+2)² transition
    cells via :func:`markov_journey_edges` (windows on the entity
    key); the absorbing-chain solves run DRIVER-SIDE on that
    dimension-bounded cell table (the graph union-find precedent —
    k+1 value iterations over ≤ (k+1) states each, microseconds for
    any realistic channel count).  ``channels`` is DECLARED, not
    inferred, pinning both the state order of the deterministic
    arithmetic and the removal-scenario set.

    Returns one row per channel: (channel, base_conv_prob,
    conv_prob_without, removal_effect, attribution_share,
    attributed_conversions).
    """
    if not channels:
        raise ValueError("channels must be non-empty")
    if conversion in channels:
        raise ValueError("conversion must not be listed in channels")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    cells, n_conv = _markov_cells_and_converters(
        df, entity_col, time_col, channel_col, conversion, tiebreak_col
    )
    # driver-side solve on the bounded cell table (collect is the
    # point: (k+2)^2 rows, never corpus grain)
    rows_c = cells.collect()
    probs = {(r["src"], r["dst"]): float(r["p"]) for r in rows_c}
    # Distinct-converter count (the oracle's count(DISTINCT entity)
    # over conversion events): rides the edge builder's conv_ts
    # checkpoint job as an Observation, so it costs no extra pass.
    # r13 summed CONV-edge counts instead, which misclassified
    # converters whose conversion events all carry NULL timestamps
    # (they end in __NULL__, not __CONV__) — the r13 advice item.
    base_v = _markov_value_iteration(probs, channels, None, iterations)
    rows = []
    res = []
    for ch in channels:
        v_wo = _markov_value_iteration(probs, channels, ch, iterations)
        re = (
            round(max(0.0, 1.0 - v_wo / base_v), 6)
            if base_v > 0
            else None
        )
        res.append((ch, v_wo, re))
    total_re = None
    if base_v > 0:
        acc = 0.0
        for _, _, re in res:
            acc = acc + re
        total_re = acc
    for ch, v_wo, re in res:
        share = (
            round(re / total_re, 6)
            if total_re is not None and total_re > 0
            else None
        )
        rows.append(
            (
                ch,
                round(base_v, 9),
                round(v_wo, 9),
                re,
                share,
                round(share * n_conv, 4) if share is not None else None,
            )
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        rows,
        "channel STRING, base_conv_prob DOUBLE, conv_prob_without "
        "DOUBLE, removal_effect DOUBLE, attribution_share DOUBLE, "
        "attributed_conversions DOUBLE",
    )
