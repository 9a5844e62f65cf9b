"""Query catalog — sequential monitors, attribution, k-paired tests (batches 28-37).

Each query is registered with its DuckDB oracle by one
``catalog.register`` call below its definition.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load_table, pin_read_confs, rebalance

from .catalog import register
from .business import (
    _ABC_A_CUT,
    _ABC_B_CUT,
)
from .stats_agreement import (
    ORACLE_PAGE_HINKLEY,
    _PH_DELTA,
    _PH_THRESHOLD,
)
from .stats_rank import (
    _multiple_testing_oracle,
    _sql_upper_tail,
)

# --- round-10 widening batch 28: streaming Page-Hinkley drift monitor


def _ph_series_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the DAY-grain per-type event-count series as a
    parquet dir for the file stream, whose declared schema needs a
    real timestamp ``t``."""
    import os
    import tempfile

    e = load_table(spark, sf_dir, "events")
    series = e.groupBy(
        F.col("event_type").alias("series_key"),
        F.to_date(F.col("ts")).cast("timestamp").alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    d = tempfile.mkdtemp(prefix="stream_ph_series_")
    series.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "series")
    )
    return os.path.join(d, "series")


def _stream_plan_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink streaming plan for q_streaming_page_hinkley: file
    stream over the day series -> applyInPandasWithState recursion
    (state = four scalars per key)."""
    from ..streaming.stateful import streaming_page_hinkley

    pin_read_confs(spark)
    src = _ph_series_stream_dir(spark, sf_dir)
    stream = spark.readStream.schema(
        "series_key STRING, t TIMESTAMP, x DOUBLE"
    ).parquet(src)
    return streaming_page_hinkley(
        stream, delta=_PH_DELTA, threshold=_PH_THRESHOLD
    )


def q_streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch page_hinkley query: the same
    day-grain series drained through the stateful recursion
    (``streaming.stateful.streaming_page_hinkley``) — shares the
    batch oracle, so the two formulations must agree exactly."""
    import tempfile

    from ..streaming import incremental

    agg = _stream_plan_page_hinkley(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_ph_ckpt_")
    incremental.run_to_memory_sink(
        agg, "stream_ph_out", ckpt, output_mode="append"
    )
    return spark.table("stream_ph_out").select(
        F.col("series_key").alias("event_type"),
        F.col("t").cast("date").alias("day"),
        F.col("x").alias("n_events"),
        "ph_stat",
        "drift",
    )


register("streaming_page_hinkley", q_streaming_page_hinkley,
         ORACLE_PAGE_HINKLEY, plan=_stream_plan_page_hinkley)


# --- round-10 widening batch 29: behavioral entropy, Markov backtest,
# --- peak detection, ratio-metric CI


def q_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user action-mix entropy over event types — two stacked
    aggregates, the bot-vs-organic diversity fingerprint
    (``funnels.behavior_entropy``)."""
    from ..operators.funnels import behavior_entropy

    e = rebalance(load_table(spark, sf_dir, "events"))
    return behavior_entropy(e, "user_id", "event_type")


ORACLE_BEHAVIOR_ENTROPY = """
WITH counts AS (
    SELECT user_id, event_type, count(*) AS c
    FROM events GROUP BY 1, 2
),
shares AS (
    SELECT user_id, c,
           round(c * 1.0 / sum(c) OVER (PARTITION BY user_id), 6) AS p
    FROM counts
)
SELECT user_id,
       CAST(sum(c) AS BIGINT) AS n_actions,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(sum(CASE WHEN p > 0 THEN -p * log2(p) ELSE 0.0 END), 6)
           AS entropy_bits
FROM shares GROUP BY 1
"""


def q_markov_next_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample accuracy of the argmax first-order Markov next-event
    predictor per user stream — lag pairs, cell-table argmax,
    broadcast policy join (``funnels.markov_next_accuracy``)."""
    from ..operators.funnels import markov_next_accuracy

    e = rebalance(load_table(spark, sf_dir, "events"))
    return markov_next_accuracy(
        e, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


ORACLE_MARKOV_NEXT = """
WITH pairs AS (
    SELECT event_type AS cur,
           lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
    FROM events
    QUALIFY nxt IS NOT NULL
),
cells AS (SELECT cur, nxt, count(*) AS c FROM pairs GROUP BY 1, 2),
policy AS (
    SELECT cur, nxt AS predicted_next FROM (
        SELECT *, row_number() OVER (PARTITION BY cur
            ORDER BY c DESC, nxt ASC) AS rk FROM cells)
    WHERE rk = 1
),
scored AS (
    SELECT pairs.cur, policy.predicted_next,
           CASE WHEN pairs.nxt = policy.predicted_next
                THEN 1 ELSE 0 END AS hit
    FROM pairs JOIN policy USING (cur)
),
per_state AS (
    SELECT cur AS state, predicted_next,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(hit) AS BIGINT) AS n_hits
    FROM scored GROUP BY 1, 2
),
overall AS (
    SELECT '(all)' AS state, CAST(NULL AS VARCHAR) AS predicted_next,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(hit) AS BIGINT) AS n_hits
    FROM scored
),
unioned AS (
    SELECT * FROM per_state UNION ALL SELECT * FROM overall
)
SELECT state, predicted_next, n_transitions, n_hits,
       round(n_hits * 1.0 / n_transitions, 6) AS accuracy
FROM unioned
"""


_PEAK_NEIGHBORS = 2
_PEAK_SIGMA = 1.0


def q_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local maxima of the DAILY event-value series per type (2
    neighbors each side, >= 1 sigma above the mean) — fixed-width
    window pair on one key shuffle (``windows.local_peaks``)."""
    from ..operators.windows import local_peaks

    e = rebalance(load_table(spark, sf_dir, "events"))
    series = e.groupBy(
        "event_type", F.to_date(F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    return local_peaks(
        series,
        "event_type",
        "day",
        "day_value",
        neighbors=_PEAK_NEIGHBORS,
        min_sigma=_PEAK_SIGMA,
    )


ORACLE_LOCAL_PEAKS = f"""
WITH s AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           round(sum(value), 4) AS day_value
    FROM events GROUP BY 1, 2
),
mom AS (
    SELECT event_type AS g, round(avg(day_value), 6) AS mu,
           round(stddev_samp(day_value), 6) AS sd
    FROM s GROUP BY 1
),
win AS (
    SELECT s.event_type, s.day, s.day_value, mom.mu, mom.sd,
           max(day_value) OVER wb AS maxb, count(day_value) OVER wb AS cntb,
           max(day_value) OVER wa AS maxa, count(day_value) OVER wa AS cnta
    FROM s JOIN mom ON s.event_type = mom.g
    WINDOW wb AS (PARTITION BY s.event_type ORDER BY s.day
                  ROWS BETWEEN {_PEAK_NEIGHBORS} PRECEDING
                  AND 1 PRECEDING),
           wa AS (PARTITION BY s.event_type ORDER BY s.day
                  ROWS BETWEEN 1 FOLLOWING
                  AND {_PEAK_NEIGHBORS} FOLLOWING)
)
SELECT event_type, day, day_value,
       round((day_value - mu) / sd, 6) AS z
FROM win
WHERE sd > 0 AND cntb = {_PEAK_NEIGHBORS} AND cnta = {_PEAK_NEIGHBORS}
  AND day_value > maxb AND day_value > maxa
  AND round((day_value - mu) / sd, 6) >= {_PEAK_SIGMA!r}
"""


def q_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for the per-user purchase-share ratio metric,
    arms = user-id parity (the randomization-unit-correct A/B
    machinery) — one unit collapse, one moment aggregate per arm
    (``stats.ratio_metric_ci``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    units = e.groupBy(
        F.col("user_id"),
        F.when(F.pmod(F.col("user_id"), 2) == 0, "even")
        .otherwise("odd")
        .alias("arm"),
    ).agg(
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).cast("double").alias("n_purchases"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
    )
    return stats.ratio_metric_ci(units, "arm", "n_purchases", "n_events")


ORACLE_RATIO_METRIC = """
WITH units AS (
    SELECT user_id,
           CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS DOUBLE) AS n,
           CAST(count(*) AS DOUBLE) AS d
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
           round(avg(n), 6) AS mn, round(avg(d), 6) AS md,
           round(var_samp(n), 6) AS vn, round(var_samp(d), 6) AS vd,
           round(covar_samp(n, d), 6) AS cnd
    FROM units GROUP BY 1
),
staged AS (
    SELECT arm, n_units,
           round(CASE WHEN md <> 0 THEN mn / md END, 6) AS ratio,
           mn, md, vn, vd, cnd
    FROM m
),
s2 AS (
    SELECT arm, n_units, ratio,
           round(CASE WHEN n_units > 1 AND ratio IS NOT NULL
                      AND (vn - 2 * ratio * cnd + ratio * ratio * vd)
                          / (n_units * md * md) >= 0
                 THEN sqrt((vn - 2 * ratio * cnd
                            + ratio * ratio * vd)
                           / (n_units * md * md)) END, 6) AS se
    FROM staged
)
SELECT arm, n_units, ratio, se,
       round(ratio - 1.96 * se, 6) AS ci_low,
       round(ratio + 1.96 * se, 6) AS ci_high
FROM s2
"""


register("behavior_entropy", q_behavior_entropy, ORACLE_BEHAVIOR_ENTROPY)
register("markov_next_accuracy", q_markov_next_accuracy, ORACLE_MARKOV_NEXT)
register("local_peaks", q_local_peaks, ORACLE_LOCAL_PEAKS)
register("ratio_metric_ci", q_ratio_metric_ci, ORACLE_RATIO_METRIC)


# --- round-10 widening batch 30: Markov removal-effect attribution


_MARKOV_CHANNELS = ["view", "click", "signup", "error"]
_MARKOV_ITER = 100


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over user journeys (channels
    = the four non-purchase event types) — corpus collapses to the
    (k+2)^2 transition cells, absorbing-chain solves run driver-side
    on that bounded table (``funnels.markov_attribution``)."""
    from ..operators.funnels import markov_attribution

    e = rebalance(load_table(spark, sf_dir, "events"))
    return markov_attribution(
        e,
        "user_id",
        "ts",
        "event_type",
        "purchase",
        channels=_MARKOV_CHANNELS,
        tiebreak_col="event_id",
        iterations=_MARKOV_ITER,
    )


def _markov_oracle() -> str:
    """Generate the DuckDB twin of q_markov_attribution: the SAME
    journey-edge construction, the SAME fixed-iteration value solve as
    a recursive CTE over ONE wide row per removal scenario — every
    sum is an explicit left-associative expression in declared channel
    order, so the doubles match the driver-side Python bit for bit."""
    chs = _MARKOV_CHANNELS
    srcs = ["__START__"] + chs
    tgts = ["__CONV__"] + chs

    def col(s: str, t: str) -> str:
        s_ = "start" if s == "__START__" else s
        t_ = "conv" if t == "__CONV__" else t
        return f"p_{s_}_{t_}"

    pivot_cols = ",\n           ".join(
        f"coalesce(max(CASE WHEN src = '{s}' AND dst = '{t}' "
        f"THEN p END), 0.0) AS {col(s, t)}"
        for s in srcs
        for t in tgts
    )
    v_cols = ["v_start"] + [f"v_{c}" for c in chs]
    init_vs = ", ".join(f"CAST(0.0 AS DOUBLE) AS {v}" for v in v_cols)

    def update(s: str) -> str:
        terms = [f"pv.{col(s, '__CONV__')} * 1.0"] + [
            f"pv.{col(s, c)} * it.v_{c}" for c in chs
        ]
        return "round(" + " + ".join(terms) + ", 9)"

    updates = ",\n           ".join(
        f"{update(s)} AS {v}"
        for s, v in zip(srcs, v_cols)
    )
    scen_union = " UNION ALL ".join(
        [f"SELECT '__NONE__' AS removed"]
        + [f"SELECT '{c}'" for c in chs]
    )
    wide_wo = ",\n           ".join(
        f"(SELECT v_start FROM final WHERE removed = '{c}') AS w_{c}"
        for c in chs
    )
    re_cols = ",\n           ".join(
        f"CASE WHEN v > 0 THEN round(greatest(0.0, 1.0 - w_{c} / v), 6)"
        f" END AS re_{c}"
        for c in chs
    )
    total_re = " + ".join(f"re_{c}" for c in chs)
    unpivot = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS channel, round(v, 9) AS base_conv_prob,
       round(w_{c}, 9) AS conv_prob_without,
       re_{c} AS removal_effect,
       CASE WHEN total_re > 0 THEN round(re_{c} / total_re, 6) END
           AS attribution_share,
       CASE WHEN total_re > 0
            THEN round(round(re_{c} / total_re, 6) * n_conv, 4) END
           AS attributed_conversions
FROM tot CROSS JOIN nconv"""
        for c in chs
    )
    return f"""
WITH RECURSIVE conv AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS cts
    FROM events GROUP BY 1
),
touches AS (
    SELECT e.user_id, e.ts, e.event_id, e.event_type AS ch,
           (conv.cts IS NOT NULL) AS converted
    FROM events e JOIN conv USING (user_id)
    WHERE e.event_type <> 'purchase'
      AND (conv.cts IS NULL OR e.ts < conv.cts)
),
seq AS (
    SELECT user_id, ch, converted,
           row_number() OVER w AS rn,
           lead(ch) OVER w AS nxt,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM touches
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
edges_raw AS (
    SELECT '__START__' AS src, ch AS dst FROM seq WHERE rn = 1
    UNION ALL
    SELECT ch, nxt FROM seq WHERE nxt IS NOT NULL
    UNION ALL
    SELECT ch, CASE WHEN converted THEN '__CONV__' ELSE '__NULL__' END
    FROM seq WHERE rn = n
    UNION ALL
    SELECT '__START__', '__CONV__'
    FROM conv
    WHERE cts IS NOT NULL
      AND user_id NOT IN (SELECT DISTINCT user_id FROM touches)
),
counts AS (
    SELECT src, dst, count(*) AS n_edges FROM edges_raw GROUP BY 1, 2
),
probs AS (
    SELECT src, dst,
           round(n_edges * 1.0
                 / sum(n_edges) OVER (PARTITION BY src), 6) AS p
    FROM counts
),
scenarios AS ({scen_union}),
adj AS (
    SELECT sc.removed, pr.src, pr.dst, pr.p
    FROM probs pr CROSS JOIN scenarios sc
    WHERE pr.src <> sc.removed AND pr.dst <> sc.removed
),
pmat AS MATERIALIZED (
    SELECT removed,
           {pivot_cols}
    FROM adj GROUP BY removed
),
it AS (
    SELECT 0 AS step, removed, {init_vs} FROM pmat
    UNION ALL
    SELECT it.step + 1, it.removed,
           {updates}
    FROM it JOIN pmat pv ON it.removed = pv.removed
    WHERE it.step < {_MARKOV_ITER}
),
final AS (SELECT * FROM it WHERE step = {_MARKOV_ITER}),
wide AS (
    SELECT (SELECT v_start FROM final WHERE removed = '__NONE__') AS v,
           {wide_wo}
),
re AS (
    SELECT v, {', '.join(f'w_{c}' for c in chs)},
           {re_cols}
    FROM wide
),
tot AS (SELECT *, {total_re} AS total_re FROM re),
nconv AS (
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_conv
    FROM events WHERE event_type = 'purchase'
)
{unpivot}
"""


register("markov_attribution", q_markov_attribution, _markov_oracle())


# --- round-10 widening batch 31: FD audit, 2-D histogram, QTE


def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the (false) contract "an order has one return flag" over
    lineitem — two stacked collapses, one summary row
    (``profiling.functional_dependency_audit``)."""
    from ..operators.profiling import functional_dependency_audit

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return functional_dependency_audit(li, ["l_orderkey"], "l_returnflag")


ORACLE_FD_AUDIT = """
WITH cells AS (
    SELECT l_orderkey, l_returnflag, count(*) AS c
    FROM lineitem GROUP BY 1, 2
),
per AS (
    SELECT l_orderkey, sum(c) AS rows_, count(*) AS nrhs
    FROM cells GROUP BY 1
),
m AS (
    SELECT CAST(sum(rows_) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(sum(CASE WHEN nrhs > 1 THEN rows_ ELSE 0 END)
               AS BIGINT) AS n_rows_violating
    FROM per
)
SELECT n_rows, n_groups, n_violating,
       round(CASE WHEN n_groups > 0
             THEN n_violating * 1.0 / n_groups END, 6)
           AS violation_share,
       n_rows_violating,
       round(CASE WHEN n_rows > 0
             THEN n_rows_violating * 1.0 / n_rows END, 6)
           AS row_violation_share
FROM m
"""


_H2D_XBINS = 10
_H2D_YBINS = 10


def q_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity x discount density grid over lineitem — the heatmap
    backend, cells bounded by bins^2 not rows
    (``stats.histogram2d``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.histogram2d(
        li, "l_quantity", "l_discount", _H2D_XBINS, _H2D_YBINS
    )


ORACLE_HISTOGRAM2D = f"""
WITH bounds AS (
    SELECT min(l_quantity) AS xlo, max(l_quantity) AS xhi,
           min(l_discount) AS ylo, max(l_discount) AS yhi
    FROM lineitem
),
cells AS (
    SELECT CASE WHEN xhi = xlo THEN 0 ELSE
               least(CAST(floor((l_quantity - xlo)
                     / ((xhi - xlo) / {_H2D_XBINS})) AS INTEGER),
                     {_H2D_XBINS} - 1) END AS x_bin,
           CASE WHEN yhi = ylo THEN 0 ELSE
               least(CAST(floor((l_discount - ylo)
                     / ((yhi - ylo) / {_H2D_YBINS})) AS INTEGER),
                     {_H2D_YBINS} - 1) END AS y_bin,
           xlo, xhi, ylo, yhi
    FROM lineitem CROSS JOIN bounds
)
SELECT x_bin, y_bin,
       round(xlo + x_bin * (xhi - xlo) / {_H2D_XBINS}, 6) AS x_lo,
       round(xlo + (x_bin + 1) * (xhi - xlo) / {_H2D_XBINS}, 6) AS x_hi,
       round(ylo + y_bin * (yhi - ylo) / {_H2D_YBINS}, 6) AS y_lo,
       round(ylo + (y_bin + 1) * (yhi - ylo) / {_H2D_YBINS}, 6) AS y_hi,
       CAST(count(*) AS BIGINT) AS n
FROM cells
GROUP BY 1, 2, xlo, xhi, ylo, yhi
"""


def q_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile treatment effects of urgent-vs-low priority on order
    totals — exact order statistics per arm, tau spine join
    (``stats.quantile_treatment_effect``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.quantile_treatment_effect(
        o, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW"
    )


ORACLE_QTE = """
WITH ranked AS (
    SELECT o_orderpriority AS g, o_totalprice AS x,
           row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC) AS r,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
taus AS (
    SELECT round(0.1 * i, 1) AS tau FROM range(1, 10) t(i)
),
hits AS (
    SELECT taus.tau, ranked.g, ranked.x, ranked.n
    FROM ranked JOIN taus
        ON ranked.r = CAST(ceil(ranked.n * taus.tau) AS BIGINT)
),
pivoted AS (
    SELECT tau,
           max(CASE WHEN g = '1-URGENT' THEN n END) AS n_a,
           max(CASE WHEN g = '5-LOW' THEN n END) AS n_b,
           round(max(CASE WHEN g = '1-URGENT' THEN x END), 6) AS q_a,
           round(max(CASE WHEN g = '5-LOW' THEN x END), 6) AS q_b
    FROM hits GROUP BY 1
)
SELECT tau, n_a, n_b, q_a, q_b, round(q_a - q_b, 6) AS qte
FROM pivoted
"""


register("fd_audit", q_fd_audit, ORACLE_FD_AUDIT)
register("histogram2d", q_histogram2d, ORACLE_HISTOGRAM2D)
register("quantile_treatment_effect", q_qte, ORACLE_QTE)


# --- round-10 widening batch 32: profit threshold sweep, weighted
# --- kappa, ABC-XYZ inventory matrix


_PC_TP, _PC_FP, _PC_FN = 10.0, 5.0, 2.0


def q_profit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-profit sweep of the discount-logit returns classifier
    (TP +10, FP -5, FN -2) — distinct-score collapse, one descending
    cumulative window, argmax flagged (``stats.profit_curve``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("l_discount") - 0.05) * 30.0)), 6
        ).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return stats.profit_curve(
        li, "score", "y", tp_value=_PC_TP, fp_cost=_PC_FP, fn_cost=_PC_FN
    )


ORACLE_PROFIT_CURVE = f"""
WITH scored AS (
    SELECT round(1.0 / (1.0 + exp(-(l_discount - 0.05) * 30.0)), 6)
               AS threshold,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
per AS (
    SELECT threshold, count(*) AS n, sum(y) AS p
    FROM scored GROUP BY 1
),
cum AS (
    SELECT threshold,
           sum(p) OVER w AS tp,
           sum(n) OVER w - sum(p) OVER w AS fp,
           sum(p) OVER () - sum(p) OVER w AS fn,
           sum(n) OVER () - sum(p) OVER ()
               - (sum(n) OVER w - sum(p) OVER w) AS tn
    FROM per
    WINDOW w AS (ORDER BY threshold DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
profits AS (
    SELECT threshold, tp, fp, fn, tn,
           round(CAST(tp * {_PC_TP!r} - fp * {_PC_FP!r}
                 - fn * {_PC_FN!r} + tn * 0.0 AS DOUBLE), 6) AS profit
    FROM cum
)
SELECT threshold, tp, fp, fn, tn, profit,
       row_number() OVER (ORDER BY profit DESC, threshold DESC) = 1
           AS is_best
FROM profits
"""


_WK_CATS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WK_PRICE_CUTS = [60000.0, 110000.0, 160000.0, 220000.0]


def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted kappa between the ordinal order priority and
    a price-derived ordinal tier — contingency collapse + k x k
    marginal cross join (``stats.weighted_kappa``)."""
    from ..operators import stats

    c1, c2, c3, c4 = _WK_PRICE_CUTS
    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        F.col("o_orderpriority").alias("rater_a"),
        F.when(F.col("o_totalprice") < c1, _WK_CATS[0])
        .when(F.col("o_totalprice") < c2, _WK_CATS[1])
        .when(F.col("o_totalprice") < c3, _WK_CATS[2])
        .when(F.col("o_totalprice") < c4, _WK_CATS[3])
        .otherwise(_WK_CATS[4])
        .alias("rater_b"),
    )
    return stats.weighted_kappa(o, "rater_a", "rater_b", _WK_CATS)


def _wkappa_oracle() -> str:
    c1, c2, c3, c4 = _WK_PRICE_CUTS
    idx_a = " ".join(
        f"WHEN o_orderpriority = '{c}' THEN {i}"
        for i, c in enumerate(_WK_CATS)
    )
    k = len(_WK_CATS)
    return f"""
WITH base AS (
    SELECT CASE {idx_a} END AS i,
           CASE WHEN o_totalprice < {c1!r} THEN 0
                WHEN o_totalprice < {c2!r} THEN 1
                WHEN o_totalprice < {c3!r} THEN 2
                WHEN o_totalprice < {c4!r} THEN 3
                ELSE 4 END AS j
    FROM orders
    WHERE o_orderpriority IN ({', '.join(f"'{c}'" for c in _WK_CATS)})
),
cells AS (SELECT i, j, count(*) AS c FROM base GROUP BY 1, 2),
ma AS (SELECT i, sum(c) AS ra FROM cells GROUP BY 1),
mb AS (SELECT j, sum(c) AS cb FROM cells GROUP BY 1),
n_row AS (SELECT sum(c) AS n FROM cells),
obs AS (
    SELECT sum((abs(i - j) * 1.0 / {k - 1})
               * (abs(i - j) * 1.0 / {k - 1}) * c) AS obs
    FROM cells
),
ex AS (
    SELECT sum((abs(ma.i - mb.j) * 1.0 / {k - 1})
               * (abs(ma.i - mb.j) * 1.0 / {k - 1})
               * CAST(ma.ra AS DOUBLE) * mb.cb) AS ex
    FROM ma CROSS JOIN mb
),
staged AS (
    SELECT CAST(n AS BIGINT) AS n,
           round(CASE WHEN n > 0 THEN obs / n END, 6) AS obs_penalty,
           round(CASE WHEN n > 0
                 THEN ex / (CAST(n AS DOUBLE) * n) END, 6)
               AS exp_penalty
    FROM n_row CROSS JOIN obs CROSS JOIN ex
)
SELECT n, obs_penalty, exp_penalty,
       round(CASE WHEN exp_penalty > 0
             THEN 1.0 - obs_penalty / exp_penalty END, 4) AS kappa_w
FROM staged
"""


def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (revenue Pareto) x XYZ (demand variability) inventory
    policy matrix per part — the composition of two verified
    classifiers joined on the part key, collapsed to the 9-cell
    policy table with revenue shares."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    vals = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
        ).alias("rev")
    )
    abc = stats.abc_classification(
        vals, "partkey", "rev", a_cut=_ABC_A_CUT, b_cut=_ABC_B_CUT,
        value_round=4,
    ).withColumnRenamed("key", "partkey")
    xyz = stats.xyz_classification(
        li.select(
            "l_partkey",
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .alias("month"),
            "l_quantity",
        ),
        "l_partkey",
        "month",
        "l_quantity",
    )
    joined = abc.join(
        xyz, abc["partkey"] == xyz["l_partkey"], "inner"
    )
    cellgrid = joined.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("value").alias("__rev"),
    )
    w_all = Window.partitionBy()
    return cellgrid.select(
        "abc_class",
        "xyz_class",
        "n_parts",
        F.round(
            F.col("__rev") / F.sum("__rev").over(w_all), 6
        ).alias("revenue_share"),
    )


ORACLE_ABC_XYZ = f"""
WITH v AS (
    SELECT l_partkey AS partkey,
           round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS value
    FROM lineitem GROUP BY 1
),
r AS (
    SELECT partkey, value,
           sum(value) OVER (ORDER BY value DESC, partkey ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
           sum(value) OVER () AS total
    FROM v
),
abc AS (
    SELECT partkey, value,
           CASE WHEN total > 0 AND cum / total <= {_ABC_A_CUT} THEN 'A'
                WHEN total > 0 AND cum / total <= {_ABC_B_CUT} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r
),
per AS (
    SELECT l_partkey AS item, date_trunc('month', l_shipdate) AS per,
           sum(CAST(round(l_quantity * 1000000) AS HUGEINT)) AS v
    FROM lineitem
    WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
    GROUP BY 1, 2
),
item AS (
    SELECT item, count(*) AS n_periods, sum(v) AS s, sum(v * v) AS s2
    FROM per GROUP BY 1
),
xyz AS (
    SELECT item,
           CASE WHEN CAST(s AS DOUBLE) / n_periods = 0 THEN NULL
                WHEN sqrt(greatest(CAST(s2 AS DOUBLE) / n_periods
                          - (CAST(s AS DOUBLE) / n_periods)
                            * (CAST(s AS DOUBLE) / n_periods), 0.0))
                     / abs(CAST(s AS DOUBLE) / n_periods) <= 0.5
                    THEN 'X'
                WHEN sqrt(greatest(CAST(s2 AS DOUBLE) / n_periods
                          - (CAST(s AS DOUBLE) / n_periods)
                            * (CAST(s AS DOUBLE) / n_periods), 0.0))
                     / abs(CAST(s AS DOUBLE) / n_periods) <= 1.0
                    THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM item
),
joined AS (
    SELECT abc.abc_class, xyz.xyz_class, abc.value
    FROM abc JOIN xyz ON abc.partkey = xyz.item
),
cellgrid AS (
    SELECT abc_class, xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           sum(value) AS rev
    FROM joined GROUP BY 1, 2
)
SELECT abc_class, xyz_class, n_parts,
       round(rev / sum(rev) OVER (), 6) AS revenue_share
FROM cellgrid
"""


register("profit_curve", q_profit_curve, ORACLE_PROFIT_CURVE)
register("weighted_kappa", q_weighted_kappa, _wkappa_oracle())
register("abc_xyz_matrix", q_abc_xyz_matrix, ORACLE_ABC_XYZ)


# --- round-10 widening batch 33: winnowing (MOSS) fingerprint overlap


_WIN_K, _WIN_W, _WIN_MAXDF, _WIN_MINSH = 3, 4, 10, 1
_WIN_SOURCES = ("src0", "src1", "src2", "src3")


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism-candidate pairs by shared winnowing fingerprints
    over four crawl sources — rightmost-min window selection, df-cap
    before the hash-group pairing (``text.winnow_overlap_pairs``)."""
    from ..operators.text import winnow_overlap_pairs

    d = rebalance(load_table(spark, sf_dir, "documents")).filter(
        F.col("source").isin(*_WIN_SOURCES)
    )
    return winnow_overlap_pairs(
        d,
        "doc_id",
        "text",
        k=_WIN_K,
        w=_WIN_W,
        min_shared=_WIN_MINSH,
        max_df=_WIN_MAXDF,
    )


ORACLE_WINNOW_OVERLAP = f"""
WITH toks AS (
    SELECT doc_id,
           generate_subscripts(string_split(lower(text), ' '), 1) AS pos,
           unnest(string_split(lower(text), ' ')) AS w
    FROM documents
    WHERE source IN ({', '.join(f"'{s}'" for s in _WIN_SOURCES)})
),
grams AS (
    SELECT doc_id, row_number() OVER win AS gpos,
           w || ' ' || lead(w, 1) OVER win || ' '
             || lead(w, 2) OVER win AS gram
    FROM toks WHERE w <> ''
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lead(w, 2) OVER win IS NOT NULL
),
hashed AS (
    SELECT doc_id, gpos,
           CAST('0x' || substr(md5('0:' || gram), 1, 15) AS BIGINT)
               AS h
    FROM grams
),
member AS (
    SELECT doc_id, gpos, h, gpos - r.i AS s
    FROM hashed CROSS JOIN range(0, {_WIN_W}) r(i)
    WHERE gpos - r.i >= 1
),
picked AS (
    SELECT doc_id, gpos, h
    FROM (
        SELECT doc_id, s, gpos, h,
               row_number() OVER (PARTITION BY doc_id, s
                   ORDER BY h ASC, gpos DESC) AS rn,
               count(*) OVER (PARTITION BY doc_id, s) AS wn
        FROM member
    )
    WHERE rn = 1 AND wn = {_WIN_W}
),
fps AS (SELECT DISTINCT doc_id, h FROM picked),
rare AS (
    SELECT h FROM fps GROUP BY h
    HAVING count(*) <= {_WIN_MAXDF}
),
kept AS (SELECT fps.doc_id, fps.h FROM fps JOIN rare USING (h))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WIN_MINSH}
"""


register("winnow_overlap", q_winnow_overlap, ORACLE_WINNOW_OVERLAP)


# --- round-10 widening batch 34: leave-one-source-out data valuation


_LOSO_EVAL = "src19"


def q_loso_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out unigram-LM valuation of the 19 training
    crawls against the held-out src19 slice — LOO models by count
    SUBTRACTION, one (sources x eval-vocab) scoring grid
    (``text.loso_source_value``)."""
    from ..operators.text import loso_source_value

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return loso_source_value(d, "source", "text", eval_source=_LOSO_EVAL)


ORACLE_LOSO_VALUE = f"""
WITH words AS (
    SELECT source AS s, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
),
clean AS (SELECT s, w FROM words WHERE w <> ''),
train AS (SELECT * FROM clean WHERE s <> '{_LOSO_EVAL}'),
eval_tf AS (
    SELECT w, count(*) AS tf FROM clean
    WHERE s = '{_LOSO_EVAL}' GROUP BY 1
),
per_src AS (SELECT s, w, count(*) AS c FROM train GROUP BY 1, 2),
totals AS (SELECT w, sum(c) AS cw FROM per_src GROUP BY 1),
gstats AS (
    SELECT count(*) AS n, count(DISTINCT w) AS v FROM train
),
src_n AS (SELECT s, sum(c) AS ns FROM per_src GROUP BY 1),
grid AS (
    SELECT src_n.s, e.w, e.tf,
           CAST(coalesce(t.cw, 0) AS DOUBLE) AS cw,
           CAST(coalesce(p.c, 0) AS DOUBLE) AS cs,
           CAST(src_n.ns AS DOUBLE) AS ns,
           CAST(gstats.n AS DOUBLE) AS n, CAST(gstats.v AS DOUBLE) AS v
    FROM src_n CROSS JOIN eval_tf e
    LEFT JOIN totals t ON e.w = t.w
    LEFT JOIN per_src p ON p.s = src_n.s AND p.w = e.w
    CROSS JOIN gstats
),
scored AS (
    SELECT s AS source,
           CAST(max(ns) AS BIGINT) AS n_train_tokens,
           CAST(sum(tf) AS BIGINT) AS n_eval_tokens,
           round(sum(tf * ln((cw - cs + 1.0) / (n - ns + v)))
                 / sum(tf), 6) AS loo_logprob,
           round(sum(tf * ln((cw + 1.0) / (n + v)))
                 / sum(tf), 6) AS full_logprob
    FROM grid GROUP BY 1
)
SELECT source, n_train_tokens, n_eval_tokens, loo_logprob,
       full_logprob,
       round(full_logprob - loo_logprob, 6) AS value
FROM scored
"""


register("loso_source_value", q_loso_value, ORACLE_LOSO_VALUE)


# --- round-10 widening batch 35: power planning, Holm step-down


_PP_MDE = 0.1


def q_ab_power_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power plan for a +10%-relative purchase-rate MDE from the
    even-user baseline arm — planning quantiles inlined from the
    driver-side Acklam inverse normal (``stats.ab_power_plan``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events")).select(
        F.when(F.pmod(F.col("user_id"), 2) == 0, "even")
        .otherwise("odd")
        .alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    return stats.ab_power_plan(e, "arm", "conv", "even", mde_rel=_PP_MDE)


def _power_plan_oracle() -> str:
    from ..operators.stats import norm_ppf

    z_a = norm_ppf(1 - 0.05 / 2)
    z_b = norm_ppf(0.8)
    upper = _sql_upper_tail("abs(znow)")
    return f"""
WITH m AS (
    SELECT CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END)
               AS BIGINT) AS n_a,
           CAST(count(CASE WHEN user_id % 2 <> 0 THEN 1 END)
               AS BIGINT) AS n_b,
           round(avg(CASE WHEN user_id % 2 = 0 THEN
                     CASE WHEN event_type = 'purchase'
                          THEN 1.0 ELSE 0.0 END END), 6) AS p_base
    FROM events
),
staged AS (
    SELECT n_a, n_b, p_base,
           round(least(p_base * {1.0 + _PP_MDE!r}, 0.999999), 6)
               AS p_target
    FROM m
),
calc AS (
    SELECT n_a, n_b, p_base, p_target,
           p_base * (1 - p_base) + p_target * (1 - p_target)
               AS var_sum,
           p_target - p_base AS delta,
           2.0 * n_a * n_b / (n_a + n_b) AS n_h
    FROM staged
),
znow_t AS (
    SELECT *,
           CASE WHEN n_a > 0 AND n_b > 0
                     AND sqrt(var_sum / n_h) > 0
                THEN abs(delta) / sqrt(var_sum / n_h) - {z_a!r}
           END AS znow
    FROM calc
)
SELECT n_a, n_b, p_base, p_target,
       round({z_a!r}, 6) AS z_alpha,
       round({z_b!r}, 6) AS z_power,
       CASE WHEN delta <> 0 AND p_base > 0 AND p_base < 1
            THEN CAST(ceil({(0.0 + (z_a + z_b) ** 2)!r} * var_sum
                      / (delta * delta)) AS BIGINT) END
           AS n_required_per_arm,
       round(CASE WHEN znow IS NULL THEN NULL
                  WHEN znow >= 0 THEN 1.0 - {upper}
                  ELSE {upper} END, 6) AS power_at_current_n
FROM znow_t
"""


def q_holm_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same one-vs-rest z sweep as multiple_testing, adjusted
    with HOLM step-down (FWER) instead of BH (FDR)
    (``stats.holm_adjust``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    zs = stats.one_vs_rest_rate_ztest(
        o, "o_orderpriority", (F.col("o_orderstatus") == "F")
    )
    with_p = stats.attach_pvalue(zs, "z", sided=2)
    return stats.holm_adjust(with_p, "p_value", alpha=0.05)


def _holm_oracle() -> str:
    upper = _sql_upper_tail("abs(z)")
    return f"""
WITH per AS (
    SELECT o_orderpriority, count(*) AS n,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS successes
    FROM orders
    WHERE o_orderpriority IS NOT NULL
    GROUP BY 1
),
tot AS (SELECT sum(n) AS nt, sum(successes) AS st FROM per),
zs AS (
    SELECT o_orderpriority, n,
           CAST(successes AS BIGINT) AS successes,
           round(CASE WHEN n > 0
                      THEN CAST(successes AS DOUBLE) / n END, 6)
               AS rate,
           round(CASE WHEN nt - n > 0
                      THEN CAST(st - successes AS DOUBLE) / (nt - n)
                 END, 6) AS rest_rate,
           round(CASE WHEN n > 0 AND nt - n > 0
                       AND (CAST(st AS DOUBLE) / nt)
                           * (1.0 - CAST(st AS DOUBLE) / nt)
                           * (1.0 / n + 1.0 / (nt - n)) > 0
                      THEN (CAST(successes AS DOUBLE) / n
                            - CAST(st - successes AS DOUBLE)
                              / (nt - n))
                           / sqrt((CAST(st AS DOUBLE) / nt)
                                  * (1.0 - CAST(st AS DOUBLE) / nt)
                                  * (1.0 / n + 1.0 / (nt - n)))
                 END, 6) AS z
    FROM per CROSS JOIN tot
),
withp AS (
    SELECT *,
           round(CASE WHEN z IS NOT NULL
                      THEN 2.0 * {upper} END, 6) AS p_value
    FROM zs
),
ranked AS (
    SELECT *,
           row_number() OVER (
               ORDER BY p_value, o_orderpriority, n, successes,
                        rate, rest_rate, z) AS rank,
           count(*) OVER () AS m
    FROM withp
    WHERE p_value IS NOT NULL
)
SELECT o_orderpriority, n, successes, rate, rest_rate, z, p_value,
       CAST(rank AS INTEGER) AS rank,
       round(max(least(1.0, p_value * (m - rank + 1))) OVER (
               ORDER BY rank ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS p_holm,
       round(max(least(1.0, p_value * (m - rank + 1))) OVER (
               ORDER BY rank ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) <= 0.05 AS reject
FROM ranked
"""


register("ab_power_plan", q_ab_power_plan, _power_plan_oracle())
register("holm_sweep", q_holm_sweep, _holm_oracle())


# --- round-10 widening batch 36: k-paired tests (Cochran Q, Friedman)


_CQ_T = ["disc_gate", "qty_gate", "tax_gate"]


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three deterministic "returned?" gates scored
    on the SAME lineitem rows — cell collapse + two block aggregates
    (``stats.cochran_q``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    y = F.col("l_returnflag") == "R"
    item = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    preds = F.array(
        F.struct(
            F.lit(_CQ_T[0]).alias("t"),
            ((F.col("l_discount") > 0.05) == y).cast("int").alias("ok"),
        ),
        F.struct(
            F.lit(_CQ_T[1]).alias("t"),
            ((F.col("l_quantity") > 25) == y).cast("int").alias("ok"),
        ),
        F.struct(
            F.lit(_CQ_T[2]).alias("t"),
            ((F.col("l_tax") > 0.04) == y).cast("int").alias("ok"),
        ),
    )
    scored = li.select(
        item.alias("item"), F.explode(preds).alias("p")
    ).select("item", F.col("p.t").alias("t"), F.col("p.ok").alias("ok"))
    return stats.cochran_q(scored, "item", "t", "ok", _CQ_T)


ORACLE_COCHRAN_Q = f"""
WITH scored AS (
    SELECT l_orderkey * 10 + l_linenumber AS item, '{_CQ_T[0]}' AS t,
           CASE WHEN (l_discount > 0.05) = (l_returnflag = 'R')
                THEN 1 ELSE 0 END AS ok
    FROM lineitem
    UNION ALL
    SELECT l_orderkey * 10 + l_linenumber, '{_CQ_T[1]}',
           CASE WHEN (l_quantity > 25) = (l_returnflag = 'R')
                THEN 1 ELSE 0 END
    FROM lineitem
    UNION ALL
    SELECT l_orderkey * 10 + l_linenumber, '{_CQ_T[2]}',
           CASE WHEN (l_tax > 0.04) = (l_returnflag = 'R')
                THEN 1 ELSE 0 END
    FROM lineitem
),
cells AS (
    SELECT item, t, max(ok) AS y FROM scored GROUP BY 1, 2
),
per_item AS (
    SELECT item, count(*) AS kt, sum(y) AS r FROM cells GROUP BY 1
),
item_m AS (
    SELECT CAST(sum(CASE WHEN kt = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_items,
           CAST(sum(CASE WHEN kt = 3 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_excluded,
           sum(CASE WHEN kt = 3 THEN r END) AS n_tot,
           sum(CASE WHEN kt = 3 THEN r * r END) AS r2
    FROM per_item
),
treat_m AS (
    SELECT sum(cj * cj) AS c2 FROM (
        SELECT cells.t, sum(cells.y) AS cj
        FROM cells JOIN per_item USING (item)
        WHERE per_item.kt = 3 GROUP BY 1
    )
)
SELECT n_items, n_excluded, CAST(3 AS BIGINT) AS k,
       round(CASE WHEN 3.0 * coalesce(n_tot, 0)
                       - coalesce(r2, 0) > 0
             THEN 2.0 * (3.0 * coalesce(c2, 0)
                         - CAST(coalesce(n_tot, 0) AS DOUBLE)
                           * coalesce(n_tot, 0))
                  / (3.0 * coalesce(n_tot, 0) - coalesce(r2, 0))
             END, 6) AS q_stat,
       CAST(2 AS BIGINT) AS dof
FROM item_m CROSS JOIN treat_m
"""


_FR_T = ["price_score", "inv_price_score", "calendar_score"]


def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of three deterministic scoring rules over
    the same orders — per-block rank windows over k rows
    (``stats.friedman_test``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    scores = F.array(
        F.struct(
            F.lit(_FR_T[0]).alias("t"),
            F.col("o_totalprice").alias("v"),
        ),
        F.struct(
            F.lit(_FR_T[1]).alias("t"),
            (500000.0 - F.col("o_totalprice")).alias("v"),
        ),
        F.struct(
            F.lit(_FR_T[2]).alias("t"),
            (F.dayofmonth("o_orderdate") * 10000.0).alias("v"),
        ),
    )
    scored = o.select(
        F.col("o_orderkey").alias("item"), F.explode(scores).alias("s")
    ).select("item", F.col("s.t").alias("t"), F.col("s.v").alias("v"))
    return stats.friedman_test(scored, "item", "t", "v", _FR_T)


ORACLE_FRIEDMAN = f"""
WITH scored AS (
    SELECT o_orderkey AS item, '{_FR_T[0]}' AS t,
           CAST(o_totalprice AS DOUBLE) AS v
    FROM orders
    UNION ALL
    SELECT o_orderkey, '{_FR_T[1]}', 500000.0 - o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey, '{_FR_T[2]}', day(o_orderdate) * 10000.0
    FROM orders
),
cells AS (
    SELECT item, t, round(avg(v), 6) AS v FROM scored GROUP BY 1, 2
),
per_item AS (SELECT item, count(*) AS kt FROM cells GROUP BY 1),
n_row AS (
    SELECT CAST(sum(CASE WHEN kt = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_items,
           CAST(sum(CASE WHEN kt = 3 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_excluded
    FROM per_item
),
ranked AS (
    SELECT cells.item, cells.t,
           rank() OVER (PARTITION BY cells.item ORDER BY cells.v ASC)
               * 1.0
           + (count(*) OVER (PARTITION BY cells.item, cells.v) - 1)
             / 2.0 AS r
    FROM cells JOIN per_item USING (item)
    WHERE per_item.kt = 3
),
sums AS (SELECT t, sum(r) AS s FROM ranked GROUP BY 1),
agg AS (SELECT sum(s * s) AS s2 FROM sums)
SELECT n_items, n_excluded, CAST(3 AS BIGINT) AS k,
       round(CASE WHEN n_items > 0
             THEN 12.0 / (CAST(n_items AS DOUBLE) * 3 * 4) * s2
                  - 3.0 * n_items * 4 END, 6) AS chi2_f,
       CAST(2 AS BIGINT) AS dof
FROM n_row CROSS JOIN agg
"""


register("cochran_q", q_cochran_q, ORACLE_COCHRAN_Q)
register("friedman", q_friedman, ORACLE_FRIEDMAN)


# --- round-10 widening batch 37: Cliff's delta, EWMA control chart


def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta for order totals, urgent vs low priority — the
    ordinal effect size from the mann-whitney value-bucket collapse
    (``stats.cliffs_delta``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.cliffs_delta(
        o, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW"
    )


ORACLE_CLIFFS_DELTA = """
WITH buckets AS (
    SELECT o_totalprice AS v,
           sum(CASE WHEN o_orderpriority = '1-URGENT'
               THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN o_orderpriority = '5-LOW'
               THEN 1 ELSE 0 END) AS b
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    GROUP BY 1
),
ranked AS (
    SELECT a, b,
           sum(a + b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (a + b - 1) / 2.0 AS r
    FROM buckets
),
m AS (
    SELECT CAST(sum(a) AS BIGINT) AS n_a,
           CAST(sum(b) AS BIGINT) AS n_b,
           sum(a * r) AS ra
    FROM ranked
),
d AS (
    SELECT n_a, n_b,
           round(CASE WHEN n_a > 0 AND n_b > 0
                 THEN 2.0 * (ra - n_a * (n_a + 1) / 2.0)
                      / (CAST(n_a AS DOUBLE) * n_b) - 1.0 END, 6)
               AS delta
    FROM m
)
SELECT n_a, n_b, delta,
       CASE WHEN delta IS NULL THEN NULL
            WHEN abs(delta) < 0.147 THEN 'negligible'
            WHEN abs(delta) < 0.33 THEN 'small'
            WHEN abs(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
"""


_EWCC_L = 3.0


def q_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily event-count series per type
    (alpha 0.5 — the bit-exact smoother; finite-horizon variance
    limits) — one cumulative window + broadcast moments
    (``stats.ewma_control_chart``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    series = e.groupBy(
        "event_type", F.to_date(F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return stats.ewma_control_chart(
        series, "event_type", "day", "n_events", alpha=0.5,
        l_sigma=_EWCC_L,
    )


ORACLE_EWMA_CHART = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS DOUBLE) AS n_events
    FROM events GROUP BY 1, 2
),
ranked0 AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY day) AS r,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM daily
),
mom AS (
    SELECT event_type AS g, round(avg(n_events), 6) AS mu,
           round(stddev_samp(n_events), 6) AS sd
    FROM ranked0 WHERE r <= ceil(n * 0.5) GROUP BY 1
),
idx AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
        ORDER BY day) - 1 AS i
    FROM daily
),
s AS (
    SELECT *,
           sum(n_events * power(2.0, i))
               OVER (PARTITION BY event_type ORDER BY i) AS num,
           sum(power(2.0, i))
               OVER (PARTITION BY event_type ORDER BY i) AS den
    FROM idx
),
chart AS (
    SELECT s.event_type, s.day, s.n_events,
           round(num / den, 6) AS ewma,
           round(mom.mu + {_EWCC_L!r} * mom.sd
                 * sqrt((0.5 / 1.5)
                        * (1.0 - power(0.5, 2 * (s.i + 1)))), 6)
               AS ucl,
           round(mom.mu - {_EWCC_L!r} * mom.sd
                 * sqrt((0.5 / 1.5)
                        * (1.0 - power(0.5, 2 * (s.i + 1)))), 6)
               AS lcl
    FROM s JOIN mom ON s.event_type = mom.g
    WHERE mom.sd > 0
)
SELECT event_type, day, n_events, ewma, ucl, lcl,
       (ewma > ucl OR ewma < lcl) AS out_of_control
FROM chart
"""


register("cliffs_delta", q_cliffs_delta, ORACLE_CLIFFS_DELTA)
register("ewma_control_chart", q_ewma_control_chart, ORACLE_EWMA_CHART)


# --- round-11 widening batch 38: exact small-count inference, extreme
# --- values, distribution-free quantile CIs


_FE_NATION = 7
_FE_SEGS = ("BUILDING", "MACHINERY")
_FE_BAL = 5000.0


def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact 2×2 on a deliberately SMALL slice (one nation,
    two market segments, high-balance success) — the regime where the
    z-test's asymptotics are invalid and exact enumeration is the
    only defensible p-value (``stats.fisher_exact``: cumulative
    log-factorial table + margin-preserving k enumeration, all
    in-plan)."""
    from ..operators import stats

    c = rebalance(load_table(spark, sf_dir, "customer"))
    sl = c.filter(F.col("c_nationkey") == _FE_NATION).select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") > _FE_BAL).cast("int").alias("rich"),
    )
    return stats.fisher_exact(sl, "seg", "rich", *_FE_SEGS)


ORACLE_FISHER = f"""
WITH cells AS (
    SELECT count(CASE WHEN c_mktsegment = '{_FE_SEGS[0]}'
                       AND c_acctbal > {_FE_BAL!r} THEN 1 END) AS a1,
           count(CASE WHEN c_mktsegment = '{_FE_SEGS[0]}'
                       AND c_acctbal <= {_FE_BAL!r} THEN 1 END) AS a0,
           count(CASE WHEN c_mktsegment = '{_FE_SEGS[1]}'
                       AND c_acctbal > {_FE_BAL!r} THEN 1 END) AS b1,
           count(CASE WHEN c_mktsegment = '{_FE_SEGS[1]}'
                       AND c_acctbal <= {_FE_BAL!r} THEN 1 END) AS b0
    FROM customer
    WHERE c_nationkey = {_FE_NATION} AND c_acctbal IS NOT NULL
          AND c_mktsegment IN ('{_FE_SEGS[0]}', '{_FE_SEGS[1]}')
),
m AS (
    SELECT *, a1 + a0 AS r1, b1 + b0 AS r2, a1 + b1 AS c1,
           a1 + a0 + b1 + b0 AS n
    FROM cells
),
lf AS (
    SELECT i,
           sum(CASE WHEN i > 0 THEN ln(i) ELSE 0.0 END)
               OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS lf
    FROM (SELECT unnest(generate_series(0, (SELECT n FROM m))) AS i)
),
ks AS (
    SELECT m.*, unnest(generate_series(
               greatest(0, c1 - r2), least(r1, c1))) AS k
    FROM m
),
scored AS (
    SELECT ks.*,
           round((SELECT lf FROM lf WHERE i = r1)
               + (SELECT lf FROM lf WHERE i = r2)
               + (SELECT lf FROM lf WHERE i = c1)
               + (SELECT lf FROM lf WHERE i = n - c1)
               - (SELECT lf FROM lf WHERE i = n)
               - (SELECT lf FROM lf WHERE i = k)
               - (SELECT lf FROM lf WHERE i = r1 - k)
               - (SELECT lf FROM lf WHERE i = c1 - k)
               - (SELECT lf FROM lf WHERE i = r2 - c1 + k), 9)
               AS logp,
           round((SELECT lf FROM lf WHERE i = r1)
               + (SELECT lf FROM lf WHERE i = r2)
               + (SELECT lf FROM lf WHERE i = c1)
               + (SELECT lf FROM lf WHERE i = n - c1)
               - (SELECT lf FROM lf WHERE i = n)
               - (SELECT lf FROM lf WHERE i = a1)
               - (SELECT lf FROM lf WHERE i = a0)
               - (SELECT lf FROM lf WHERE i = b1)
               - (SELECT lf FROM lf WHERE i = b0), 9)
               AS logobs
    FROM ks
)
SELECT CAST(a1 AS BIGINT) AS n_a_success,
       CAST(a0 AS BIGINT) AS n_a_fail,
       CAST(b1 AS BIGINT) AS n_b_success,
       CAST(b0 AS BIGINT) AS n_b_fail,
       round(least(sum(CASE WHEN logp <= logobs THEN exp(logp)
                            ELSE 0.0 END), 1.0), 6) AS p_value
FROM scored
GROUP BY 1, 2, 3, 4
"""


_GUM_PERIODS = (10, 50, 100)


def q_gumbel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel return levels for MONTHLY maximum order value — "what
    order size should the fraud ceiling expect once a decade?"
    (``stats.gumbel_return_levels``: block maxima + closed-form
    method-of-moments fit, engine-deterministic)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.gumbel_return_levels(
        o, "o_orderdate", "o_totalprice", block="month",
        periods=list(_GUM_PERIODS),
    )


_EULER_G = 0.5772156649015329
_GUM_C = 6.0**0.5 / 3.141592653589793

ORACLE_GUMBEL = f"""
WITH maxima AS (
    SELECT date_trunc('month', o_orderdate) AS blk,
           max(CAST(o_totalprice AS DOUBLE)) AS mx
    FROM orders
    WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    GROUP BY 1
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n_blocks,
           round(avg(mx), 6) AS m, round(stddev_samp(mx), 6) AS s
    FROM maxima
),
fit AS (
    SELECT n_blocks,
           CASE WHEN n_blocks >= 2 AND s > 0
                THEN round(s * {_GUM_C!r}, 6) END AS beta,
           m
    FROM mom
),
staged AS (
    SELECT n_blocks, round(m - {_EULER_G!r} * beta, 6) AS mu, beta
    FROM fit
)
SELECT period, n_blocks, mu, beta,
       round(mu - beta * ln(-ln(1.0 - 1.0 / period)), 6)
           AS return_level
FROM staged, (SELECT unnest([{", ".join(str(p) for p in _GUM_PERIODS)}]) AS period)
ORDER BY period
"""


_QCI_Q = 0.9
_QCI_CONF = 0.95


def q_quantile_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic CI for the p90 of lineitem quantity — the
    distribution-free rank bracket (``stats.quantile_order_ci``:
    histogram cumsum over 50 distinct values, binomial-rank bounds,
    no assumption on the value distribution)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.quantile_order_ci(
        li, "l_quantity", q=_QCI_Q, conf=_QCI_CONF
    )


def _quantile_ci_oracle() -> str:
    from ..operators.stats import norm_ppf

    z = norm_ppf(1.0 - (1.0 - _QCI_CONF) / 2.0)
    return f"""
WITH hist AS (
    SELECT CAST(l_quantity AS DOUBLE) AS v, count(*) AS c
    FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
),
cum AS (
    SELECT v, c,
           sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
           sum(c) OVER () AS n
    FROM hist
),
staged AS (
    SELECT v, cum, n,
           greatest(CAST(ceil(n * {_QCI_Q!r}
               - {z!r} * sqrt(n * {_QCI_Q!r} * {1.0 - _QCI_Q!r}))
               AS BIGINT), 1) AS lo_r,
           least(CAST(ceil(n * {_QCI_Q!r}
               + {z!r} * sqrt(n * {_QCI_Q!r} * {1.0 - _QCI_Q!r}))
               AS BIGINT), n) AS hi_r,
           greatest(CAST(ceil(n * {_QCI_Q!r}) AS BIGINT), 1) AS pt_r
    FROM cum
)
SELECT CAST(max(n) AS BIGINT) AS n,
       round({_QCI_Q!r}, 6) AS q,
       round({_QCI_CONF!r}, 6) AS conf,
       max(lo_r) AS lo_rank,
       max(hi_r) AS hi_rank,
       round(min(CASE WHEN cum >= lo_r THEN v END), 6) AS lo,
       round(min(CASE WHEN cum >= pt_r THEN v END), 6) AS point,
       round(min(CASE WHEN cum >= hi_r THEN v END), 6) AS hi
FROM staged
"""


register("fisher_exact", q_fisher_exact, ORACLE_FISHER)
register("gumbel_return_levels", q_gumbel_levels, ORACLE_GUMBEL)
register("quantile_order_ci", q_quantile_ci, _quantile_ci_oracle())


# --- round-11 widening batches 40-41: loso-driven mixture weights,
# --- variance homogeneity, continuous-rater reliability, BY-FDR


_MIX_TAU = 0.05


def q_loso_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixture weights FROM the leave-one-source-out values —
    the DoReMi-flavored step that turns data valuation into an
    actionable sampling policy: ``w_i = softmax(value_i / τ)`` with
    max-subtraction for numeric stability (identical arithmetic both
    engines).  Composes the loso grid with one 19-row window."""
    base = q_loso_value(spark, sf_dir).select("source", "value")
    w_all = Window.partitionBy()
    stab = F.exp(
        (F.col("value") - F.max("value").over(w_all)) / F.lit(_MIX_TAU)
    )
    staged = base.select("source", "value", stab.alias("__e"))
    return staged.select(
        "source",
        "value",
        F.round(F.col("__e") / F.sum("__e").over(w_all), 6).alias(
            "weight"
        ),
    )


def _loso_mixture_oracle() -> str:
    return f"""
WITH loso AS ({ORACLE_LOSO_VALUE.strip()}),
staged AS (
    SELECT source, value,
           exp((value - max(value) OVER ()) / {_MIX_TAU!r}) AS e
    FROM loso
)
SELECT source, value,
       round(e / sum(e) OVER (), 6) AS weight
FROM staged
"""


def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett variance homogeneity across return-flag groups of
    lineitem price — the high-power pre-ANOVA twin of the existing
    Brown-Forsythe row (``stats.bartlett_variance``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.bartlett_variance(li, "l_returnflag", "l_extendedprice")


ORACLE_BARTLETT = """
WITH per AS (
    SELECT l_returnflag AS g, count(*) AS n,
           round(var_samp(CAST(l_extendedprice AS DOUBLE)), 6) AS v
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
    GROUP BY 1
),
red AS (
    SELECT CAST(sum(CASE WHEN n >= 2 AND v > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS k,
           CAST(count(*) - sum(CASE WHEN n >= 2 AND v > 0
                                    THEN 1 ELSE 0 END)
                AS BIGINT) AS n_excluded_groups,
           CAST(sum(CASE WHEN n >= 2 AND v > 0 THEN n END)
                AS BIGINT) AS n,
           sum(CASE WHEN n >= 2 AND v > 0 THEN (n - 1) * v END)
               AS ssw,
           sum(CASE WHEN n >= 2 AND v > 0 THEN (n - 1) * ln(v) END)
               AS sumlog,
           sum(CASE WHEN n >= 2 AND v > 0 THEN 1.0 / (n - 1) END)
               AS suminv
    FROM per
)
SELECT k, n_excluded_groups, n,
       CAST(k - 1 AS BIGINT) AS dof,
       CASE WHEN k >= 2 AND n - k > 0 THEN
           round(((n - k) * ln(ssw / (n - k)) - sumlog)
                 / (1.0 + (suminv - 1.0 / (n - k))
                          / (3.0 * (k - 1))), 6)
       END AS t_stat
FROM red
"""


_ICC_K = 4


def q_icc_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1,1) over orders with exactly 4 line quotes (item = order,
    score = extended price) — how much of price variance is
    BETWEEN-order vs within (``stats.icc_oneway``, the
    continuous-score member of the agreement family)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.icc_oneway(
        li, "l_orderkey", "l_extendedprice", n_raters=_ICC_K
    )


ORACLE_ICC = f"""
WITH per AS (
    SELECT l_orderkey AS it, count(*) AS n,
           sum(CAST(l_extendedprice AS DOUBLE)) AS s,
           sum(CAST(l_extendedprice AS DOUBLE)
               * CAST(l_extendedprice AS DOUBLE)) AS ss
    FROM lineitem
    WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
    GROUP BY 1
),
red AS (
    SELECT CAST(sum(CASE WHEN n = {_ICC_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_items,
           CAST(count(*) - sum(CASE WHEN n = {_ICC_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_excluded_items,
           sum(CASE WHEN n = {_ICC_K} THEN s END) AS ts,
           sum(CASE WHEN n = {_ICC_K} THEN ss END) AS tss,
           sum(CASE WHEN n = {_ICC_K} THEN s * s / {float(_ICC_K)!r} END)
               AS sgrp
    FROM per
),
staged AS (
    SELECT n_items, n_excluded_items,
           CAST({_ICC_K} AS BIGINT) AS n_raters,
           CASE WHEN n_items >= 2 THEN
               round((sgrp - ts * ts / (n_items * {float(_ICC_K)!r}))
                     / (n_items - 1), 6) END AS ms_between,
           CASE WHEN n_items >= 1 THEN
               round((tss - sgrp)
                     / (n_items * {float(_ICC_K - 1)!r}), 6)
           END AS ms_within
    FROM red
)
SELECT *,
       CASE WHEN ms_between + {float(_ICC_K - 1)!r} * ms_within > 0
            THEN round((ms_between - ms_within)
                       / (ms_between
                          + {float(_ICC_K - 1)!r} * ms_within), 6)
       END AS icc
FROM staged
"""


def q_by_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-vs-rest z sweep under BENJAMINI–YEKUTIELI — the
    arbitrary-dependence-safe FDR control (one-vs-rest tests share
    the pooled rest, so BH's independence assumption is exactly what
    this sweep violates; ``stats.by_adjust``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    zs = stats.one_vs_rest_rate_ztest(
        o, "o_orderpriority", (F.col("o_orderstatus") == "F")
    )
    with_p = stats.attach_pvalue(zs, "z", sided=2)
    return stats.by_adjust(with_p, "p_value", alpha=0.05)


def _by_oracle() -> str:
    base = _multiple_testing_oracle().strip()
    # rewrite the BH tail into BY: same ranked CTE, q inflated by the
    # harmonic factor c(m), re-capped and re-flagged
    head, tail = base.rsplit("SELECT o_orderpriority", 1)
    return f"""{head}
, bh AS (
SELECT o_orderpriority{tail}
)
SELECT o_orderpriority, n, successes, rate, rest_rate, z, p_value,
       rank,
       round(least(q_value * (SELECT sum(1.0 / i)
                              FROM (SELECT unnest(range(1,
                                   (SELECT CAST(max(rank) AS BIGINT)
                                    FROM bh) + 1)) AS i)), 1.0), 6)
           AS q_value,
       round(least(q_value * (SELECT sum(1.0 / i)
                              FROM (SELECT unnest(range(1,
                                   (SELECT CAST(max(rank) AS BIGINT)
                                    FROM bh) + 1)) AS i)), 1.0), 6)
           <= 0.05 AS reject
FROM bh
"""


register("loso_mixture_weights", q_loso_mixture_weights,
         _loso_mixture_oracle())
register("bartlett_variance", q_bartlett, ORACLE_BARTLETT)
register("icc_reliability", q_icc_reliability, ORACLE_ICC)
register("by_sweep", q_by_sweep, _by_oracle())


# --- round-11 widening batch 42: queueing, stratified OR, Cronbach α


_EC_MU = 0.2
_EC_C = 4


def q_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing readout per event stream: arrival rate from
    the observed span, waiting probability and mean queue wait at 4
    servers of 0.2/min (``stats.erlang_c_wait`` — factorial series
    unrolled from driver-side ln k! literals)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    return stats.erlang_c_wait(e, "event_type", "ts", _EC_MU, _EC_C)


def _erlang_oracle() -> str:
    import math as _m

    c = _EC_C
    mu = _EC_MU
    lf = [_m.lgamma(k + 1) for k in range(c + 1)]
    series = " + ".join(
        f"exp({float(k)!r} * ln(a) - {lf[k]!r})" for k in range(c)
    )
    tail = f"exp({float(c)!r} * ln(a) - {lf[c]!r})"
    return f"""
WITH agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_arrivals,
           round((floor(epoch(max(ts))) - floor(epoch(min(ts))))
                 / 60.0, 6) AS span_min
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
),
lamt AS (
    SELECT *, round(CASE WHEN span_min > 0
                    THEN n_arrivals / span_min END, 6) AS lam
    FROM agg
),
at AS (SELECT *, round(lam / {mu!r}, 6) AS a FROM lamt),
rt AS (SELECT *, round(a / {float(c)!r}, 6) AS rho FROM at),
pw AS (
    SELECT *,
           CASE WHEN rho < 1.0 AND a > 0 THEN
               round(({tail})
                     / ((1.0 - rho) * ({series}) + ({tail})), 6)
           END AS p_wait
    FROM rt
)
SELECT event_type, n_arrivals, span_min, lam, a, rho, p_wait,
       CASE WHEN rho < 1.0 AND a > 0 THEN
           round(p_wait / ({float(c) * mu!r} - lam), 6)
       END AS avg_wait_min
FROM pw
"""


def q_mh_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio of F-status by customer-key
    parity, stratified on order priority — the Simpson's-paradox-safe
    pool next to the crude OR (``stats.mh_odds_ratio``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        "o_orderpriority",
        F.when(F.pmod(F.col("o_custkey"), 2) == 0, "even")
        .otherwise("odd")
        .alias("arm"),
        (F.col("o_orderstatus") == "F").cast("int").alias("f_status"),
    )
    return stats.mh_odds_ratio(
        o, "o_orderpriority", "arm", "f_status", "even", "odd"
    )


ORACLE_MH_ODDS = """
WITH cells AS (
    SELECT o_orderpriority AS s,
           count(CASE WHEN o_custkey % 2 = 0
                       AND o_orderstatus = 'F' THEN 1 END) AS a,
           count(CASE WHEN o_custkey % 2 = 0
                       AND o_orderstatus <> 'F' THEN 1 END) AS b,
           count(CASE WHEN o_custkey % 2 <> 0
                       AND o_orderstatus = 'F' THEN 1 END) AS c,
           count(CASE WHEN o_custkey % 2 <> 0
                       AND o_orderstatus <> 'F' THEN 1 END) AS d
    FROM orders
    WHERE o_orderpriority IS NOT NULL
    GROUP BY 1
),
red AS (
    SELECT CAST(count(*) AS BIGINT) AS k_strata,
           sum(a) AS sa, sum(b) AS sb, sum(c) AS sc, sum(d) AS sd,
           sum(round(a * d * 1.0 / (a + b + c + d), 9)) AS num,
           sum(round(b * c * 1.0 / (a + b + c + d), 9)) AS den
    FROM cells
)
SELECT k_strata,
       CASE WHEN sb > 0 AND sc > 0 AND sd > 0
            THEN round(sa * sd * 1.0 / (sb * sc), 6) END AS or_crude,
       CASE WHEN den > 0 THEN round(num / den, 6) END AS or_mh
FROM red
"""


_CA_K = 4


def q_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α over 4-line orders (subject = order, items = line
    positions 1..4, score = extended price) — internal consistency of
    the line-price battery (``stats.cronbach_alpha``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.cronbach_alpha(
        li, "l_orderkey", "l_linenumber", "l_extendedprice",
        n_items=_CA_K,
    )


ORACLE_CRONBACH = f"""
WITH base AS (
    SELECT l_orderkey AS subj, l_linenumber AS item,
           CAST(l_extendedprice AS DOUBLE) AS x
    FROM lineitem
    WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
          AND l_extendedprice IS NOT NULL
),
qual AS (
    SELECT subj, count(DISTINCT item) AS ki, count(*) AS ni
    FROM base GROUP BY 1
),
ok AS (SELECT subj FROM qual WHERE ki = {_CA_K} AND ni = {_CA_K}),
scored AS (SELECT base.* FROM base JOIN ok USING (subj)),
iv AS (
    SELECT round(sum(v), 6) AS sum_item_var FROM (
        SELECT item, round(var_samp(x), 6) AS v
        FROM scored GROUP BY 1
    )
),
tv AS (
    SELECT CAST(count(*) AS BIGINT) AS n_subjects,
           round(var_samp(tot), 6) AS total_var
    FROM (SELECT subj, sum(x) AS tot FROM scored GROUP BY 1)
)
SELECT tv.n_subjects,
       CAST((SELECT count(*) FROM qual) - tv.n_subjects AS BIGINT)
           AS n_excluded_subjects,
       CAST({_CA_K} AS BIGINT) AS k,
       iv.sum_item_var, tv.total_var,
       CASE WHEN tv.total_var > 0 THEN
           round({float(_CA_K) / (_CA_K - 1)!r}
                 * (1.0 - iv.sum_item_var / tv.total_var), 6)
       END AS alpha
FROM tv CROSS JOIN iv
"""


register("erlang_c", q_erlang_c, _erlang_oracle())
register("mh_odds_ratio", q_mh_odds, ORACLE_MH_ODDS)
register("cronbach_alpha", q_cronbach, ORACLE_CRONBACH)


# --- round-11 widening batch 43: paired + whole-distribution
# --- nonparametrics (Wilcoxon signed-rank, Cramér–von Mises)


def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank on paired line quantities (line 1 vs
    line 2 of the same order) — the paired nonparametric shift test
    with exact tie correction over the |d| histogram
    (``stats.wilcoxon_signed_rank``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    pairs = (
        li.filter(F.col("l_linenumber").isin([1, 2]))
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_linenumber") == 1, F.col("l_quantity"))
            ).alias("q1"),
            F.max(
                F.when(F.col("l_linenumber") == 2, F.col("l_quantity"))
            ).alias("q2"),
        )
        .filter(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    return stats.wilcoxon_signed_rank(pairs, "q1", "q2")


ORACLE_WILCOXON = """
WITH pairs AS (
    SELECT l_orderkey,
           max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS q1,
           max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS q2
    FROM lineitem WHERE l_linenumber IN (1, 2)
    GROUP BY 1
),
d AS (
    SELECT round(CAST(q2 AS DOUBLE) - q1, 9) AS d
    FROM pairs WHERE q1 IS NOT NULL AND q2 IS NOT NULL
),
nz AS (
    SELECT abs(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
    FROM d WHERE d <> 0
),
hist AS (SELECT ad, count(*) AS t, sum(pos) AS tp FROM nz GROUP BY 1),
cum AS (
    SELECT *,
           sum(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS c
    FROM hist
),
red AS (
    SELECT CAST(sum(t) AS BIGINT) AS n_pairs,
           round(sum((c - t + (t + 1) / 2.0) * tp), 6) AS w_plus,
           sum(t * t * t - t) AS ties
    FROM cum
),
staged AS (
    SELECT n_pairs,
           CAST((SELECT count(*) FROM d WHERE d = 0) AS BIGINT)
               AS n_zeros,
           w_plus,
           round(n_pairs * (n_pairs + 1) / 4.0, 6) AS mean_w,
           round(sqrt(n_pairs * (n_pairs + 1.0) * (2 * n_pairs + 1)
                      / 24.0 - ties / 48.0), 6) AS sigma_w
    FROM red
)
SELECT *,
       CASE WHEN sigma_w > 0
            THEN round((w_plus - mean_w) / sigma_w, 6) END AS z
FROM staged
"""


_CVM_A = "A"
_CVM_B = "R"


def q_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises on extended price between return
    flags A and R — the integrated-squared-gap drift test next to the
    per-source KS rows (``stats.cramer_von_mises``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.cramer_von_mises(
        li, "l_returnflag", "l_extendedprice", _CVM_A, _CVM_B
    )


ORACLE_CVM = f"""
WITH base AS (
    SELECT CASE WHEN l_returnflag = '{_CVM_A}' THEN 1 ELSE 0 END
               AS is_a,
           round(CAST(l_extendedprice AS DOUBLE), 9) AS x
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
          AND l_returnflag IN ('{_CVM_A}', '{_CVM_B}')
),
hist AS (SELECT x, count(*) AS t FROM base GROUP BY 1),
ranks AS (
    SELECT x,
           sum(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - t + (t + 1) / 2.0 AS r
    FROM hist
),
idx AS (
    SELECT base.is_a,
           pow(ranks.r - row_number() OVER (
               PARTITION BY base.is_a ORDER BY base.x), 2) AS sq
    FROM base JOIN ranks USING (x)
),
red AS (
    SELECT CAST(sum(CASE WHEN is_a = 1 THEN 1 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN is_a = 0 THEN 1 END) AS BIGINT) AS n_b,
           sum(CASE WHEN is_a = 1 THEN sq END) AS sa,
           sum(CASE WHEN is_a = 0 THEN sq END) AS sb
    FROM idx
),
staged AS (
    SELECT n_a, n_b,
           round(n_a * sa + n_b * sb, 6) AS u_stat
    FROM red
)
SELECT *,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
           round(u_stat / ((n_a + n_b) * 1.0 * n_a * n_b)
                 - (4.0 * n_a * n_b - 1) / (6.0 * (n_a + n_b)), 6)
       END AS t_stat
FROM staged
"""


register("wilcoxon_signed_rank", q_wilcoxon, ORACLE_WILCOXON)
register("cramer_von_mises", q_cvm, ORACLE_CVM)


# --- round-11 widening batch 44: ordered-alternative trend test


_JT_ORDER = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-trend test: does order VALUE rise
    across priority levels?  Pairwise Mann–Whitney counts from ONE
    pivoted value histogram (never row pairs), Lehmann tie-corrected
    variance (``stats.jonckheere_terpstra``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.jonckheere_terpstra(
        o, "o_orderpriority", "o_totalprice", _JT_ORDER
    )


def _jt_oracle() -> str:
    k = len(_JT_ORDER)
    cs = ",\n           ".join(
        f"sum(CASE WHEN o_orderpriority = '{gv}' THEN 1 ELSE 0 END)"
        f" AS c{i}"
        for i, gv in enumerate(_JT_ORDER)
    )
    lts = ",\n           ".join(
        f"coalesce(sum(c{i}) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) AS lt{i}"
        for i in range(k)
    )
    jt = " + ".join(
        f"c{j} * (lt{i} + c{i} / 2.0)"
        for i in range(k)
        for j in range(i + 1, k)
    )
    pooled = " + ".join(f"c{i}" for i in range(k))
    ns = ",\n           ".join(
        f"sum(c{i}) AS n{i}" for i in range(k)
    )
    nn = " + ".join(f"n{i}" for i in range(k))
    sum_sq = " + ".join(f"n{i} * n{i}" for i in range(k))
    sum_2535 = " + ".join(
        f"n{i} * (n{i} - 1) * (2 * n{i} + 5)" for i in range(k)
    )
    sum_012 = " + ".join(
        f"n{i} * (n{i} - 1) * (n{i} - 2)" for i in range(k)
    )
    sum_01 = " + ".join(f"n{i} * (n{i} - 1)" for i in range(k))
    return f"""
WITH base AS (
    SELECT o_orderpriority,
           round(CAST(o_totalprice AS DOUBLE), 9) AS x
    FROM orders
    WHERE o_totalprice IS NOT NULL
          AND o_orderpriority IN ({", ".join(f"'{g}'" for g in _JT_ORDER)})
),
hist AS (
    SELECT x,
           {cs}
    FROM base GROUP BY 1
),
cumt AS (
    SELECT *,
           {lts}
    FROM hist
),
red AS (
    SELECT round(sum({jt}), 6) AS jt_stat,
           {ns},
           sum(({pooled}) * (({pooled}) - 1)
               * (2 * ({pooled}) + 5)) AS t2535,
           sum(({pooled}) * (({pooled}) - 1)
               * (({pooled}) - 2)) AS t012,
           sum(({pooled}) * (({pooled}) - 1)) AS t01
    FROM cumt
),
m AS (
    SELECT jt_stat,
           CAST({nn} AS DOUBLE) AS nt,
           CAST({sum_sq} AS DOUBLE) AS ssq,
           CAST({sum_2535} AS DOUBLE) AS s2535,
           CAST({sum_012} AS DOUBLE) AS s012,
           CAST({sum_01} AS DOUBLE) AS s01,
           t2535, t012, t01
    FROM red
),
staged AS (
    SELECT CAST(nt AS BIGINT) AS n,
           CAST({k} AS BIGINT) AS k,
           jt_stat,
           round((nt * nt - ssq) / 4.0, 6) AS mean_jt,
           round(sqrt(
               (nt * (nt - 1) * (2 * nt + 5) - s2535 - t2535) / 72.0
               + (s012 * t012) / (36.0 * nt * (nt - 1) * (nt - 2))
               + (s01 * t01) / (8.0 * nt * (nt - 1))
           ), 6) AS sigma_jt
    FROM m
)
SELECT *,
       CASE WHEN sigma_jt > 0
            THEN round((jt_stat - mean_jt) / sigma_jt, 6) END AS z
FROM staged
"""


register("jonckheere_terpstra", q_jonckheere, _jt_oracle())


# --- round-11 widening batch 45: dose-response for proportions,
# --- exact ordinal association


def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend: does the F-status RATE trend across
    the five priority levels?  (``stats.cochran_armitage`` — one
    conditional aggregate, default 0..k−1 scores.)"""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("f_status"),
    )
    return stats.cochran_armitage(
        o, "o_orderpriority", "f_status", _JT_ORDER
    )


def _ca_oracle() -> str:
    score = "CASE " + " ".join(
        f"WHEN o_orderpriority = '{gv}' THEN {float(i)!r}"
        for i, gv in enumerate(_JT_ORDER)
    ) + " END"
    in_list = ", ".join(f"'{g}'" for g in _JT_ORDER)
    return f"""
WITH per AS (
    SELECT {score} AS s, count(*) AS n,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END)
               AS a
    FROM orders
    WHERE o_orderpriority IN ({in_list})
    GROUP BY 1
),
red AS (
    SELECT CAST(sum(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS k,
           sum(a) AS sa, sum(s * a) AS ssa,
           sum(s * n) AS ssn, sum(s * s * n) AS ss2n
    FROM per
),
staged AS (
    SELECT n, k,
           round(round(sa / n, 9), 6) AS p_pool,
           round(ssa - round(sa / n, 9) * ssn, 6) AS t_stat,
           round(sqrt(round(sa / n, 9) * (1.0 - round(sa / n, 9))
                      * (ss2n - ssn * ssn / n)), 6) AS sd
    FROM red
)
SELECT n, k, p_pool, t_stat,
       CASE WHEN sd > 0 THEN round(t_stat / sd, 6) END AS z
FROM staged
"""


_OA_ROWS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_OA_COLS = ["F", "O", "P"]


def q_ordinal_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma + both Somers' D directions between
    order priority (ordered) and order status — exact
    concordant/discordant counts over the 5×3 contingency grid,
    unrolled as plan constants (``stats.ordinal_association``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.ordinal_association(
        o, "o_orderpriority", "o_orderstatus", _OA_ROWS, _OA_COLS
    )


def _oa_oracle() -> str:
    kr, kc = len(_OA_ROWS), len(_OA_COLS)
    cs = ",\n           ".join(
        f"sum(CASE WHEN o_orderpriority = '{rv}' AND "
        f"o_orderstatus = '{cv}' THEN 1 ELSE 0 END) AS x_{i}_{j}"
        for i, rv in enumerate(_OA_ROWS)
        for j, cv in enumerate(_OA_COLS)
    )
    conc, disc, tr, tc, tot = [], [], [], [], []
    for i in range(kr):
        for j in range(kc):
            tot.append(f"x_{i}_{j}")
            for i2 in range(kr):
                for j2 in range(kc):
                    if i2 > i and j2 > j:
                        conc.append(f"x_{i}_{j} * x_{i2}_{j2}")
                    elif i2 > i and j2 < j:
                        disc.append(f"x_{i}_{j} * x_{i2}_{j2}")
            for j2 in range(j + 1, kc):
                tr.append(f"x_{i}_{j} * x_{i}_{j2}")
            for i2 in range(i + 1, kr):
                tc.append(f"x_{i}_{j} * x_{i2}_{j}")
    rows_in = ", ".join(f"'{g}'" for g in _OA_ROWS)
    cols_in = ", ".join(f"'{g}'" for g in _OA_COLS)
    return f"""
WITH cells AS (
    SELECT {cs}
    FROM orders
    WHERE o_orderpriority IN ({rows_in})
          AND o_orderstatus IN ({cols_in})
),
staged AS (
    SELECT CAST({" + ".join(tot)} AS BIGINT) AS n,
           CAST({" + ".join(conc)} AS BIGINT) AS n_concordant,
           CAST({" + ".join(disc)} AS BIGINT) AS n_discordant,
           CAST({" + ".join(tr)} AS BIGINT) AS ties_row,
           CAST({" + ".join(tc)} AS BIGINT) AS ties_col
    FROM cells
)
SELECT *,
       CASE WHEN n_concordant + n_discordant > 0 THEN
           round((n_concordant - n_discordant) * 1.0
                 / (n_concordant + n_discordant), 6) END AS gamma,
       CASE WHEN n_concordant + n_discordant + ties_col > 0 THEN
           round((n_concordant - n_discordant) * 1.0
                 / (n_concordant + n_discordant + ties_col), 6)
       END AS somers_d_col_given_row,
       CASE WHEN n_concordant + n_discordant + ties_row > 0 THEN
           round((n_concordant - n_discordant) * 1.0
                 / (n_concordant + n_discordant + ties_row), 6)
       END AS somers_d_row_given_col
FROM staged
"""


register("cochran_armitage", q_cochran_armitage, _ca_oracle())
register("ordinal_association", q_ordinal_assoc, _oa_oracle())


# --- round-11 widening batch 46: seasonality-safe trend, labeling
# --- budget allocation


def q_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann–Kendall on the monthly order-count series per
    priority — like-month-only pairs, so an annual cycle can't fake a
    trend (``stats.seasonal_mann_kendall``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    series = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    return stats.seasonal_mann_kendall(
        series, "o_orderpriority", "month", "n_orders"
    )


ORACLE_SEASONAL_MK = """
WITH s AS (
    SELECT o_orderpriority AS g, month(o_orderdate) AS season,
           date_trunc('month', o_orderdate) AS t,
           CAST(count(*) AS DOUBLE) AS v
    FROM orders GROUP BY 1, 2, 3
),
p AS (
    SELECT a.g, a.season,
           CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT)
               AS s_stat
    FROM s a JOIN s b ON a.g = b.g AND a.season = b.season
                      AND a.t < b.t
    GROUP BY 1, 2
),
n AS (
    SELECT g, season, CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY 1, 2
),
ties AS (
    SELECT g, season, sum(t * (t - 1) * (2 * t + 5)) AS tie
    FROM (SELECT g, season, v, count(*) AS t FROM s GROUP BY 1, 2, 3)
    GROUP BY 1, 2
),
per AS (
    SELECT n.g, n.season, n.n,
           coalesce(p.s_stat, 0) AS s_stat,
           round((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                  - CAST(coalesce(ties.tie, 0) AS DOUBLE)) / 18.0, 6)
               AS var_s
    FROM n LEFT JOIN p USING (g, season)
         LEFT JOIN ties USING (g, season)
),
red AS (
    SELECT g AS o_orderpriority,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_seasons,
           CAST(sum(s_stat) AS BIGINT) AS s_stat,
           round(sum(var_s), 6) AS var_s
    FROM per GROUP BY 1
)
SELECT o_orderpriority, n, n_seasons, s_stat, var_s,
       CASE WHEN var_s <= 0 THEN NULL
            WHEN s_stat > 0 THEN round((s_stat - 1) / sqrt(var_s), 6)
            WHEN s_stat < 0 THEN round((s_stat + 1) / sqrt(var_s), 6)
            ELSE 0.0 END AS z
FROM red
"""


_NEY_N = 1000


def q_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman labeling-budget allocation: split 1000 annotation slots
    across document sources by N_i·σ_i of text length — the
    big-AND-diverse strata get the labels
    (``stats.neyman_allocation``, largest-remainder integerization)."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "source", F.length("text").alias("text_len")
    )
    return stats.neyman_allocation(d, "source", "text_len", _NEY_N)


ORACLE_NEYMAN = f"""
WITH per AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pop,
           round(coalesce(stddev_samp(CAST(length(text) AS DOUBLE)),
                          0.0), 6) AS sd
    FROM documents
    WHERE source IS NOT NULL AND text IS NOT NULL
    GROUP BY 1
),
wt AS (SELECT *, round(n_pop * sd, 6) AS weight FROM per),
ideal_t AS (
    SELECT *,
           CASE WHEN sum(weight) OVER () > 0 THEN
               round({float(_NEY_N)!r} * weight
                     / sum(weight) OVER (), 6)
           ELSE 0.0 END AS ideal
    FROM wt
),
based AS (
    SELECT *,
           CAST(floor(ideal) AS BIGINT) AS base,
           ideal - floor(ideal) AS frac
    FROM ideal_t
),
ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY frac DESC, source ASC) AS rk,
           {_NEY_N} - sum(base) OVER () AS rem
    FROM based
)
SELECT source, n_pop, sd, weight, ideal,
       least(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END, n_pop)
           AS n_alloc
FROM ranked
"""


register("seasonal_mann_kendall", q_seasonal_mk, ORACLE_SEASONAL_MK)
register("neyman_allocation", q_neyman, ORACLE_NEYMAN)


# --- round-11 widening batch 47: VaR backtesting, Brier decomposition


_KP_THRESH = 400_000.0
_KP_P = 0.05


def q_kupiec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec POF backtest of a 5%-exceedance claim against the
    observed large-order breach series (``stats.kupiec_pof`` — one
    aggregate, log-space LR, χ²(1) convention)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        (F.col("o_totalprice") > _KP_THRESH).cast("int").alias("breach")
    )
    return stats.kupiec_pof(o, "breach", _KP_P)


def _kupiec_oracle() -> str:
    import math as _m

    p = _KP_P
    return f"""
WITH agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_totalprice > {_KP_THRESH!r}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breaches
    FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT n, n_breaches,
       round(n_breaches * 1.0 / n, 6) AS rate,
       round({p!r}, 6) AS p_expected,
       CASE WHEN n > 0 THEN round(-2.0 * (
           ((n - n_breaches) * {_m.log(1.0 - p)!r}
            + n_breaches * {_m.log(p)!r})
           - (CASE WHEN n_breaches < n
                   THEN (n - n_breaches)
                        * ln(1.0 - n_breaches * 1.0 / n)
                   ELSE 0.0 END
              + CASE WHEN n_breaches > 0
                     THEN n_breaches * ln(n_breaches * 1.0 / n)
                     ELSE 0.0 END)), 6)
       END AS lr_pof,
       CAST(1 AS BIGINT) AS dof
FROM agg
"""


_BD_BINS = 10


def q_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the
    discount-as-probability return-flag predictor — why the score is
    what it is: calibration gap vs discrimination vs base-rate floor
    (``stats.brier_decomposition``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.least(F.col("l_discount") * 10.0, F.lit(1.0)).alias("prob"),
        (F.col("l_returnflag") == "R").cast("int").alias("returned"),
    )
    return stats.brier_decomposition(
        li, "prob", "returned", n_bins=_BD_BINS
    )


ORACLE_BRIER_DECOMP = f"""
WITH base AS (
    SELECT least(CAST(floor(least(l_discount * 10.0, 1.0)
                            * {_BD_BINS}) AS INTEGER),
                 {_BD_BINS - 1}) AS b,
           least(l_discount * 10.0, 1.0) AS p,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
    FROM lineitem
    WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL
          AND l_discount * 10.0 >= 0
),
bins AS (
    SELECT b, count(*) AS n, avg(p) AS fp, avg(y) AS oy,
           avg(p * p) AS fp2, avg((p - y) * (p - y)) AS bs
    FROM base GROUP BY 1
),
red AS (
    SELECT CAST(sum(n) AS BIGINT) AS n,
           round(sum(n * oy) / sum(n), 9) AS obar,
           round(sum(n * bs) / sum(n), 6) AS brier,
           round(sum(n * (fp - oy) * (fp - oy)) / sum(n), 6)
               AS reliability,
           sum(n * oy) AS so,
           sum(n * (fp2 - fp * fp)) AS swb,
           sum(n * oy * oy) AS so2w,
           sum(n) AS nn
    FROM bins
)
SELECT n,
       round(obar, 6) AS base_rate,
       brier, reliability,
       round(so2w / nn - 2 * obar * so / nn + obar * obar, 6)
           AS resolution,
       round(obar * (1.0 - obar), 6) AS uncertainty,
       round(swb / nn, 6) AS within_bin_var
FROM red
"""


register("kupiec_pof", q_kupiec, _kupiec_oracle())
register("brier_decomposition", q_brier_decomp, ORACLE_BRIER_DECOMP)


# --- round-11 widening batch 48: Bradley–Terry preference strengths


_BT_ITERS = 20


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths over return-flag 'duels' (within each
    2-line order the pricier line's flag beats the cheaper line's) —
    the RLHF preference-data model, MM-iterated on the k²-bounded
    cell table with the PCA-style rounding discipline
    (``stats.bradley_terry``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    # (orderkey, linenumber) is NOT unique in the fixture: the struct
    # max takes the LEXICOGRAPHIC (price, flag) representative per
    # line slot — deterministic, and mirrored two-step in the oracle
    two = (
        li.filter(F.col("l_linenumber").isin([1, 2]))
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_linenumber") == 1,
                    F.struct("l_extendedprice", "l_returnflag"),
                )
            ).alias("a"),
            F.max(
                F.when(
                    F.col("l_linenumber") == 2,
                    F.struct("l_extendedprice", "l_returnflag"),
                )
            ).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a.l_extendedprice") != F.col("b.l_extendedprice"))
            & (F.col("a.l_returnflag") != F.col("b.l_returnflag"))
        )
    )
    duels = two.select(
        F.when(
            F.col("a.l_extendedprice") > F.col("b.l_extendedprice"),
            F.col("a.l_returnflag"),
        )
        .otherwise(F.col("b.l_returnflag"))
        .alias("winner"),
        F.when(
            F.col("a.l_extendedprice") > F.col("b.l_extendedprice"),
            F.col("b.l_returnflag"),
        )
        .otherwise(F.col("a.l_returnflag"))
        .alias("loser"),
    )
    return stats.bradley_terry(duels, "winner", "loser", iters=_BT_ITERS)


def _bt_oracle() -> str:
    head = """
WITH base AS MATERIALIZED (
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_linenumber IN (1, 2)
          AND l_extendedprice IS NOT NULL
          AND l_returnflag IS NOT NULL
),
rep AS MATERIALIZED (
    SELECT l_orderkey, l_linenumber,
           max(l_extendedprice) AS p
    FROM base GROUP BY 1, 2
),
repf AS MATERIALIZED (
    SELECT r.l_orderkey, r.l_linenumber, r.p,
           max(b.l_returnflag) AS f
    FROM rep r
    JOIN base b
      ON b.l_orderkey = r.l_orderkey
     AND b.l_linenumber = r.l_linenumber
     AND b.l_extendedprice = r.p
    GROUP BY 1, 2, 3
),
two AS MATERIALIZED (
    SELECT l_orderkey,
           max(CASE WHEN l_linenumber = 1 THEN p END) AS p1,
           max(CASE WHEN l_linenumber = 1 THEN f END) AS f1,
           max(CASE WHEN l_linenumber = 2 THEN p END) AS p2,
           max(CASE WHEN l_linenumber = 2 THEN f END) AS f2
    FROM repf
    GROUP BY 1
),
duels AS MATERIALIZED (
    SELECT CASE WHEN p1 > p2 THEN f1 ELSE f2 END AS w,
           CASE WHEN p1 > p2 THEN f2 ELSE f1 END AS l
    FROM two
    WHERE p1 IS NOT NULL AND p2 IS NOT NULL AND p1 <> p2
          AND f1 IS NOT NULL AND f2 IS NOT NULL AND f1 <> f2
),
cells AS MATERIALIZED (SELECT w, l, count(*) AS n FROM duels GROUP BY 1, 2),
items AS (
    SELECT DISTINCT it FROM (
        SELECT w AS it FROM cells UNION SELECT l FROM cells
    )
),
games AS MATERIALIZED (
    SELECT a.it AS i, b.it AS j,
           coalesce(cw.n, 0) + coalesce(cl.n, 0) AS nij,
           coalesce(cw.n, 0) AS wij
    FROM items a JOIN items b ON a.it <> b.it
    LEFT JOIN cells cw ON cw.w = a.it AND cw.l = b.it
    LEFT JOIN cells cl ON cl.w = b.it AND cl.l = a.it
),
wtot AS (
    SELECT i, sum(wij) AS w, sum(nij) AS g FROM games GROUP BY 1
),
it0 AS (SELECT it, 1.0 AS pi FROM items)"""
    steps = []
    for r in range(1, _BT_ITERS + 1):
        prev = f"it{r - 1}"
        steps.append(f""",
raw{r} AS MATERIALIZED (
    SELECT g.i AS it, max(wt.w) AS w,
           sum(CASE WHEN g.nij > 0
                    THEN g.nij / (pi_i.pi + pi_j.pi) END) AS den
    FROM games g
    JOIN {prev} pi_i ON pi_i.it = g.i
    JOIN {prev} pi_j ON pi_j.it = g.j
    JOIN wtot wt ON wt.i = g.i
    GROUP BY 1
),
val{r} AS MATERIALIZED (
    SELECT it,
           CASE WHEN den > 0 THEN w / den ELSE 0.0 END AS v
    FROM raw{r}
),
it{r} AS MATERIALIZED (
    SELECT it,
           round(CASE WHEN (SELECT avg(v) FROM val{r}) > 0
                      THEN v / (SELECT avg(v) FROM val{r})
                      ELSE 0.0 END, 9) AS pi
    FROM val{r}
)""")
    tail = f"""
SELECT items.it AS item,
       CAST(wtot.w AS BIGINT) AS n_wins,
       CAST(wtot.g AS BIGINT) AS n_games,
       round(it{_BT_ITERS}.pi, 6) AS strength
FROM items
JOIN wtot ON wtot.i = items.it
JOIN it{_BT_ITERS} ON it{_BT_ITERS}.it = items.it
"""
    return head + "".join(steps) + tail


register("bradley_terry", q_bradley_terry, _bt_oracle())


# --- round-11 widening batch 49: Weibull reliability fit, Chao1
# --- vocabulary richness


def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull (shape, scale) of fulfillment latency days per return
    flag via median-rank regression — is the latency tail
    infant-mortality or wear-out shaped?
    (``stats.weibull_fit_mrr``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        "l_returnflag",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("double")
        .alias("latency_days"),
    )
    return stats.weibull_fit_mrr(lat, "l_returnflag", "latency_days")


ORACLE_WEIBULL = """
WITH lat AS (
    SELECT l_returnflag AS g,
           CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE)
               AS t
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
pos AS (SELECT g, t FROM lat WHERE g IS NOT NULL AND t > 0),
ranked AS (
    SELECT g, ln(t) AS x,
           ln(-ln(1.0 - (row_number() OVER (
               PARTITION BY g ORDER BY t ASC) - 0.3)
               / (count(*) OVER (PARTITION BY g) + 0.4))) AS y
    FROM pos
),
mom AS (
    SELECT g AS l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           avg(x) AS mx, avg(y) AS my, avg(x * y) AS mxy,
           avg(x * x) AS mx2, avg(y * y) AS my2
    FROM ranked GROUP BY 1
),
fit AS (
    SELECT l_returnflag, n, mx, my,
           mxy - mx * my AS cov,
           mx2 - mx * mx AS vx,
           my2 - my * my AS vy,
           CASE WHEN n >= 3 AND mx2 - mx * mx > 0
                THEN round((mxy - mx * my) / (mx2 - mx * mx), 6)
           END AS shape
    FROM mom
)
SELECT l_returnflag, n, shape,
       CASE WHEN shape IS NOT NULL AND shape > 0 THEN
           round(exp(-(my - shape * mx) / shape), 6) END AS scale,
       CASE WHEN shape IS NOT NULL AND vy > 0 THEN
           round(cov * cov / (vx * vy), 6) END AS r2
FROM fit
"""


def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 asymptotic vocabulary size per source — how many word
    types the crawl hasn't seen yet, from singleton/doubleton counts
    (``stats.chao1_richness``)."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), "\\s+")
        ).alias("w"),
    ).filter(F.col("w") != "")
    return stats.chao1_richness(words, "source", "w")


ORACLE_CHAO1 = """
WITH words AS (
    SELECT source, unnest(string_split_regex(lower(trim(text)),
                                             '\\s+')) AS w
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
counts AS (
    SELECT source, w, count(*) AS c
    FROM words WHERE w <> '' GROUP BY 1, 2
),
red AS (
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS v_observed,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2
    FROM counts GROUP BY 1
),
staged AS (
    SELECT *,
           round(CASE WHEN f2 > 0
                      THEN v_observed + f1 * f1 * 1.0 / (2.0 * f2)
                      ELSE v_observed + f1 * (f1 - 1.0) / 2.0 END, 6)
               AS chao1
    FROM red
)
SELECT *,
       CASE WHEN chao1 > 0
            THEN round(v_observed / chao1, 6) END AS coverage
FROM staged
"""


register("weibull_fit", q_weibull_fit, ORACLE_WEIBULL)
register("chao1_richness", q_chao1, ORACLE_CHAO1)


# --- round-11 widening batch 50b: Storey q-values


def q_storey_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-vs-rest z sweep under STOREY q-values — BH with the
    null proportion estimated from the p > λ tail
    (``stats.storey_qvalue``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    zs = stats.one_vs_rest_rate_ztest(
        o, "o_orderpriority", (F.col("o_orderstatus") == "F")
    )
    with_p = stats.attach_pvalue(zs, "z", sided=2)
    return stats.storey_qvalue(with_p, "p_value", lambda_=0.5)


def _storey_oracle() -> str:
    base = _multiple_testing_oracle().strip()
    head, tail = base.rsplit("SELECT o_orderpriority", 1)
    return f"""{head}
, bh AS (
SELECT o_orderpriority{tail}
),
pi AS (
    SELECT round(least(
        sum(CASE WHEN p_value > 0.5 THEN 1 ELSE 0 END) * 1.0
        / (0.5 * max(rank)), 1.0), 6) AS pi0
    FROM bh
)
SELECT o_orderpriority, n, successes, rate, rest_rate, z, p_value,
       rank, pi.pi0,
       round(least(q_value * pi.pi0, 1.0), 6) AS q_value,
       round(least(q_value * pi.pi0, 1.0), 6) <= 0.05 AS reject
FROM bh CROSS JOIN pi
"""


register("storey_qvalue", q_storey_sweep, _storey_oracle())


# --- round-11 widening batch 51: Mood's median, Page's L


def q_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of extended price across return flags — the
    robustness-floor location test next to Kruskal–Wallis
    (``stats.moods_median``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.moods_median(li, "l_returnflag", "l_extendedprice")


ORACLE_MOODS = """
WITH base AS (
    SELECT l_returnflag AS g,
           round(CAST(l_extendedprice AS DOUBLE), 9) AS x
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
hist AS (SELECT x, count(*) AS c FROM base GROUP BY 1),
cum AS (
    SELECT x,
           sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cm,
           sum(c) OVER () AS n
    FROM hist
),
med AS (
    SELECT min(x) AS medv FROM cum WHERE cm >= ceil(n / 2.0)
),
per AS (
    SELECT g, count(*) AS ni,
           sum(CASE WHEN x > (SELECT medv FROM med)
                    THEN 1 ELSE 0 END) AS ai
    FROM base GROUP BY 1
),
red AS (
    SELECT CAST(sum(ni) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS k,
           sum(ai) AS a,
           sum(ai * ai * 1.0 / ni) AS sq
    FROM per
)
SELECT n, k,
       round((SELECT medv FROM med), 6) AS grand_median,
       CASE WHEN a > 0 AND a < n THEN
           round((sq - a * (a * 1.0 / n))
                 / ((a * 1.0 / n) * (1.0 - a * 1.0 / n)), 6)
       END AS chi2,
       CAST(k - 1 AS BIGINT) AS dof
FROM red
"""


def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L: does per-customer order value RISE across the five
    priority levels, blocked by customer (only customers who ordered
    at every priority count)?  (``stats.page_trend`` — the directed
    Friedman.)"""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.page_trend(
        o, "o_custkey", "o_orderpriority", "o_totalprice", _JT_ORDER
    )


def _page_oracle() -> str:
    k = len(_JT_ORDER)
    score = "CASE " + " ".join(
        f"WHEN t = '{gv}' THEN {float(i + 1)!r}"
        for i, gv in enumerate(_JT_ORDER)
    ) + " END"
    in_list = ", ".join(f"'{g}'" for g in _JT_ORDER)
    return f"""
WITH cells AS (
    SELECT o_custkey AS it, o_orderpriority AS t,
           round(avg(CAST(o_totalprice AS DOUBLE)), 6) AS v
    FROM orders
    WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
          AND o_orderpriority IN ({in_list})
    GROUP BY 1, 2
),
per_item AS (SELECT it, count(*) AS kt FROM cells GROUP BY 1),
ok AS (SELECT it FROM per_item WHERE kt = {k}),
ranked AS (
    SELECT c.it, c.t, c.v,
           rank() OVER (PARTITION BY c.it ORDER BY c.v ASC) AS r,
           count(*) OVER (PARTITION BY c.it, c.v) AS ties
    FROM cells c JOIN ok USING (it)
),
red AS (
    SELECT round(sum(({score}) * (r + (ties - 1) / 2.0)), 6)
               AS l_stat
    FROM ranked
),
counts AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ok) AS n_items,
           (SELECT CAST(count(*) AS BIGINT) FROM per_item)
               - (SELECT CAST(count(*) AS BIGINT) FROM ok)
               AS n_excluded
),
staged AS (
    SELECT counts.n_items, counts.n_excluded,
           CAST({k} AS BIGINT) AS k,
           red.l_stat,
           round(counts.n_items * {k} * {(k + 1) ** 2} / 4.0, 6)
               AS mean_l,
           round(sqrt(counts.n_items * {k * k} * {(k + 1) ** 2}
                      * {k - 1} / 144.0), 6) AS sigma_l
    FROM red CROSS JOIN counts
)
SELECT *,
       CASE WHEN sigma_l > 0
            THEN round((l_stat - mean_l) / sigma_l, 6) END AS z
FROM staged
"""


register("moods_median", q_moods_median, ORACLE_MOODS)
register("page_trend", q_page_trend, _page_oracle())


# --- round-11 widening batch 52: G-test, Cohen's h


def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of language × source independence — the additive
    log-likelihood twin of the chi_square driver row, over the same
    contingency table (``stats.g_test``)."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return stats.g_test(d, "lang", "source")


ORACLE_G_TEST = """
WITH cells AS (
    SELECT lang AS a, source AS b, count(*) AS o
    FROM documents
    WHERE lang IS NOT NULL AND source IS NOT NULL
    GROUP BY 1, 2
),
staged AS (
    SELECT o,
           sum(o) OVER (PARTITION BY a) AS ra,
           sum(o) OVER (PARTITION BY b) AS cb,
           sum(o) OVER () AS n,
           a, b
    FROM cells
),
red AS (
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(count(DISTINCT a) AS BIGINT) AS k_a,
           CAST(count(DISTINCT b) AS BIGINT) AS k_b,
           round(2.0 * sum(o * ln(o / (ra * 1.0 * cb / n))), 6)
               AS g_stat
    FROM staged
)
SELECT n, k_a, k_b, g_stat,
       CAST((k_a - 1) * (k_b - 1) AS BIGINT) AS dof
FROM red
"""


def q_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h for the even/odd-customer purchase-rate gap — the
    should-anyone-care readout next to the conversion z-test
    (``stats.cohens_h``)."""
    from ..operators import stats

    e = (
        rebalance(load_table(spark, sf_dir, "events"))
        # NULL discipline, mirrored verbatim in ORACLE_COHENS_H: rows
        # with NULL user_id or NULL event_type are excluded on BOTH
        # sides, so neither engine silently maps NULL into an arm or
        # a non-conversion.
        .filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            F.when(F.pmod(F.col("user_id"), 2) == 0, "even")
            .otherwise("odd")
            .alias("arm"),
            (F.col("event_type") == "purchase").cast("int").alias("conv"),
        )
    )
    return stats.cohens_h(e, "arm", "conv", "even", "odd")


ORACLE_COHENS_H = """
WITH agg AS (
    SELECT CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END)
               AS BIGINT) AS n_a,
           CAST(count(CASE WHEN user_id % 2 <> 0 THEN 1 END)
               AS BIGINT) AS n_b,
           round(avg(CASE WHEN user_id % 2 = 0 THEN
                     CASE WHEN event_type = 'purchase'
                          THEN 1.0 ELSE 0.0 END END), 6) AS p_a,
           round(avg(CASE WHEN user_id % 2 <> 0 THEN
                     CASE WHEN event_type = 'purchase'
                          THEN 1.0 ELSE 0.0 END END), 6) AS p_b
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
staged AS (
    SELECT *,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               round(2.0 * asin(sqrt(p_a))
                     - 2.0 * asin(sqrt(p_b)), 6) END AS h
    FROM agg
)
SELECT *,
       CASE WHEN h IS NULL THEN NULL
            WHEN abs(h) < 0.2 THEN 'negligible'
            WHEN abs(h) < 0.5 THEN 'small'
            WHEN abs(h) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM staged
"""


register("g_test", q_g_test, ORACLE_G_TEST)
register("cohens_h", q_cohens_h, ORACLE_COHENS_H)

