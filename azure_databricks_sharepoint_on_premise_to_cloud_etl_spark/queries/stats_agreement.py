"""Query catalog — agreement, drift, effect sizes, panels (batches 20-27).

Each query is registered with its DuckDB oracle by one
``catalog.register`` call below its definition.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load_table, rebalance

from .catalog import register
from .core import (
    _DUCK_COSINE,
)

# --- round-10 widening batch 20: agreement, proper scoring, WOE/IV,
# --- Mann-Kendall trend


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the recorded order status and a
    date-derived heuristic status — chance-corrected label agreement
    from one contingency collapse (``stats.cohens_kappa``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).withColumn(
        "heur_status",
        F.when(F.year("o_orderdate") < 1995, F.lit("F")).otherwise(
            F.lit("O")
        ),
    )
    return stats.cohens_kappa(o, "o_orderstatus", "heur_status")


ORACLE_COHENS_KAPPA = """
WITH base AS (
    SELECT o_orderstatus AS a,
           CASE WHEN year(o_orderdate) < 1995 THEN 'F' ELSE 'O' END AS b
    FROM orders
),
cells AS (SELECT a, b, count(*) AS c FROM base GROUP BY 1, 2),
ma AS (SELECT a AS cat, sum(c) AS ra FROM cells GROUP BY 1),
mb AS (SELECT b AS cat, sum(c) AS cb FROM cells GROUP BY 1),
e AS (
    SELECT sum(CAST(coalesce(ra, 0) AS DOUBLE)
               * CAST(coalesce(cb, 0) AS DOUBLE)) AS expnum
    FROM ma FULL OUTER JOIN mb USING (cat)
),
t AS (
    SELECT CAST(sum(c) AS BIGINT) AS n,
           sum(CASE WHEN a = b THEN c END) AS agree
    FROM cells
),
r AS (
    SELECT n,
           round(coalesce(agree, 0) / CAST(n AS DOUBLE), 6) AS p_observed,
           round(expnum / (CAST(n AS DOUBLE) * n), 6) AS p_expected
    FROM t CROSS JOIN e
)
SELECT n, p_observed, p_expected,
       round(CASE WHEN p_expected < 1.0
             THEN (p_observed - p_expected) / (1.0 - p_expected) END,
             4) AS kappa
FROM r
"""


def q_classification_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-loss + Brier score of a deterministic discount-logit
    "returned?" classifier over lineitem — both proper scoring rules
    in one conditional aggregate (``stats.classification_loss``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .alias("y"),
        F.round(
            1.0
            / (1.0 + F.exp(-(F.col("l_discount") - 0.05) * 30.0)),
            6,
        ).alias("p"),
    )
    return stats.classification_loss(li, "y", "p")


ORACLE_CLASSIFICATION_LOSS = """
WITH scored AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
           least(greatest(
               round(1.0 / (1.0 + exp(-(l_discount - 0.05) * 30.0)), 6),
               0.000001), 0.999999) AS p
    FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg(y), 6) AS base_rate,
       round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6) AS log_loss,
       round(avg((p - y) * (p - y)), 6) AS brier
FROM scored
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE encoding + Information Value of order priority against the
    finished-order label — one category collapse, smoothed cells
    (``stats.woe_iv``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .alias("finished"),
    )
    return stats.woe_iv(o, "o_orderpriority", "finished", smoothing=0.5)


ORACLE_WOE_IV = """
WITH per AS (
    SELECT o_orderpriority AS category,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                AS BIGINT) AS n_neg
    FROM orders GROUP BY 1
),
d AS (
    SELECT category, n, n_pos, n_neg,
           round((n_pos + 0.5)
                 / (sum(n_pos) OVER () + 0.5 * count(*) OVER ()), 6)
               AS dp,
           round((n_neg + 0.5)
                 / (sum(n_neg) OVER () + 0.5 * count(*) OVER ()), 6)
               AS dn
    FROM per
),
w AS (
    SELECT category, n, n_pos, n_neg, dp, dn,
           round(CASE WHEN dp > 0 AND dn > 0 THEN ln(dp / dn) END, 6)
               AS woe
    FROM d
),
iv AS (
    SELECT category, n, n_pos, n_neg, woe,
           round((dp - dn) * woe, 6) AS iv_term
    FROM w
)
SELECT category, n, n_pos, n_neg, woe, iv_term,
       round(sum(iv_term) OVER (), 6) AS iv_total
FROM iv
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the MONTHLY order-count
    series per priority class — corpus collapses to ~85 points per
    group first, then the within-group pair join is trivial
    (``stats.mann_kendall``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    series = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    return stats.mann_kendall(
        series, "o_orderpriority", "month", "n_orders"
    )


ORACLE_MANN_KENDALL = """
WITH s AS (
    SELECT o_orderpriority AS g,
           date_trunc('month', o_orderdate) AS t,
           CAST(count(*) AS DOUBLE) AS v
    FROM orders GROUP BY 1, 2
),
p AS (
    SELECT a.g,
           CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s_stat
    FROM s a JOIN s b ON a.g = b.g AND a.t < b.t
    GROUP BY 1
),
n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
ties AS (
    SELECT g, sum(t * (t - 1) * (2 * t + 5)) AS tie
    FROM (SELECT g, v, count(*) AS t FROM s GROUP BY 1, 2)
    GROUP BY 1
),
m AS (
    SELECT n.g, n.n,
           coalesce(p.s_stat, 0) AS s_stat,
           round((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                  - CAST(coalesce(ties.tie, 0) AS DOUBLE)) / 18.0, 6)
               AS var_s
    FROM n LEFT JOIN p USING (g) LEFT JOIN ties USING (g)
)
SELECT g AS o_orderpriority, n, s_stat, var_s,
       round(CASE
           WHEN var_s > 0 AND s_stat > 0
               THEN (s_stat - 1) / sqrt(var_s)
           WHEN var_s > 0 AND s_stat < 0
               THEN (s_stat + 1) / sqrt(var_s)
           WHEN var_s > 0 THEN 0.0 END, 4) AS z
FROM m
"""


register("cohens_kappa", q_cohens_kappa, ORACLE_COHENS_KAPPA)
register("classification_loss", q_classification_loss,
         ORACLE_CLASSIFICATION_LOSS)
register("woe_iv", q_woe_iv, ORACLE_WOE_IV)
register("mann_kendall", q_mann_kendall, ORACLE_MANN_KENDALL)


# --- round-10 widening batch 21: sequential drift, hazard curve,
# --- control-chart rules, categorical/continuous effect sizes


_PH_DELTA = 0.5
_PH_THRESHOLD = 20.0


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift monitor on the DAILY event-count
    series per event type — corpus collapses to the day grain first,
    then three stacked cumulative windows per series
    (``stats.page_hinkley``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    series = e.groupBy(
        "event_type",
        F.to_date(F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return stats.page_hinkley(
        series,
        "event_type",
        "day",
        "n_events",
        delta=_PH_DELTA,
        threshold=_PH_THRESHOLD,
    )


ORACLE_PAGE_HINKLEY = f"""
WITH s AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS DOUBLE) AS n_events
    FROM events GROUP BY 1, 2
),
t AS (
    SELECT event_type, day, n_events,
           round(n_events
                 - avg(n_events) OVER (PARTITION BY event_type
                       ORDER BY day ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - {_PH_DELTA!r}, 6) AS term
    FROM s
),
m AS (
    SELECT event_type, day, n_events,
           sum(term) OVER (PARTITION BY event_type ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
    FROM t
)
SELECT event_type, day, n_events,
       round(mm - min(mm) OVER (PARTITION BY event_type ORDER BY day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS ph_stat,
       (round(mm - min(mm) OVER (PARTITION BY event_type ORDER BY day ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        > {_PH_THRESHOLD!r}) AS drift
FROM m
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of time-to-first-purchase (same
    censoring-aware subject table as the Kaplan-Meier query) —
    distinct-duration collapse + cumulative windows
    (``stats.nelson_aalen``)."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.max("ts").alias("__tlast"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("__tconv"),
    )
    subjects = per_user.select(
        F.datediff(
            F.coalesce(F.col("__tconv"), F.col("__tlast")), F.col("__t0")
        ).alias("duration"),
        F.col("__tconv").isNotNull().cast("int").alias("event"),
    )
    return stats.nelson_aalen(subjects, "duration", "event")


ORACLE_NELSON_AALEN = """
WITH per_user AS (
    SELECT user_id, min(ts) AS t0, max(ts) AS tlast,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tconv
    FROM events GROUP BY 1
),
subj AS (
    SELECT date_diff('day', t0::DATE, coalesce(tconv, tlast)::DATE)
               AS duration,
           CASE WHEN tconv IS NOT NULL THEN 1 ELSE 0 END AS event
    FROM per_user
),
collapsed AS (
    SELECT duration, CAST(sum(event) AS BIGINT) AS n_events,
           count(*) AS removed
    FROM subj GROUP BY 1
),
staged AS (
    SELECT duration, n_events,
           CAST(sum(removed) OVER () -
           coalesce(sum(removed) OVER (ORDER BY duration ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
    FROM collapsed
)
SELECT duration, n_risk, n_events,
       round(sum(n_events * 1.0 / n_risk) OVER (ORDER BY duration ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS cum_hazard,
       round(sum(n_events * 1.0 / (CAST(n_risk AS DOUBLE) * n_risk))
             OVER (ORDER BY duration ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS na_var
FROM staged
QUALIFY n_events > 0
"""


def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric rule violations on the DAILY total event value
    per event type, with a deterministic regime shift injected on
    days 20-27 (2x scale — eight consecutive elevated points, so the
    fixture exercises the run rules, not just R1) — limits from one
    aggregate, trailing 3/5/8-row rule windows
    (``stats.control_chart_violations``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    series = e.groupBy(
        "event_type",
        F.to_date(F.col("ts")).alias("day"),
    ).agg(
        F.round(
            F.sum("value")
            * F.when(
                F.dayofmonth(F.min("ts")).between(20, 27), 2.0
            ).otherwise(1.0),
            4,
        ).alias("day_value")
    )
    return stats.control_chart_violations(
        series, "event_type", "day", "day_value"
    )


ORACLE_CONTROL_CHART = """
WITH s AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           round(sum(value)
                 * CASE WHEN day(min(ts)) BETWEEN 20 AND 27
                   THEN 2.0 ELSE 1.0 END,
                 4) AS day_value
    FROM events GROUP BY 1, 2
),
lim AS (
    SELECT event_type AS g, round(avg(day_value), 6) AS mu,
           round(stddev_samp(day_value), 6) AS sd
    FROM s GROUP BY 1
),
z AS (
    SELECT s.event_type, s.day, s.day_value,
           round((s.day_value - lim.mu) / lim.sd, 6) AS z
    FROM s JOIN lim ON s.event_type = lim.g
    WHERE lim.sd > 0
),
rules AS (
    SELECT event_type, day, day_value, z,
           (abs(z) > 3) AS r1,
           ((sum(CASE WHEN z > 2 THEN 1 ELSE 0 END) OVER w3 >= 2
             AND z > 2)
            OR (sum(CASE WHEN z < -2 THEN 1 ELSE 0 END) OVER w3 >= 2
             AND z < -2)) AS r2,
           ((sum(CASE WHEN z > 1 THEN 1 ELSE 0 END) OVER w5 >= 4
             AND z > 1)
            OR (sum(CASE WHEN z < -1 THEN 1 ELSE 0 END) OVER w5 >= 4
             AND z < -1)) AS r3,
           (count(*) OVER w8 = 8
            AND (sum(CASE WHEN z > 0 THEN 1 ELSE 0 END) OVER w8 = 8
                 OR sum(CASE WHEN z < 0 THEN 1 ELSE 0 END) OVER w8 = 8))
               AS r4
    FROM z
    WINDOW w3 AS (PARTITION BY event_type ORDER BY day ASC
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           w5 AS (PARTITION BY event_type ORDER BY day ASC
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w8 AS (PARTITION BY event_type ORDER BY day ASC
                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT * FROM rules WHERE r1 OR r2 OR r3 OR r4
"""


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected Cramer's V between order priority and order
    status — contingency collapse, closed-form empty-cell mass
    (``stats.cramers_v``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.cramers_v(o, "o_orderpriority", "o_orderstatus")


ORACLE_CRAMERS_V = """
WITH cells AS (
    SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS c
    FROM orders GROUP BY 1, 2
),
ma AS (SELECT a, sum(c) AS ra FROM cells GROUP BY 1),
mb AS (SELECT b, sum(c) AS cb FROM cells GROUP BY 1),
m AS (
    SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(count(DISTINCT cells.a) AS BIGINT) AS r_cats,
           CAST(count(DISTINCT cells.b) AS BIGINT) AS c_cats,
           sum(CAST(c AS DOUBLE) * c / (CAST(ra AS DOUBLE) * cb)) AS oe
    FROM cells JOIN ma ON cells.a = ma.a JOIN mb ON cells.b = mb.b
),
staged AS (
    SELECT n, r_cats, c_cats,
           round(CAST(n AS DOUBLE) * (oe - 1.0), 6) AS chi2
    FROM m
)
SELECT n, r_cats, c_cats, chi2,
       round(CASE WHEN n > 1
                   AND least(r_cats - (r_cats - 1.0) * (r_cats - 1.0)
                                 / (n - 1.0),
                             c_cats - (c_cats - 1.0) * (c_cats - 1.0)
                                 / (n - 1.0)) - 1.0 > 0
             THEN sqrt(greatest(0.0,
                      chi2 / n
                      - (r_cats - 1.0) * (c_cats - 1.0) / (n - 1.0))
                  / (least(r_cats - (r_cats - 1.0) * (r_cats - 1.0)
                               / (n - 1.0),
                           c_cats - (c_cats - 1.0) * (c_cats - 1.0)
                               / (n - 1.0)) - 1.0))
             END, 4) AS v_corrected
FROM staged
"""


_CD_A = "1-URGENT"
_CD_B = "5-LOW"


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d + Hedges' g for order totals, urgent vs low priority
    — one conditional aggregate, moments rounded before deriving
    (``stats.cohens_d``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.cohens_d(o, "o_totalprice", "o_orderpriority", _CD_A, _CD_B)


ORACLE_COHENS_D = f"""
WITH m AS (
    SELECT CAST(count(CASE WHEN o_orderpriority = '{_CD_A}'
                      THEN o_totalprice END) AS BIGINT) AS n_a,
           CAST(count(CASE WHEN o_orderpriority = '{_CD_B}'
                      THEN o_totalprice END) AS BIGINT) AS n_b,
           round(avg(CASE WHEN o_orderpriority = '{_CD_A}'
                     THEN o_totalprice END), 6) AS mean_a,
           round(avg(CASE WHEN o_orderpriority = '{_CD_B}'
                     THEN o_totalprice END), 6) AS mean_b,
           round(var_samp(CASE WHEN o_orderpriority = '{_CD_A}'
                          THEN o_totalprice END), 6) AS va,
           round(var_samp(CASE WHEN o_orderpriority = '{_CD_B}'
                          THEN o_totalprice END), 6) AS vb
    FROM orders
    WHERE o_orderpriority IN ('{_CD_A}', '{_CD_B}')
),
staged AS (
    SELECT n_a, n_b, mean_a, mean_b,
           round(CASE WHEN n_a > 1 AND n_b > 1 AND n_a + n_b - 2 > 0
                 THEN sqrt(((n_a - 1) * va + (n_b - 1) * vb)
                           / (n_a + n_b - 2.0)) END, 6) AS pooled_sd
    FROM m
)
SELECT n_a, n_b, mean_a, mean_b, pooled_sd,
       round(CASE WHEN pooled_sd > 0
             THEN (mean_a - mean_b) / pooled_sd END, 4) AS d,
       round(CASE WHEN pooled_sd > 0
             THEN (mean_a - mean_b) / pooled_sd
                  * (1.0 - 3.0 / (4.0 * (n_a + n_b - 2) - 1.0)) END, 4)
           AS hedges_g
FROM staged
"""


register("page_hinkley", q_page_hinkley, ORACLE_PAGE_HINKLEY)
register("nelson_aalen", q_nelson_aalen, ORACLE_NELSON_AALEN)
register("control_chart", q_control_chart, ORACLE_CONTROL_CHART)
register("cramers_v", q_cramers_v, ORACLE_CRAMERS_V)
register("cohens_d", q_cohens_d, ORACLE_COHENS_D)


# --- round-10 widening batch 22: burstiness, GOF, calibration scalar,
# --- rank-biased overlap


_BURST_MIN_EVENTS = 5


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness + dispersion of per-user inter-arrival
    gaps (>= 5 events) — one lag window, one aggregate, the bot/
    machine-traffic fingerprint (``stats.burstiness``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    return stats.burstiness(
        e, "user_id", "ts", min_events=_BURST_MIN_EVENTS
    )


ORACLE_BURSTINESS = f"""
WITH gaps AS (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts ASC) AS gap
    FROM events
),
per AS (
    SELECT user_id AS entity,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(CAST(gap AS DOUBLE)), 6) AS mean_gap_s,
           round(stddev_samp(CAST(gap AS DOUBLE)), 6) AS sd_gap_s
    FROM gaps GROUP BY 1
    HAVING count(*) >= {_BURST_MIN_EVENTS}
)
SELECT entity, n_events, mean_gap_s, sd_gap_s,
       round(CASE WHEN sd_gap_s + mean_gap_s > 0
             THEN (sd_gap_s - mean_gap_s) / (sd_gap_s + mean_gap_s)
             END, 4) AS burstiness,
       round(CASE WHEN mean_gap_s > 0
             THEN sd_gap_s * sd_gap_s / mean_gap_s END, 4) AS dispersion
FROM per
"""


def q_chisq_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the order-priority mix against
    the uniform five-way contract — one conditional aggregate
    (``stats.chisq_gof``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.chisq_gof(
        o,
        "o_orderpriority",
        {
            "1-URGENT": 0.2,
            "2-HIGH": 0.2,
            "3-MEDIUM": 0.2,
            "4-NOT SPECIFIED": 0.2,
            "5-LOW": 0.2,
        },
    )


ORACLE_CHISQ_GOF = """
WITH counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS c1,
           sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
               AS c2,
           sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
               AS c3,
           sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
               THEN 1 ELSE 0 END) AS c4,
           sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
               AS c5
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
                              '4-NOT SPECIFIED', '5-LOW')
)
SELECT n, CAST(5 AS BIGINT) AS k_cats,
       round(CASE WHEN n > 0 THEN
             (c1 - n * 0.2) * (c1 - n * 0.2) / (n * 0.2)
           + (c2 - n * 0.2) * (c2 - n * 0.2) / (n * 0.2)
           + (c3 - n * 0.2) * (c3 - n * 0.2) / (n * 0.2)
           + (c4 - n * 0.2) * (c4 - n * 0.2) / (n * 0.2)
           + (c5 - n * 0.2) * (c5 - n * 0.2) / (n * 0.2) END, 6)
           AS chi2,
       CAST(4 AS BIGINT) AS dof
FROM counts
"""


def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected/maximum calibration error of the discount-logit
    "returned?" classifier (same scorer as classification_loss) over
    10 equal-width bins (``stats.expected_calibration_error``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("l_discount") - 0.05) * 30.0)), 6
        ).alias("p"),
    )
    return stats.expected_calibration_error(li, "y", "p", bins=10)


ORACLE_ECE = """
WITH scored AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
           round(1.0 / (1.0 + exp(-(l_discount - 0.05) * 30.0)), 6) AS p
    FROM lineitem
),
binned AS (
    SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin,
           count(*) AS bn,
           round(avg(p), 6) AS conf,
           round(avg(y), 6) AS acc
    FROM scored GROUP BY 1
)
SELECT CAST(sum(bn) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_bins_used,
       round(sum(abs(conf - acc) * bn) / sum(bn), 6) AS ece,
       round(max(abs(conf - acc)), 6) AS mce
FROM binned
"""


_RBO_K = 20
_RBO_P = 0.9


def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO@20 between the revenue-ranked and quantity-ranked part
    lists per return flag — depth spine + cumulative window, nothing
    quadratic (``similarity.rbo_overlap``)."""
    from ..operators.similarity import rbo_overlap

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    per_part = li.groupBy("l_returnflag", "l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            4,
        ).alias("rev"),
        F.sum("l_quantity").alias("qty"),
    )
    w_rev = Window.partitionBy("l_returnflag").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    )
    w_qty = Window.partitionBy("l_returnflag").orderBy(
        F.col("qty").desc(), F.col("l_partkey").asc()
    )
    ranked = per_part.select(
        "l_returnflag",
        F.row_number().over(w_rev).alias("rank_rev"),
        F.row_number().over(w_qty).alias("rank_qty"),
    )
    return rbo_overlap(
        ranked, "l_returnflag", "rank_rev", "rank_qty", k=_RBO_K, p=_RBO_P
    )


def _rbo_oracle() -> str:
    return f"""
WITH per_part AS (
    SELECT l_returnflag, l_partkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev,
           sum(l_quantity) AS qty
    FROM lineitem GROUP BY 1, 2
),
ranked AS (
    SELECT l_returnflag,
           row_number() OVER (PARTITION BY l_returnflag
               ORDER BY rev DESC, l_partkey ASC) AS rank_rev,
           row_number() OVER (PARTITION BY l_returnflag
               ORDER BY qty DESC, l_partkey ASC) AS rank_qty
    FROM per_part
),
common AS (
    SELECT l_returnflag AS g,
           greatest(rank_rev, rank_qty) AS m
    FROM ranked
    WHERE rank_rev <= {_RBO_K} AND rank_qty <= {_RBO_K}
),
per_m AS (SELECT g, m, count(*) AS c FROM common GROUP BY 1, 2),
spine AS (
    SELECT DISTINCT l_returnflag AS g, CAST(d.range AS BIGINT) AS d
    FROM ranked, range(1, {_RBO_K} + 1) d
),
joined AS (
    SELECT spine.g, spine.d, coalesce(per_m.c, 0) AS c
    FROM spine LEFT JOIN per_m
        ON spine.g = per_m.g AND spine.d = per_m.m
),
cum AS (
    SELECT g, d,
           sum(c) OVER (PARTITION BY g ORDER BY d ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x_d
    FROM joined
)
SELECT g AS l_returnflag, CAST({_RBO_K} AS BIGINT) AS k,
       round({1.0 - _RBO_P!r} * sum(pow({_RBO_P!r}, d - 1)
             * CAST(x_d AS DOUBLE) / d), 6) AS rbo
FROM cum GROUP BY 1
"""


register("burstiness", q_burstiness, ORACLE_BURSTINESS)
register("chisq_gof", q_chisq_gof, ORACLE_CHISQ_GOF)
register("ece_calibration", q_ece, ORACLE_ECE)
register("rbo_overlap", q_rbo_overlap, _rbo_oracle())


# --- round-10 widening batch 23: Croston, Rocchio audit, silhouette


_CROSTON_MAX_PART = 200


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per part (daily shipped
    quantity, parts < 200 — sparse series by construction) — the
    adjust-EWMA closed form, one window stack per key
    (``windows.croston_forecast``)."""
    from ..operators.windows import croston_forecast

    li = rebalance(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_partkey") < _CROSTON_MAX_PART
    )
    daily = li.groupBy(
        "l_partkey",
        F.datediff(
            F.col("l_shipdate"), F.lit("1992-01-01").cast("date")
        ).alias("period"),
    ).agg(F.sum("l_quantity").alias("demand"))
    return croston_forecast(daily, ["l_partkey"], "period", "demand")


ORACLE_CROSTON = f"""
WITH daily AS (
    SELECT l_partkey,
           date_diff('day', DATE '1992-01-01', l_shipdate::DATE)
               AS period,
           sum(l_quantity) AS demand
    FROM lineitem
    WHERE l_partkey < {_CROSTON_MAX_PART}
    GROUP BY 1, 2
),
nz AS (
    SELECT l_partkey, period, CAST(demand AS DOUBLE) AS z,
           CAST(period - lag(period) OVER (PARTITION BY l_partkey
                ORDER BY period ASC) AS DOUBLE) AS gap,
           row_number() OVER (PARTITION BY l_partkey
               ORDER BY period ASC) - 1 AS i
    FROM daily WHERE demand > 0
),
agg AS (
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_demands,
           round(sum(z * pow(2.0, i)) / sum(pow(2.0, i)), 6) AS z_hat,
           round(CASE WHEN sum(CASE WHEN gap IS NOT NULL
                                    THEN pow(2.0, i) END) > 0
                 THEN sum(CASE WHEN gap IS NOT NULL
                          THEN gap * pow(2.0, i) END)
                      / sum(CASE WHEN gap IS NOT NULL
                            THEN pow(2.0, i) END) END, 6) AS p_hat
    FROM nz GROUP BY 1
)
SELECT l_partkey, n_demands, z_hat, p_hat,
       round(CASE WHEN p_hat > 0 THEN z_hat / p_hat END, 6) AS forecast
FROM agg
"""


_DUCK_CENTROIDS = """
dims AS (
    SELECT label, r.i AS i,
           round(avg(CAST(embedding[r.i] AS DOUBLE)), 6) AS m
    FROM embeddings, range(1, 65) r(i)
    GROUP BY 1, 2
),
cents AS (
    SELECT label AS cl, list(m ORDER BY i) AS centroid
    FROM dims GROUP BY 1
)"""


def q_rocchio_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) confusion matrix of the embeddings
    table against its labels — k-centroid broadcast, never
    vector-by-vector (``similarity.rocchio_assign``)."""
    from ..operators.similarity import rocchio_assign

    e = rebalance(load_table(spark, sf_dir, "embeddings"))
    return rocchio_assign(e, "vec_id", "label", "embedding")


ORACLE_ROCCHIO = f"""
WITH {_DUCK_CENTROIDS},
scored AS (
    SELECT e.vec_id, e.label AS tru, c.cl,
           round({_DUCK_COSINE.format(a="e.embedding", b="c.centroid")},
                 6) AS cos
    FROM embeddings e CROSS JOIN cents c
),
best AS (
    SELECT vec_id, tru, cl,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, cl ASC) AS rn
    FROM scored
)
SELECT tru AS label, cl AS assigned_label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM best WHERE rn = 1 GROUP BY 1, 2
"""


def q_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette clustering quality per label over the
    embeddings table — O(n*k) centroid shortcut, distances rounded
    before the ratio (``similarity.centroid_silhouette``)."""
    from ..operators.similarity import centroid_silhouette

    e = rebalance(load_table(spark, sf_dir, "embeddings"))
    return centroid_silhouette(e, "vec_id", "label", "embedding")


_DUCK_EUCLID = (
    "sqrt(list_sum(list_transform(list_zip({a}, {b}), "
    "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) "
    "* (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))))"
)


ORACLE_SILHOUETTE = f"""
WITH {_DUCK_CENTROIDS},
scored AS (
    SELECT e.vec_id, e.label AS tru, c.cl,
           round({_DUCK_EUCLID.format(a="e.embedding", b="c.centroid")},
                 6) AS dist
    FROM embeddings e CROSS JOIN cents c
),
own AS (
    SELECT vec_id, tru AS lbl, dist AS a
    FROM scored WHERE tru = cl
),
others AS (
    SELECT vec_id, min(dist) AS b
    FROM scored WHERE tru <> cl GROUP BY 1
),
per_vec AS (
    SELECT own.lbl,
           CASE WHEN others.b IS NOT NULL THEN
               round(CASE WHEN greatest(own.a, others.b) > 0
                     THEN (others.b - own.a) / greatest(own.a, others.b)
                     ELSE 0.0 END, 6) END AS s
    FROM own LEFT JOIN others USING (vec_id)
)
SELECT lbl AS label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(s), 6) AS avg_silhouette
FROM per_vec GROUP BY 1
"""


register("croston_forecast", q_croston, ORACLE_CROSTON)
register("rocchio_assign", q_rocchio_assign, ORACLE_ROCCHIO)
register("centroid_silhouette", q_centroid_silhouette, ORACLE_SILHOUETTE)


# --- round-10 widening batch 24: population estimation, vocabulary
# --- economics, co-occurrence lift


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the distinct word-trigram
    population from two crawl sources (src0 vs src1) — exact-dedup
    shuffle on the capture key, then a single-row reduce
    (``profiling.capture_recapture``)."""
    from ..operators.profiling import capture_recapture

    d = rebalance(load_table(spark, sf_dir, "documents")).filter(
        F.col("source").isin("src0", "src1")
    )
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos", "w"
        ),
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    grams = (
        toks.withColumn("w1", F.lead("w", 1).over(w_doc))
        .withColumn("w2", F.lead("w", 2).over(w_doc))
        .filter(F.col("w2").isNotNull())
        .select(
            "source",
            F.concat_ws(" ", "w", "w1", "w2").alias("gram"),
        )
    )
    return capture_recapture(grams, "source", "gram", "src0", "src1")


ORACLE_CAPTURE_RECAPTURE = """
WITH toks AS (
    SELECT doc_id, source,
           generate_subscripts(string_split(lower(text), ' '), 1) AS pos,
           unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE source IN ('src0', 'src1')
),
grams AS (
    SELECT source,
           w || ' ' || lead(w, 1) OVER win || ' '
             || lead(w, 2) OVER win AS gram
    FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lead(w, 2) OVER win IS NOT NULL
),
per AS (
    SELECT gram,
           max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
           max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
    FROM grams GROUP BY 1
),
m AS (
    SELECT CAST(sum(a) AS BIGINT) AS n_a,
           CAST(sum(b) AS BIGINT) AS n_b,
           CAST(sum(a * b) AS BIGINT) AS n_both
    FROM per
),
staged AS (
    SELECT n_a, n_b, n_both,
           round((n_a + 1.0) * (n_b + 1.0) / (n_both + 1.0) - 1.0, 2)
               AS n_hat,
           round(CASE WHEN (n_a + 1.0) * (n_b + 1.0) * (n_a - n_both)
                           * (n_b - n_both) >= 0
                 THEN sqrt((n_a + 1.0) * (n_b + 1.0)
                           * (n_a - n_both) * (n_b - n_both)
                           / ((n_both + 1.0) * (n_both + 1.0)
                              * (n_both + 2.0))) END, 2) AS se_hat
    FROM m
)
SELECT n_a, n_b, n_both, n_hat, se_hat,
       round(greatest(n_hat - 1.96 * se_hat, 0.0), 2) AS ci_low,
       round(n_hat + 1.96 * se_hat, 2) AS ci_high
FROM staged
"""


def q_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-vocabulary mass per crawl source — two
    stacked hash aggregates, the marginal-value-of-more-data readout
    (``text.unseen_mass``)."""
    from ..operators.text import unseen_mass

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return unseen_mass(d, "source")


ORACLE_UNSEEN_MASS = """
WITH words AS (
    SELECT source AS g, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
),
counts AS (
    SELECT g, w, count(*) AS c FROM words WHERE w <> '' GROUP BY 1, 2
),
per AS (
    SELECT g AS source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doubletons
    FROM counts GROUP BY 1
)
SELECT source, n_tokens, vocab, n_singletons, n_doubletons,
       round(CASE WHEN n_tokens > 0
             THEN n_singletons * 1.0 / n_tokens END, 6) AS p_unseen,
       round(CASE WHEN n_singletons > 0
             THEN 2.0 * n_doubletons / n_singletons END, 6) AS r_star_1
FROM per
"""


def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift over users — distinct-incidence
    collapse, within-entity pair join, broadcast marginals
    (``funnels.cooccurrence_lift``)."""
    from ..operators.funnels import cooccurrence_lift

    e = rebalance(load_table(spark, sf_dir, "events"))
    return cooccurrence_lift(e, "user_id", "event_type")


ORACLE_COOCCURRENCE_LIFT = """
WITH inc AS (
    SELECT DISTINCT user_id AS e, event_type AS i FROM events
),
u AS (SELECT CAST(count(DISTINCT e) AS DOUBLE) AS u FROM inc),
ic AS (SELECT i, count(*) AS ci FROM inc GROUP BY 1),
pairs AS (
    SELECT a.i AS item_a, b.i AS item_b,
           CAST(count(*) AS BIGINT) AS n_both
    FROM inc a JOIN inc b ON a.e = b.e AND a.i < b.i
    GROUP BY 1, 2
)
SELECT item_a, item_b, n_both,
       round(n_both / u.u, 6) AS support,
       round(u.u * n_both / (ca.ci * 1.0 * cb.ci), 4) AS lift
FROM pairs
JOIN ic ca ON pairs.item_a = ca.i
JOIN ic cb ON pairs.item_b = cb.i
CROSS JOIN u
"""


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law V = k*N^beta fit across the 20 crawl sources — slice
    collapse then a single-row OLS (``text.heaps_law_fit``)."""
    from ..operators.text import heaps_law_fit

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return heaps_law_fit(d, "source")


ORACLE_HEAPS_LAW = """
WITH words AS (
    SELECT source AS g, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
),
counts AS (
    SELECT g, w, count(*) AS c FROM words WHERE w <> '' GROUP BY 1, 2
),
pts AS (
    SELECT round(ln(CAST(sum(c) AS DOUBLE)), 6) AS x,
           round(ln(CAST(count(*) AS DOUBLE)), 6) AS y
    FROM counts GROUP BY g
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n_slices,
           round(avg(x), 6) AS mx, round(avg(y), 6) AS my,
           round(covar_samp(x, y), 6) AS cxy,
           round(var_samp(x), 6) AS vx,
           round(var_samp(y), 6) AS vy
    FROM pts
),
staged AS (
    SELECT n_slices, mx, my, cxy, vx, vy,
           round(CASE WHEN n_slices > 1 AND vx > 0
                 THEN cxy / vx END, 6) AS beta6
    FROM m
)
SELECT n_slices,
       round(beta6, 4) AS beta,
       round(exp(my - beta6 * mx), 4) AS k_coef,
       round(CASE WHEN vx > 0 AND vy > 0
             THEN cxy * cxy / (vx * vy) END, 4) AS r2
FROM staged
"""


register("capture_recapture", q_capture_recapture, ORACLE_CAPTURE_RECAPTURE)
register("unseen_mass", q_unseen_mass, ORACLE_UNSEEN_MASS)
register("cooccurrence_lift", q_cooccurrence_lift, ORACLE_COOCCURRENCE_LIFT)
register("heaps_law", q_heaps_law, ORACLE_HEAPS_LAW)


# --- round-10 widening batch 25: paired model tests, multi-rater
# --- agreement, residual autocorrelation, robust means


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired comparison of two deterministic "returned?"
    classifiers (discount-logit vs quantity threshold) on the same
    lineitem rows — one conditional aggregate
    (``stats.mcnemar_test``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        (F.col("l_returnflag") == "R").alias("y"),
        (F.col("l_discount") > 0.05).alias("pred_a"),
        (F.col("l_quantity") > 25).alias("pred_b"),
    )
    scored = li.select(
        (F.col("pred_a") == F.col("y")).alias("ok_a"),
        (F.col("pred_b") == F.col("y")).alias("ok_b"),
    )
    return stats.mcnemar_test(scored, "ok_a", "ok_b")


ORACLE_MCNEMAR = """
WITH scored AS (
    SELECT ((l_discount > 0.05) = (l_returnflag = 'R')) AS ok_a,
           ((l_quantity > 25) = (l_returnflag = 'R')) AS ok_b
    FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN ok_a AND ok_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both_right,
       CAST(sum(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
           AS BIGINT) AS n_a_only,
       CAST(sum(CASE WHEN NOT ok_a AND ok_b THEN 1 ELSE 0 END)
           AS BIGINT) AS n_b_only,
       CAST(sum(CASE WHEN NOT ok_a AND NOT ok_b THEN 1 ELSE 0 END)
           AS BIGINT) AS n_both_wrong,
       round(CASE WHEN sum(CASE WHEN ok_a <> ok_b THEN 1 ELSE 0 END) > 0
             THEN (abs(sum(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
                       - sum(CASE WHEN NOT ok_a AND ok_b
                             THEN 1 ELSE 0 END)) - 1.0)
                  * (abs(sum(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
                       - sum(CASE WHEN NOT ok_a AND ok_b
                             THEN 1 ELSE 0 END)) - 1.0)
                  / sum(CASE WHEN ok_a <> ok_b THEN 1 ELSE 0 END)
             END, 6) AS chi2
FROM scored
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across THREE heuristic order-status raters (the
    recorded status, a date rule, a price rule) — one explode scan,
    two cell-sized aggregates (``stats.fleiss_kappa``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    r1 = F.col("o_orderstatus")
    r2 = F.when(F.year("o_orderdate") < 1995, F.lit("F")).otherwise(
        F.lit("O")
    )
    r3 = F.when(F.col("o_totalprice") > 150000, F.lit("F")).otherwise(
        F.lit("O")
    )
    ratings = o.select(
        F.col("o_orderkey").alias("item"),
        F.explode(F.array(r1, r2, r3)).alias("rating"),
    )
    return stats.fleiss_kappa(ratings, "item", "rating", n_raters=3)


ORACLE_FLEISS = """
WITH ratings AS (
    SELECT o_orderkey AS item,
           unnest([o_orderstatus,
                   CASE WHEN year(o_orderdate) < 1995
                        THEN 'F' ELSE 'O' END,
                   CASE WHEN o_totalprice > 150000
                        THEN 'F' ELSE 'O' END]) AS rating
    FROM orders
),
cells AS (
    SELECT item, rating, count(*) AS c FROM ratings GROUP BY 1, 2
),
per_item AS (
    SELECT item, sum(c) AS n, sum(c * c) AS sq FROM cells GROUP BY 1
),
istats AS (
    SELECT CAST(sum(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_items,
           CAST(sum(CASE WHEN n = 3 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_excluded_items,
           round(avg(CASE WHEN n = 3
                 THEN (sq - 3.0) / (3.0 * 2.0) END), 6) AS p_bar
    FROM per_item
),
shares AS (
    SELECT round(sum(CAST(cj AS DOUBLE) * cj), 6) AS sumsq,
           sum(cj) AS tot
    FROM (
        SELECT rating, sum(c) AS cj
        FROM cells JOIN per_item USING (item)
        WHERE per_item.n = 3
        GROUP BY 1
    )
),
staged AS (
    SELECT n_items, n_excluded_items,
           CAST(3 AS BIGINT) AS n_raters, p_bar,
           round(CASE WHEN tot > 0
                 THEN sumsq / (CAST(tot AS DOUBLE) * tot) END, 6) AS p_e
    FROM istats CROSS JOIN shares
)
SELECT n_items, n_excluded_items, n_raters, p_bar, p_e,
       round(CASE WHEN p_e < 1.0
             THEN (p_bar - p_e) / (1.0 - p_e) END, 4) AS kappa
FROM staged
"""


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation of the mean-centered DAILY event
    count per event type — one broadcast mean, one lag window
    (``stats.durbin_watson``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    series = e.groupBy(
        "event_type", F.to_date(F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return stats.durbin_watson(series, "event_type", "day", "n_events")


ORACLE_DURBIN_WATSON = """
WITH s AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS DOUBLE) AS v
    FROM events GROUP BY 1, 2
),
mu AS (
    SELECT event_type AS g, round(avg(v), 6) AS m FROM s GROUP BY 1
),
e AS (
    SELECT s.event_type, s.day, round(s.v - mu.m, 6) AS e
    FROM s JOIN mu ON s.event_type = mu.g
),
d AS (
    SELECT event_type, e,
           e - lag(e) OVER (PARTITION BY event_type ORDER BY day ASC)
               AS de
    FROM e
),
agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(de * de) AS num, sum(e * e) AS den
    FROM d GROUP BY 1
)
SELECT event_type, n,
       round(CASE WHEN n > 1 AND den > 0 THEN num / den END, 4) AS dw
FROM agg
"""


_TRIM = 0.1


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of order totals per priority — one rank
    window, tie-invariant by construction
    (``stats.trimmed_mean``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.trimmed_mean(
        o, "o_orderpriority", "o_totalprice", trim=_TRIM
    )


ORACLE_TRIMMED_MEAN = f"""
WITH ranked AS (
    SELECT o_orderpriority AS g, o_totalprice AS x,
           row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC) AS r,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
)
SELECT g AS o_orderpriority,
       CAST(max(n) AS BIGINT) AS n,
       CAST(count(CASE WHEN r > floor(n * {_TRIM!r})
                  AND r <= n - floor(n * {_TRIM!r}) THEN 1 END)
            AS BIGINT) AS n_used,
       round(avg(CASE WHEN r > floor(n * {_TRIM!r})
                 AND r <= n - floor(n * {_TRIM!r}) THEN x END), 6)
           AS trimmed_mean,
       round(avg(x), 6) AS raw_mean
FROM ranked GROUP BY 1
"""


register("mcnemar", q_mcnemar, ORACLE_MCNEMAR)
register("fleiss_kappa", q_fleiss_kappa, ORACLE_FLEISS)
register("durbin_watson", q_durbin_watson, ORACLE_DURBIN_WATSON)
register("trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN)


# --- round-10 widening batch 26: 1-D stump, always-valid AB, odds
# --- ratio, covariate balance


def _duck_ent(p: str) -> str:
    return (
        f"CASE WHEN {p} > 0 AND {p} < 1 THEN "
        f"-({p} * log2({p}) + (1 - {p}) * log2(1 - {p})) ELSE 0.0 END"
    )


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal information-gain split of the discount column against
    the returned flag — distinct-value collapse + one cumulative
    window (``stats.decision_stump``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_discount",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return stats.decision_stump(li, "l_discount", "y")


ORACLE_DECISION_STUMP = f"""
WITH per AS (
    SELECT l_discount AS v, count(*) AS n,
           sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS p
    FROM lineitem GROUP BY 1
),
cum AS (
    SELECT v,
           sum(n) OVER w AS ln, sum(p) OVER w AS lp,
           sum(n) OVER () AS tn, sum(p) OVER () AS tp
    FROM per
    WINDOW w AS (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
rates AS (
    SELECT v, ln, lp, tn, tp,
           round(lp * 1.0 / ln, 6) AS lrate,
           round((tp - lp) * 1.0 / (tn - ln), 6) AS rrate,
           round(tp * 1.0 / tn, 6) AS brate
    FROM cum WHERE ln >= 1 AND tn - ln >= 1
),
scored AS (
    SELECT CAST(tn AS BIGINT) AS n, CAST(tp AS BIGINT) AS n_pos,
           round({_duck_ent('brate')}, 6) AS base_entropy,
           v AS threshold,
           round({_duck_ent('brate')}
                 - (ln * 1.0 / tn) * ({_duck_ent('lrate')})
                 - ((tn - ln) * 1.0 / tn) * ({_duck_ent('rrate')}),
                 6) AS gain,
           CAST(ln AS BIGINT) AS left_n, lrate AS left_rate,
           CAST(tn - ln AS BIGINT) AS right_n, rrate AS right_rate
    FROM rates
)
SELECT n, n_pos, base_entropy, threshold, gain, left_n, left_rate,
       right_n, right_rate
FROM (SELECT *, row_number() OVER (ORDER BY gain DESC, threshold ASC)
          AS rk FROM scored)
WHERE rk = 1
"""


_MSPRT_TAU = 1000.0


def q_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid mSPRT on order totals, urgent vs low priority —
    one conditional aggregate, log-space likelihood ratio
    (``stats.msprt_ab``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.msprt_ab(
        o, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW",
        tau=_MSPRT_TAU,
    )


ORACLE_MSPRT = f"""
WITH m AS (
    SELECT CAST(count(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice END) AS BIGINT) AS n_a,
           CAST(count(CASE WHEN o_orderpriority = '5-LOW'
                      THEN o_totalprice END) AS BIGINT) AS n_b,
           round(avg(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN o_totalprice END), 6) AS mean_a,
           round(avg(CASE WHEN o_orderpriority = '5-LOW'
                     THEN o_totalprice END), 6) AS mean_b,
           round(var_samp(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice END), 6) AS va,
           round(var_samp(CASE WHEN o_orderpriority = '5-LOW'
                          THEN o_totalprice END), 6) AS vb
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
staged AS (
    SELECT n_a, n_b, mean_a, mean_b,
           round(CASE WHEN n_a > 1 AND n_b > 1
                 THEN ((n_a - 1) * va + (n_b - 1) * vb)
                      / (n_a + n_b - 2.0) END, 6) AS pooled_var
    FROM m
),
lam AS (
    SELECT n_a, n_b, mean_a, mean_b, pooled_var,
           round(CASE WHEN pooled_var > 0 AND n_a > 1 AND n_b > 1
                 THEN 0.5 * (ln(2.0 * pooled_var)
                      - ln(2.0 * pooled_var
                           + (2.0 * n_a * n_b / (n_a + n_b))
                             * {_MSPRT_TAU!r} * {_MSPRT_TAU!r}))
                      + (pow(2.0 * n_a * n_b / (n_a + n_b), 2)
                         * {_MSPRT_TAU!r} * {_MSPRT_TAU!r}
                         * (mean_a - mean_b) * (mean_a - mean_b))
                        / (4.0 * pooled_var
                           * (2.0 * pooled_var
                              + (2.0 * n_a * n_b / (n_a + n_b))
                                * {_MSPRT_TAU!r} * {_MSPRT_TAU!r}))
                 END, 6) AS log_lambda
    FROM staged
)
SELECT n_a, n_b, mean_a, mean_b, pooled_var, log_lambda,
       round(CASE WHEN log_lambda IS NOT NULL
             THEN least(1.0, exp(-log_lambda)) END, 6)
           AS p_always_valid
FROM lam
"""


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio (Woolf CI) of deep discounts on returns — one
    four-cell aggregate (``stats.odds_ratio``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        (F.col("l_discount") > 0.05).alias("deep_discount"),
        (F.col("l_returnflag") == "R").alias("returned"),
    )
    return stats.odds_ratio(li, "deep_discount", "returned")


ORACLE_ODDS_RATIO = """
WITH m AS (
    SELECT CAST(sum(CASE WHEN l_discount > 0.05
                    AND l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_11,
           CAST(sum(CASE WHEN l_discount > 0.05
                    AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_10,
           CAST(sum(CASE WHEN l_discount <= 0.05
                    AND l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_01,
           CAST(sum(CASE WHEN l_discount <= 0.05
                    AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_00
    FROM lineitem
),
adj AS (
    SELECT n_11, n_10, n_01, n_00,
           CASE WHEN n_11 = 0 OR n_10 = 0 OR n_01 = 0 OR n_00 = 0
                THEN 0.5 ELSE 0.0 END AS h
    FROM m
),
staged AS (
    SELECT n_11, n_10, n_01, n_00,
           round(ln(((n_11 + h) * (n_00 + h))
                    / ((n_10 + h) * (n_01 + h))), 6) AS lor,
           round(sqrt(1.0 / (n_11 + h) + 1.0 / (n_10 + h)
                      + 1.0 / (n_01 + h) + 1.0 / (n_00 + h)), 6) AS se
    FROM adj
)
SELECT n_11, n_10, n_01, n_00,
       round(exp(lor), 4) AS odds_ratio,
       round(exp(lor - 1.96 * se), 4) AS ci_low,
       round(exp(lor + 1.96 * se), 4) AS ci_high
FROM staged
"""


def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMD balance table for urgent-vs-rest orders over price and
    order month — every covariate's moments in ONE corpus pass
    (``stats.covariate_balance``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        (F.col("o_orderpriority") == "1-URGENT").alias("treat"),
        F.col("o_totalprice").alias("totalprice"),
        F.month("o_orderdate").cast("double").alias("order_month"),
    )
    return stats.covariate_balance(
        o, "treat", ["totalprice", "order_month"]
    )


ORACLE_COVARIATE_BALANCE = """
WITH m AS (
    SELECT CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 0 ELSE 1 END) AS BIGINT) AS nc,
           round(avg(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN o_totalprice END), 6) AS mt_p,
           round(avg(CASE WHEN o_orderpriority <> '1-URGENT'
                     THEN o_totalprice END), 6) AS mc_p,
           round(var_samp(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice END), 6) AS vt_p,
           round(var_samp(CASE WHEN o_orderpriority <> '1-URGENT'
                          THEN o_totalprice END), 6) AS vc_p,
           round(avg(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN month(o_orderdate) END), 6) AS mt_m,
           round(avg(CASE WHEN o_orderpriority <> '1-URGENT'
                     THEN month(o_orderdate) END), 6) AS mc_m,
           round(var_samp(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN CAST(month(o_orderdate) AS DOUBLE) END),
                 6) AS vt_m,
           round(var_samp(CASE WHEN o_orderpriority <> '1-URGENT'
                          THEN CAST(month(o_orderdate) AS DOUBLE) END),
                 6) AS vc_m
    FROM orders
),
rows_ AS (
    SELECT 'totalprice' AS covariate, nt, nc, mt_p AS mean_treat,
           mc_p AS mean_control, vt_p AS vt, vc_p AS vc FROM m
    UNION ALL
    SELECT 'order_month', nt, nc, mt_m, mc_m, vt_m, vc_m FROM m
)
SELECT covariate, nt AS n_treat, nc AS n_control, mean_treat,
       mean_control,
       round(CASE WHEN (vt + vc) / 2.0 > 0
             THEN (mean_treat - mean_control) / sqrt((vt + vc) / 2.0)
             END, 4) AS smd,
       CASE WHEN (vt + vc) / 2.0 > 0
            THEN abs(round(CASE WHEN (vt + vc) / 2.0 > 0
                 THEN (mean_treat - mean_control)
                      / sqrt((vt + vc) / 2.0) END, 4)) < 0.1
            END AS balanced
FROM rows_
"""


register("decision_stump", q_decision_stump, ORACLE_DECISION_STUMP)
register("msprt_ab", q_msprt, ORACLE_MSPRT)
register("odds_ratio", q_odds_ratio, ORACLE_ODDS_RATIO)
register("covariate_balance", q_covariate_balance, ORACLE_COVARIATE_BALANCE)


# --- round-10 widening batch 27: tail risk, panel FE, risk ratio


_TR_Q = 0.95


def q_tail_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR(95) + expected shortfall of order totals per priority —
    one rank window, value-based tail (``stats.tail_risk``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.tail_risk(o, "o_orderpriority", "o_totalprice", q=_TR_Q)


ORACLE_TAIL_RISK = f"""
WITH ranked AS (
    SELECT o_orderpriority AS g, o_totalprice AS x,
           row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC) AS r,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
),
v AS (
    SELECT g, x AS var, n FROM ranked
    WHERE r = CAST(ceil(n * {_TR_Q!r}) AS BIGINT)
)
SELECT ranked.g AS o_orderpriority,
       CAST(max(v.n) AS BIGINT) AS n,
       round(max(v.var), 6) AS var_q,
       CAST(count(CASE WHEN ranked.x >= v.var THEN 1 END) AS BIGINT)
           AS tail_n,
       round(avg(CASE WHEN ranked.x >= v.var THEN ranked.x END), 6)
           AS es_q
FROM ranked JOIN v ON ranked.g = v.g
GROUP BY 1
"""


def q_fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects slope of daily revenue on daily event
    count, entity = event type, period = day — two mean collapses,
    one aggregate (``stats.fixed_effects_ols``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    panel = e.groupBy(
        "event_type", F.to_date(F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.sum("value"), 4).alias("day_value"),
    )
    return stats.fixed_effects_ols(
        panel, "event_type", "day", "n_events", "day_value"
    )


ORACLE_FIXED_EFFECTS = """
WITH panel AS (
    SELECT event_type AS e, CAST(ts AS DATE) AS t,
           CAST(count(*) AS DOUBLE) AS x,
           round(sum(value), 4) AS y
    FROM events GROUP BY 1, 2
),
ent AS (
    SELECT e, round(avg(x), 6) AS xe, round(avg(y), 6) AS ye
    FROM panel GROUP BY 1
),
per AS (
    SELECT t, round(avg(x), 6) AS xt, round(avg(y), 6) AS yt
    FROM panel GROUP BY 1
),
grand AS (
    SELECT round(avg(x), 6) AS xg, round(avg(y), 6) AS yg FROM panel
),
demeaned AS (
    SELECT panel.e, panel.t,
           panel.x - ent.xe - per.xt + grand.xg AS xd,
           panel.y - ent.ye - per.yt + grand.yg AS yd
    FROM panel JOIN ent USING (e) JOIN per USING (t) CROSS JOIN grand
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT e) AS BIGINT) AS n_entities,
           CAST(count(DISTINCT t) AS BIGINT) AS n_periods,
           round(sum(xd * yd), 6) AS sxy,
           round(sum(xd * xd), 6) AS sxx,
           round(sum(yd * yd), 6) AS syy
    FROM demeaned
),
staged AS (
    SELECT n, n_entities, n_periods, sxy, sxx, syy,
           round(CASE WHEN sxx > 0 THEN sxy / sxx END, 6) AS b
    FROM m
)
SELECT n, n_entities, n_periods,
       round(b, 4) AS beta,
       round(CASE WHEN b IS NOT NULL
                  AND n - n_entities - n_periods + 1 > 0
                  AND syy - b * b * sxx >= 0
             THEN sqrt(((syy - b * b * sxx)
                        / (n - n_entities - n_periods + 1.0)) / sxx)
             END, 4) AS se
FROM staged
"""


def q_relative_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk ratio (Katz CI) of deep discounts on returns — the
    cohort-framed twin of the odds-ratio query
    (``stats.relative_risk``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        (F.col("l_discount") > 0.05).alias("deep_discount"),
        (F.col("l_returnflag") == "R").alias("returned"),
    )
    return stats.relative_risk(li, "deep_discount", "returned")


ORACLE_RELATIVE_RISK = """
WITH m AS (
    SELECT CAST(sum(CASE WHEN l_discount > 0.05
                    AND l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exp_out,
           CAST(sum(CASE WHEN l_discount > 0.05
                    AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exp_no,
           CAST(sum(CASE WHEN l_discount <= 0.05
                    AND l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unexp_out,
           CAST(sum(CASE WHEN l_discount <= 0.05
                    AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unexp_no
    FROM lineitem
),
adj AS (
    SELECT *, CASE WHEN n_exp_out = 0 OR n_unexp_out = 0
                   THEN 0.5 ELSE 0.0 END AS h
    FROM m
),
staged AS (
    SELECT n_exp_out, n_exp_no, n_unexp_out, n_unexp_no,
           round((n_exp_out + h) / (n_exp_out + h + n_exp_no + h), 6)
               AS risk_exposed,
           round((n_unexp_out + h)
                 / (n_unexp_out + h + n_unexp_no + h), 6)
               AS risk_unexposed,
           round(ln(((n_exp_out + h)
                     / (n_exp_out + h + n_exp_no + h))
                    / ((n_unexp_out + h)
                       / (n_unexp_out + h + n_unexp_no + h))), 6)
               AS lrr,
           round(sqrt(1.0 / (n_exp_out + h)
                      - 1.0 / (n_exp_out + h + n_exp_no + h)
                      + 1.0 / (n_unexp_out + h)
                      - 1.0 / (n_unexp_out + h + n_unexp_no + h)), 6)
               AS se
    FROM adj
)
SELECT n_exp_out, n_exp_no, n_unexp_out, n_unexp_no,
       risk_exposed, risk_unexposed,
       round(exp(lrr), 4) AS relative_risk,
       round(exp(lrr - 1.96 * se), 4) AS ci_low,
       round(exp(lrr + 1.96 * se), 4) AS ci_high
FROM staged
"""


register("tail_risk", q_tail_risk, ORACLE_TAIL_RISK)
register("fixed_effects", q_fixed_effects, ORACLE_FIXED_EFFECTS)
register("relative_risk", q_relative_risk, ORACLE_RELATIVE_RISK)


