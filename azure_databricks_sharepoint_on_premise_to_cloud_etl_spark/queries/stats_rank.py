"""Query catalog — rank stats, association, diagnostics, inference (batches 6-19).

Each query is registered with its DuckDB oracle by one
``catalog.register`` call below its definition.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load_table, rebalance

from .catalog import register
from .core import (
    _duck_hash,
)
from .graphs import (
    ORACLE_KAPLAN_MEIER,
)

# --- round-10 widening batch 6: rank statistics, privacy EMD, VWAP ---


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag — distinct-value collapse per axis, partitioned rank
    windows, exact doubled-rank moments
    (``stats.spearman_corr``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.spearman_corr(
        li, "l_quantity", "l_extendedprice", "l_returnflag"
    )


ORACLE_SPEARMAN = """
WITH base AS (
    SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
      AND l_extendedprice IS NOT NULL
),
bx AS (SELECT g, x, count(*) AS t FROM base GROUP BY 1, 2),
rx AS (
    SELECT g, x,
           2 * sum(t) OVER (PARTITION BY g ORDER BY x
                            ROWS UNBOUNDED PRECEDING) - (t - 1) AS r
    FROM bx
),
by_ AS (SELECT g, y, count(*) AS t FROM base GROUP BY 1, 2),
ry AS (
    SELECT g, y,
           2 * sum(t) OVER (PARTITION BY g ORDER BY y
                            ROWS UNBOUNDED PRECEDING) - (t - 1) AS r
    FROM by_
),
j AS (
    SELECT b.g, rx.r AS rxv, ry.r AS ryv
    FROM base b
    JOIN rx ON b.g = rx.g AND b.x = rx.x
    JOIN ry ON b.g = ry.g AND b.y = ry.y
),
m AS (
    SELECT g, count(*) AS n,
           sum(CAST(rxv AS HUGEINT)) AS sx,
           sum(CAST(ryv AS HUGEINT)) AS sy,
           sum(CAST(rxv AS HUGEINT) * rxv) AS sxx,
           sum(CAST(ryv AS HUGEINT) * ryv) AS syy,
           sum(CAST(rxv AS HUGEINT) * ryv) AS sxy
    FROM j GROUP BY 1
)
SELECT g AS l_returnflag, n,
       round(
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END, 6) AS rho
FROM m
"""


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of account balance across market segments —
    one k-row hash aggregate, exact micro-unit moments
    (``stats.anova_f``)."""
    from ..operators import stats

    c = rebalance(load_table(spark, sf_dir, "customer"))
    return stats.anova_f(c, "c_acctbal", "c_mktsegment")


ORACLE_ANOVA = """
WITH per AS (
    SELECT c_mktsegment,
           count(*) AS n,
           sum(CAST(round(c_acctbal * 1000000) AS HUGEINT)) AS s,
           sum(CAST(round(c_acctbal * 1000000) AS HUGEINT)
               * CAST(round(c_acctbal * 1000000) AS HUGEINT)) AS s2
    FROM customer
    WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
    GROUP BY 1
),
terms AS (
    SELECT n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           CAST(s2 AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE) AS ssw,
           CAST(s AS DOUBLE) AS sd
    FROM per
),
tot AS (
    SELECT count(*) AS k, sum(n) AS n, sum(sd) AS gs,
           sum(n * mean * mean) AS snm2, sum(ssw) AS ssw_t
    FROM terms
)
SELECT k, n,
       round(CASE WHEN k > 1 AND n > k
                   AND ssw_t > 0
                  THEN ((snm2 - gs * gs / CAST(n AS DOUBLE)) / (k - 1))
                       / (ssw_t / (n - k)) END, 6) AS f_stat,
       round(CASE WHEN (snm2 - gs * gs / CAST(n AS DOUBLE)) + ssw_t > 0
                  THEN (snm2 - gs * gs / CAST(n AS DOUBLE))
                       / ((snm2 - gs * gs / CAST(n AS DOUBLE)) + ssw_t)
             END, 6) AS eta_sq,
       k - 1 AS dof_between,
       n - k AS dof_within
FROM tot
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H of event value across the five event types —
    the k-group rank test on the distinct-value collapse
    (``stats.kruskal_wallis``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    return stats.kruskal_wallis(e, "value", "event_type")


ORACLE_KRUSKAL = """
WITH cells AS (
    SELECT value AS v, event_type AS g, count(*) AS c
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
vals AS (SELECT v, sum(c) AS t FROM cells GROUP BY 1),
ranked AS (
    SELECT v, t,
           2 * sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               - (t - 1) AS r2
    FROM vals
),
per_group AS (
    SELECT g, sum(c) AS n,
           sum(CAST(c * r2 AS HUGEINT)) AS r2sum
    FROM cells JOIN ranked USING (v)
    GROUP BY 1
),
ties AS (
    SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie FROM ranked
),
tot AS (
    SELECT count(*) AS k, sum(n) AS n,
           sum(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE)
               / (4.0 * CAST(n AS DOUBLE))) AS sr2,
           any_value(tie) AS tie
    FROM per_group CROSS JOIN ties
)
SELECT k, n,
       round(CASE WHEN n > 1
                   AND 1.0 - CAST(tie AS DOUBLE)
                       / (CAST(n AS DOUBLE) * n * n - n) > 0
                  THEN (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sr2
                        - 3.0 * (n + 1))
                       / (1.0 - CAST(tie AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n * n - n))
             END, 6) AS h_stat,
       k - 1 AS dof
FROM tot
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of the customer release (QI = nation ×
    segment, sensitive = $2k balance band): flags groups whose
    banded-balance DISTRIBUTION strays from the table's by EMD >
    0.06 — the leak l-diversity's distinct-count can't see
    (``stats.t_closeness_audit``)."""
    from ..operators import stats

    c = load_table(spark, sf_dir, "customer")
    banded = c.filter(F.col("c_acctbal").isNotNull()).withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 2000).cast("int")
    )
    return stats.t_closeness_audit(
        banded, ["c_nationkey", "c_mktsegment"], "bal_band", t_max=0.06
    ).orderBy("c_nationkey", "c_mktsegment")


ORACLE_T_CLOSENESS = """
WITH cells AS (
    SELECT c_nationkey AS q0, c_mktsegment AS q1,
           CAST(floor(c_acctbal / 2000) AS INTEGER) AS b,
           count(*) AS c
    FROM customer
    WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
      AND c_acctbal IS NOT NULL
    GROUP BY 1, 2, 3
),
groups AS (SELECT q0, q1, sum(c) AS ng FROM cells GROUP BY 1, 2),
bands AS (SELECT b, sum(c) AS cb FROM cells GROUP BY 1),
tot AS (SELECT sum(cb) AS n_all, count(*) AS m FROM bands),
grid AS (SELECT g.q0, g.q1, g.ng, b.b FROM groups g CROSS JOIN bands b),
filled AS (
    SELECT grid.q0, grid.q1, grid.ng, grid.b, coalesce(c.c, 0) AS c
    FROM grid LEFT JOIN cells c
      ON grid.q0 = c.q0 AND grid.q1 = c.q1 AND grid.b = c.b
),
cum AS (
    SELECT q0, q1, ng, b,
           sum(c) OVER (PARTITION BY q0, q1 ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS cg
    FROM filled
),
bcum AS (
    SELECT b, sum(cb) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ca
    FROM bands
),
emds AS (
    SELECT q0, q1, ng,
           CAST(sum(abs(CAST(cg AS HUGEINT) * t.n_all
                        - CAST(ca AS HUGEINT) * ng)) AS DOUBLE)
           / (CAST(ng AS DOUBLE) * t.n_all
              * greatest(t.m - 1, 1)) AS emd
    FROM cum JOIN bcum USING (b) CROSS JOIN tot t
    GROUP BY q0, q1, ng, t.n_all, t.m
)
SELECT q0 AS c_nationkey, q1 AS c_mktsegment, ng AS n,
       round(emd, 6) AS emd
FROM emds
WHERE round(emd, 6) > 0.06
ORDER BY 1, 2
"""


def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average unit price per (return flag, ship
    month) vs the simple mean — the size-bias diagnostic, one exact
    micro-cent hash aggregate (``windows.volume_weighted_avg``)."""
    from ..operators import windows as w

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    priced = li.filter(
        F.col("l_quantity").isNotNull() & (F.col("l_quantity") > 0)
    ).select(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_price"
        ),
        "l_quantity",
        "l_extendedprice",
    )
    return w.volume_weighted_avg(
        priced,
        ["l_returnflag", "ship_month"],
        "unit_price",
        "l_quantity",
        notional_col="l_extendedprice",
    )


ORACLE_VWAP = """
WITH base AS (
    SELECT l_returnflag,
           strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(round(l_quantity) AS HUGEINT) AS q,
           CAST(round(l_extendedprice * 100) AS HUGEINT) AS nc,
           CAST(round((l_extendedprice / l_quantity) * 100)
                AS HUGEINT) AS pc
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_quantity > 0
      AND l_extendedprice IS NOT NULL
),
agg AS (
    SELECT l_returnflag, ship_month, count(*) AS n,
           sum(q) AS sq, sum(nc) AS sn, sum(pc) AS sp
    FROM base GROUP BY 1, 2
)
SELECT l_returnflag, ship_month, n,
       CAST(sq AS BIGINT) AS total_qty,
       round(CASE WHEN sq > 0
                  THEN CAST(sn AS DOUBLE) / 100.0 / CAST(sq AS DOUBLE)
             END, 6) AS vwap,
       round(CAST(sp AS DOUBLE) / 100.0 / n, 6) AS avg_price,
       round(CASE WHEN sq > 0
                  THEN CAST(sn AS DOUBLE) / 100.0 / CAST(sq AS DOUBLE)
             END
             - CAST(sp AS DOUBLE) / 100.0 / n, 6) AS size_bias
FROM agg
"""


register("spearman_corr", q_spearman_corr, ORACLE_SPEARMAN)
register("anova_f", q_anova_f, ORACLE_ANOVA)
register("kruskal_wallis", q_kruskal_wallis, ORACLE_KRUSKAL)
register("t_closeness", q_t_closeness, ORACLE_T_CLOSENESS)
register("vwap", q_vwap, ORACLE_VWAP)


# --- round-10 widening batch 7: information-theoretic association ---


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between return flag and line status — one
    contingency aggregate, margins derived from the cell table
    (``stats.mutual_information``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.mutual_information(li, "l_returnflag", "l_linestatus")


ORACLE_MUTUAL_INFO = """
WITH cells AS (
    SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS o
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
    GROUP BY 1, 2
),
ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
tot AS (SELECT sum(o) AS n FROM cells),
mi AS (
    SELECT t.n,
           sum(CAST(c.o AS DOUBLE) / CAST(t.n AS DOUBLE)
               * ln(CAST(c.o AS DOUBLE) * CAST(t.n AS DOUBLE)
                    / (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
           ) AS mi
    FROM cells c
    JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot t
    GROUP BY t.n
),
hx AS (
    SELECT t.n,
           ln(CAST(t.n AS DOUBLE))
               - sum(CAST(ra AS DOUBLE) * ln(CAST(ra AS DOUBLE)))
                 / CAST(t.n AS DOUBLE) AS h_x
    FROM ra CROSS JOIN tot t GROUP BY t.n
),
hy AS (
    SELECT t.n,
           ln(CAST(t.n AS DOUBLE))
               - sum(CAST(cb AS DOUBLE) * ln(CAST(cb AS DOUBLE)))
                 / CAST(t.n AS DOUBLE) AS h_y
    FROM cb CROSS JOIN tot t GROUP BY t.n
)
SELECT mi.n,
       round(h_x, 6) AS h_x,
       round(h_y, 6) AS h_y,
       round(mi, 6) AS mi_nats,
       round(CASE WHEN h_x > 0 AND h_y > 0
                  THEN mi / sqrt(h_x * h_y) END, 6) AS nmi
FROM mi JOIN hx USING (n) JOIN hy USING (n)
"""


def q_feature_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of ship month, quantity, and discount about
    the return flag — melt-once, bin equi-width, one cell aggregate
    (``stats.feature_info_gain``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).withColumn(
        "ship_month", F.month("l_shipdate").cast("double")
    )
    return stats.feature_info_gain(
        li,
        ["ship_month", "l_quantity", "l_discount"],
        "l_returnflag",
        bins=8,
    )


ORACLE_INFO_GAIN = """
WITH melted AS (
    SELECT 'ship_month' AS f, CAST(month(l_shipdate) AS DOUBLE) AS v,
           l_returnflag AS y
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_shipdate IS NOT NULL
    UNION ALL
    SELECT 'l_quantity', CAST(l_quantity AS DOUBLE), l_returnflag
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    UNION ALL
    SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_returnflag
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_discount IS NOT NULL
),
ranges AS (SELECT f, min(v) AS lo, max(v) AS hi FROM melted GROUP BY 1),
binned AS (
    SELECT m.f, m.y,
           CASE WHEN r.hi > r.lo
                THEN least(CAST(floor((m.v - r.lo)
                                      / ((r.hi - r.lo) / 8))
                           AS INTEGER), 7)
                ELSE 0 END AS b
    FROM melted m JOIN ranges r USING (f)
),
cells AS (SELECT f, b, y, count(*) AS c FROM binned GROUP BY 1, 2, 3),
per_bin AS (
    SELECT f, b, sum(c) AS nb,
           sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
    FROM cells GROUP BY 1, 2
),
per_label AS (SELECT f, y, sum(c) AS nl FROM cells GROUP BY 1, 2),
per_feat AS (SELECT f, sum(nb) AS n FROM per_bin GROUP BY 1),
cond AS (
    SELECT f,
           sum(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE))) AS nblnnb,
           sum(clnc) AS sclnc
    FROM per_bin GROUP BY 1
),
lab AS (
    SELECT f,
           sum(CAST(nl AS DOUBLE) * ln(CAST(nl AS DOUBLE))) AS nllnnl
    FROM per_label GROUP BY 1
)
SELECT p.f AS feature, p.n,
       round(ln(CAST(p.n AS DOUBLE)) - lab.nllnnl / CAST(p.n AS DOUBLE),
             6) AS h_label,
       round((ln(CAST(p.n AS DOUBLE)) - lab.nllnnl / CAST(p.n AS DOUBLE))
             - (cond.nblnnb - cond.sclnc) / CAST(p.n AS DOUBLE),
             6) AS info_gain,
       round(CASE WHEN ln(CAST(p.n AS DOUBLE))
                       - cond.nblnnb / CAST(p.n AS DOUBLE) > 0
                  THEN ((ln(CAST(p.n AS DOUBLE))
                         - lab.nllnnl / CAST(p.n AS DOUBLE))
                        - (cond.nblnnb - cond.sclnc)
                          / CAST(p.n AS DOUBLE))
                       / (ln(CAST(p.n AS DOUBLE))
                          - cond.nblnnb / CAST(p.n AS DOUBLE))
             END, 6) AS gain_ratio
FROM per_feat p JOIN cond USING (f) JOIN lab USING (f)
"""


register("mutual_information", q_mutual_information, ORACLE_MUTUAL_INFO)
register("feature_info_gain", q_feature_info_gain, ORACLE_INFO_GAIN)


# --- round-10 widening batch 8: concordance + shrinkage ranking ---


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and discount tier — contingency
    collapse + domain-bounded cell-pair join
    (``stats.kendall_tau``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_quantity",
        F.round(F.col("l_discount") * 100).cast("int").alias(
            "discount_pct"
        ),
    )
    return stats.kendall_tau(li, "l_quantity", "discount_pct")


ORACLE_KENDALL = """
WITH cells AS (
    SELECT l_quantity AS x,
           CAST(round(l_discount * 100) AS INTEGER) AS y,
           count(*) AS c
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    GROUP BY 1, 2
),
cd AS (
    SELECT
        sum(CASE WHEN b.y > a.y
                 THEN CAST(a.c AS HUGEINT) * b.c END) AS conc,
        sum(CASE WHEN b.y < a.y
                 THEN CAST(a.c AS HUGEINT) * b.c END) AS disc
    FROM cells a JOIN cells b ON a.x < b.x
),
tx AS (SELECT x, sum(c) AS t FROM cells GROUP BY 1),
ty AS (SELECT y, sum(c) AS t FROM cells GROUP BY 1),
tiex AS (
    SELECT sum((CAST(t AS HUGEINT) * (t - 1)) // 2) AS n1,
           sum(t) AS n
    FROM tx
),
tiey AS (SELECT sum((CAST(t AS HUGEINT) * (t - 1)) // 2) AS n2 FROM ty)
SELECT n,
       CAST(coalesce(conc, 0) AS BIGINT) AS concordant,
       CAST(coalesce(disc, 0) AS BIGINT) AS discordant,
       round(CASE WHEN (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                        / 2.0 - CAST(n1 AS DOUBLE))
                       * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                          / 2.0 - CAST(n2 AS DOUBLE)) > 0
                  THEN (CAST(coalesce(conc, 0) AS DOUBLE)
                        - CAST(coalesce(disc, 0) AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1) / 2.0
                               - CAST(n1 AS DOUBLE))
                              * (CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) - 1) / 2.0
                                 - CAST(n2 AS DOUBLE)))
             END, 6) AS tau_b
FROM cd CROSS JOIN tiex CROSS JOIN tiey
"""


def q_empirical_bayes_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beta-binomial shrunk per-supplier return rates — one entity
    aggregate + a method-of-moments prior fit on the entity table
    (``stats.empirical_bayes_rates``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.empirical_bayes_rates(
        li,
        ["l_suppkey"],
        (F.col("l_returnflag") == "R"),
        min_n=5,
    )


ORACLE_EB_RATES = """
WITH per AS (
    SELECT l_suppkey, count(*) AS n,
           sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS successes
    FROM lineitem
    GROUP BY 1
    HAVING count(*) >= 5
),
rated AS (
    SELECT *, CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate
    FROM per
),
prior AS (
    SELECT avg(raw_rate) AS m, var_samp(raw_rate) AS v FROM rated
)
SELECT l_suppkey, n, successes,
       round(raw_rate, 6) AS raw_rate,
       round(CASE WHEN v > 0 AND m > 0 AND m < 1
                   AND m * (1 - m) / v - 1 > 0
                  THEN (CAST(successes AS DOUBLE)
                        + m * (m * (1 - m) / v - 1))
                       / (CAST(n AS DOUBLE)
                          + m * (m * (1 - m) / v - 1)
                          + (1 - m) * (m * (1 - m) / v - 1))
             END, 6) AS shrunk_rate
FROM rated CROSS JOIN prior
"""


register("kendall_tau", q_kendall_tau, ORACLE_KENDALL)
register("empirical_bayes_rates", q_empirical_bayes_rates, ORACLE_EB_RATES)


# --- round-10 widening batch 9: diagnostics + indicators + topology ---


def q_levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test of extended price
    across return flags — histogram-exact group medians feeding the
    micro-unit ANOVA reduction (``stats.levene_test``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.levene_test(li, "l_extendedprice", "l_returnflag")


ORACLE_LEVENE = """
WITH meds AS (
    SELECT l_returnflag AS g,
           quantile_cont(l_extendedprice, 0.5) AS med
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    GROUP BY 1
),
z AS (
    SELECT l.l_returnflag AS g,
           CAST(round(abs(l.l_extendedprice - m.med) * 1000000)
                AS HUGEINT) AS zm
    FROM lineitem l JOIN meds m ON l.l_returnflag = m.g
    WHERE l.l_extendedprice IS NOT NULL
),
per AS (
    SELECT g, count(*) AS n, sum(zm) AS s, sum(zm * zm) AS s2
    FROM z GROUP BY 1
),
terms AS (
    SELECT n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           CAST(s2 AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE) AS ssw,
           CAST(s AS DOUBLE) AS sd
    FROM per
),
tot AS (
    SELECT count(*) AS k, sum(n) AS n, sum(sd) AS gs,
           sum(n * mean * mean) AS snm2, sum(ssw) AS ssw_t
    FROM terms
)
SELECT k, n,
       round(CASE WHEN k > 1 AND n > k AND ssw_t > 0
                  THEN ((snm2 - gs * gs / CAST(n AS DOUBLE)) / (k - 1))
                       / (ssw_t / (n - k)) END, 6) AS w_stat,
       k - 1 AS dof_between,
       n - k AS dof_within
FROM tot
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality screen of quantity per return flag —
    ONE hash aggregate of exact integral power sums
    (``stats.jarque_bera``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.jarque_bera(li, "l_quantity", ["l_returnflag"])


ORACLE_JARQUE_BERA = """
WITH per AS (
    SELECT l_returnflag, count(*) AS n,
           sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS s1,
           sum(CAST(l_quantity AS HUGEINT)
               * CAST(l_quantity AS BIGINT)) AS s2,
           sum(CAST(l_quantity AS HUGEINT)
               * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT)) AS s3,
           sum(CAST(l_quantity AS HUGEINT)
               * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT)) AS s4
    FROM lineitem
    WHERE l_quantity IS NOT NULL
    GROUP BY 1
),
mom AS (
    SELECT l_returnflag, n,
           CAST(s1 AS DOUBLE) / n AS m1,
           CAST(s2 AS DOUBLE) / n AS r2,
           CAST(s3 AS DOUBLE) / n AS r3,
           CAST(s4 AS DOUBLE) / n AS r4
    FROM per
),
cm AS (
    SELECT l_returnflag, n,
           r2 - m1 * m1 AS m2,
           r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
           r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
              - 3 * m1 * m1 * m1 * m1 AS m4
    FROM mom
)
SELECT l_returnflag, n,
       round(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 6)
           AS skewness,
       round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END, 6) AS kurtosis,
       round(CASE WHEN m2 > 0 THEN
             CAST(n AS DOUBLE) / 6.0
             * ((m3 / pow(m2, 1.5)) * (m3 / pow(m2, 1.5))
                + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                  / 4.0) END, 6) AS jb_stat
FROM cm
"""


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz randomness check of the daily revenue series per
    order priority — exact-cent daily collapse, then one lag window
    per priority (``stats.runs_test``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = (
        o.groupBy("o_orderpriority", "o_orderdate")
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).cast("double")
                / 100.0
            ).alias("rev")
        )
    )
    return stats.runs_test(
        daily, "o_orderdate", "rev", ["o_orderpriority"]
    )


ORACLE_RUNS_TEST = """
WITH daily AS (
    SELECT o_orderpriority AS g, o_orderdate AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS rev
    FROM orders
    GROUP BY 1, 2
),
meds AS (
    SELECT g, quantile_cont(rev, 0.5) AS med FROM daily GROUP BY 1
),
signed AS (
    SELECT daily.g, d,
           CASE WHEN rev > med THEN 1 ELSE 0 END AS sign
    FROM daily JOIN meds ON daily.g = meds.g
    WHERE rev <> med
),
marked AS (
    SELECT g, sign,
           CASE WHEN lag(sign) OVER (PARTITION BY g ORDER BY d)
                     IS DISTINCT FROM sign
                THEN 1 ELSE 0 END AS new_run
    FROM signed
),
per AS (
    SELECT g AS o_orderpriority,
           sum(sign) AS n_above,
           sum(1 - sign) AS n_below,
           sum(new_run) AS runs
    FROM marked GROUP BY 1
)
SELECT o_orderpriority,
       CAST(n_above AS BIGINT) AS n_above,
       CAST(n_below AS BIGINT) AS n_below,
       CAST(runs AS BIGINT) AS runs,
       round(CASE WHEN n_above > 0 AND n_below > 0
                   AND 2.0 * n_above * n_below
                       * (2.0 * n_above * n_below - (n_above + n_below))
                       / ((n_above + n_below) * (n_above + n_below)
                          * (n_above + n_below - 1.0)) > 0
                  THEN (CAST(runs AS DOUBLE)
                        - (2.0 * n_above * n_below
                           / (n_above + n_below) + 1.0))
                       / sqrt(2.0 * n_above * n_below
                              * (2.0 * n_above * n_below
                                 - (n_above + n_below))
                              / ((n_above + n_below)
                                 * (n_above + n_below)
                                 * (n_above + n_below - 1.0)))
             END, 6) AS z
FROM per
"""


def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Bollinger channel with breakout labels over the global
    daily revenue series — exact-cent daily collapse, micro-unit
    window sums (``windows.bollinger_bands``)."""
    from ..operators.windows import bollinger_bands

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = o.groupBy("o_orderdate").agg(
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("double")
            / 100.0
        ).alias("rev")
    )
    return bollinger_bands(daily, "o_orderdate", "rev", window=20, k=2.0)


ORACLE_BOLLINGER = """
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS rev
    FROM orders
    GROUP BY 1
),
m AS (
    SELECT d, rev,
           CAST(round(rev * 1000000) AS HUGEINT) AS mi
    FROM daily
),
agged AS (
    SELECT d, rev,
           count(*) OVER w AS cnt,
           sum(mi) OVER w AS s,
           sum(mi * mi) OVER w AS s2
    FROM m
    WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
bands AS (
    SELECT d, rev, cnt,
           CAST(s AS DOUBLE) / 20.0 / 1000000.0 AS mid,
           sqrt(greatest(
               (CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 20.0)
               / 19.0, 0.0)) / 1000000.0 AS std
    FROM agged
)
SELECT d AS o_orderdate, rev,
       round(CASE WHEN cnt = 20 THEN mid END, 6) AS mid,
       round(CASE WHEN cnt = 20 THEN mid + 2.0 * std END, 6) AS upper,
       round(CASE WHEN cnt = 20 THEN mid - 2.0 * std END, 6) AS lower,
       CASE WHEN cnt <> 20 THEN NULL
            WHEN rev > mid + 2.0 * std THEN 'high'
            WHEN rev < mid - 2.0 * std THEN 'low'
            ELSE 'in' END AS signal
FROM bands
"""


def q_rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period Cutler RSI of the daily revenue series per order
    priority — exact micro-unit diffs through one lag + one trailing
    window per priority (``windows.rsi_cutler``)."""
    from ..operators.windows import rsi_cutler

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = (
        o.groupBy("o_orderpriority", "o_orderdate")
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).cast("double")
                / 100.0
            ).alias("rev")
        )
    )
    return rsi_cutler(
        daily, "o_orderdate", "rev", period=14,
        group_cols=["o_orderpriority"],
    )


ORACLE_RSI = """
WITH daily AS (
    SELECT o_orderpriority AS g, o_orderdate AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS rev
    FROM orders
    GROUP BY 1, 2
),
m AS (
    SELECT g, d, rev,
           CAST(round(rev * 1000000) AS HUGEINT) AS mi
    FROM daily
),
diffed AS (
    SELECT g, d, rev,
           mi - lag(mi) OVER (PARTITION BY g ORDER BY d) AS df
    FROM m
),
gl AS (
    SELECT g, d, rev,
           CASE WHEN df > 0 THEN df ELSE 0 END AS gain,
           CASE WHEN df < 0 THEN -df ELSE 0 END AS loss,
           CASE WHEN df IS NULL THEN 0 ELSE 1 END AS has_d
    FROM diffed
),
agged AS (
    SELECT g, d, rev,
           sum(has_d) OVER w AS nd,
           sum(gain) OVER w AS sg,
           sum(loss) OVER w AS sl
    FROM gl
    WINDOW w AS (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT g AS o_orderpriority, d AS o_orderdate, rev,
       round(CASE WHEN nd = 14 AND CAST(sg AS DOUBLE)
                       + CAST(sl AS DOUBLE) > 0
                  THEN 100.0 * CAST(sg AS DOUBLE)
                       / (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE))
             END, 6) AS rsi
FROM agged
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the ≥2-support part co-purchase
    graph — do hub parts co-sell with other hubs?  One scalar
    aggregate of exact integer degree sums
    (``graph.degree_assortativity``)."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return graph.degree_assortativity(edges, "src", "dst")


ORACLE_ASSORTATIVITY = """
WITH e0 AS MATERIALIZED (
    SELECT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS MATERIALIZED (
    SELECT a AS u, b AS v FROM e0 UNION SELECT b AS u, a AS v FROM e0
),
deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1),
pairs AS (
    SELECT du.d AS x, dv.d AS y
    FROM sym JOIN deg du ON sym.u = du.u JOIN deg dv ON sym.v = dv.u
),
tot AS (
    SELECT count(*) AS ne,
           sum(CAST(x AS HUGEINT)) AS sx,
           sum(CAST(y AS HUGEINT)) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sx2,
           sum(CAST(y AS HUGEINT) * y) AS sy2
    FROM pairs
),
nn AS (SELECT count(*) AS n_nodes FROM deg)
SELECT n_nodes, ne AS n_directed_edges,
       round(CASE WHEN (ne * CAST(sx2 AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (ne * CAST(sy2 AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                  THEN (ne * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((ne * CAST(sx2 AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (ne * CAST(sy2 AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE)))
             END, 6) AS assortativity
FROM tot CROSS JOIN nn
"""


register("levene_variance", q_levene_variance, ORACLE_LEVENE)
register("jarque_bera", q_jarque_bera, ORACLE_JARQUE_BERA)
register("runs_test", q_runs_test, ORACLE_RUNS_TEST)
register("bollinger_bands", q_bollinger_bands, ORACLE_BOLLINGER)
register("rsi_indicator", q_rsi_indicator, ORACLE_RSI)
register("degree_assortativity", q_degree_assortativity, ORACLE_ASSORTATIVITY)


# --- round-10 widening batch 10: quality gates + feature/privacy ops ---


_EXPECTATIONS = [
    {"column": "o_orderkey", "kind": "not_null"},
    {"column": "o_orderkey", "kind": "unique"},
    {"column": "o_totalprice", "kind": "range", "lo": 0, "hi": 600000},
    {
        "column": "o_orderpriority",
        "kind": "in_set",
        "values": [
            "1-URGENT",
            "2-HIGH",
            "3-MEDIUM",
            "4-NOT SPECIFIED",
            "5-LOW",
        ],
    },
    {"column": "o_orderstatus", "kind": "regexp", "pattern": "^[FOP]$"},
]


def q_expectation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-expectation data-quality suite over orders in ONE scan —
    row-level violations per expectation
    (``profiling.expectation_audit``)."""
    from ..operators.profiling import expectation_audit

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return expectation_audit(o, _EXPECTATIONS)


ORACLE_EXPECTATION_AUDIT = """
WITH agg AS (
    SELECT count(*) AS n,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
           count(o_orderkey) - count(DISTINCT o_orderkey) AS v1,
           sum(CASE WHEN o_totalprice IS NOT NULL
                     AND (o_totalprice < 0 OR o_totalprice > 600000)
                    THEN 1 ELSE 0 END) AS v2,
           sum(CASE WHEN o_orderpriority IS NOT NULL
                     AND o_orderpriority NOT IN
                         ('1-URGENT','2-HIGH','3-MEDIUM',
                          '4-NOT SPECIFIED','5-LOW')
                    THEN 1 ELSE 0 END) AS v3,
           sum(CASE WHEN o_orderstatus IS NOT NULL
                     AND NOT regexp_matches(o_orderstatus, '^[FOP]$')
                    THEN 1 ELSE 0 END) AS v4
    FROM orders
),
rows_out AS (
    SELECT 'o_orderkey' AS "column", 'not_null' AS expectation,
           '' AS detail, n, CAST(v0 AS BIGINT) AS n_violations
    FROM agg
    UNION ALL
    SELECT 'o_orderkey', 'unique', '', n, CAST(v1 AS BIGINT) FROM agg
    UNION ALL
    SELECT 'o_totalprice', 'range', '[0, 600000]', n,
           CAST(v2 AS BIGINT) FROM agg
    UNION ALL
    SELECT 'o_orderpriority', 'in_set', '5 allowed', n,
           CAST(v3 AS BIGINT) FROM agg
    UNION ALL
    SELECT 'o_orderstatus', 'regexp', '^[FOP]$', n,
           CAST(v4 AS BIGINT) FROM agg
)
SELECT "column", expectation, detail, n AS n_rows, n_violations,
       round(CASE WHEN n > 0
                  THEN CAST(n_violations AS DOUBLE) / n
                  ELSE 0.0 END, 6) AS violation_rate,
       n_violations = 0 AS passed
FROM rows_out
"""


def q_semantic_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-embedding screen: cosine to the per-label centroid,
    bottom decile flagged — O(rows x dim), no pair joins
    (``similarity.semantic_outlier``)."""
    from ..operators.similarity import semantic_outlier

    e = rebalance(load_table(spark, sf_dir, "embeddings"))
    return semantic_outlier(
        e, "vec_id", "label", "embedding", bottom_frac=0.1
    )


ORACLE_SEMANTIC_OUTLIER = """
WITH x AS (
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
    WHERE embedding IS NOT NULL AND label IS NOT NULL
),
cent AS (
    SELECT label, i, avg(v) AS c FROM x GROUP BY 1, 2
),
cnorm AS (SELECT label, sum(c * c) AS cc FROM cent GROUP BY 1),
per AS (
    SELECT vec_id, x.label, sum(v * c) AS dot, sum(v * v) AS vv
    FROM x JOIN cent ON x.label = cent.label AND x.i = cent.i
    GROUP BY 1, 2
),
scored AS (
    SELECT vec_id, per.label,
           round(CASE WHEN vv > 0 AND cc > 0
                      THEN dot / sqrt(vv * cc) END, 6) AS cos_centroid
    FROM per JOIN cnorm ON per.label = cnorm.label
),
cuts AS (
    SELECT label, round(quantile_cont(cos_centroid, 0.1), 6) AS cutoff
    FROM scored GROUP BY 1
)
SELECT vec_id, scored.label, cos_centroid, cutoff,
       cos_centroid <= cutoff AS is_outlier
FROM scored JOIN cuts ON scored.label = cuts.label
"""


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate on a synthetic 50/50 split of event
    users (arm = user_id mod 2) — one k-row aggregate
    (``stats.srm_check``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events")).select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    )
    return stats.srm_check(e, "arm", {0: 0.5, 1: 0.5})


ORACLE_SRM = """
WITH obs AS (
    SELECT user_id % 2 AS arm, count(*) AS o
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1
),
design AS (
    SELECT * FROM (VALUES (0, 0.5), (1, 0.5)) d(arm, share)
),
j AS (
    SELECT d.share, coalesce(o.o, 0) AS o
    FROM design d LEFT JOIN obs o ON d.arm = o.arm
),
decl AS (SELECT count(*) AS k, sum(o) AS n FROM j),
und AS (
    SELECT coalesce(sum(o), 0) AS n_undeclared
    FROM obs WHERE arm NOT IN (SELECT arm FROM design)
)
SELECT k, CAST(n AS BIGINT) AS n,
       CAST(n_undeclared AS BIGINT) AS n_undeclared,
       round(CASE WHEN n > 0 THEN (
           SELECT sum(pow(CAST(o AS DOUBLE) - share * n, 2)
                      / (share * n)) FROM j
       ) END, 6) AS chi2,
       k - 1 AS dof
FROM decl CROSS JOIN und
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of return flag against
    quantity — exact micro-unit sums, corpus never shuffles
    (``stats.target_encode``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return stats.target_encode(
        li, "l_returnflag", "l_quantity", smoothing=20.0
    )


ORACLE_TARGET_ENCODE = """
WITH base AS (
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
           CAST(round(l_quantity * 1000000) AS HUGEINT) AS tm
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
),
per AS (
    SELECT l_returnflag, count(*) AS cn, sum(tm) AS cs
    FROM base GROUP BY 1
),
g AS (SELECT count(*) AS gn, sum(tm) AS gs FROM base)
SELECT l_orderkey, l_linenumber, base.l_returnflag, l_quantity,
       round(((CAST(cs AS DOUBLE) - CAST(tm AS DOUBLE)
               + 20.0 * (CAST(gs AS DOUBLE) / gn))
              / (cn - 1.0 + 20.0)) / 1000000.0, 6) AS target_enc
FROM base JOIN per ON base.l_returnflag = per.l_returnflag CROSS JOIN g
"""


_DP_SALT = 7
_DP_EPS = 1.0


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-DP releasable histogram of orders per priority — counts
    plus deterministic seeded Laplace(1/eps) noise
    (``stats.dp_noisy_counts``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.dp_noisy_counts(
        o, ["o_orderpriority"], epsilon=_DP_EPS, salt=_DP_SALT
    )


def _dp_oracle() -> str:
    m = 2147483647
    key = (
        "CAST(concat('0x', substr(md5(concat('7:', "
        "CAST(o_orderpriority AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    return f"""
WITH per AS (
    SELECT o_orderpriority, count(*) AS n,
           {key} % {m} AS s0
    FROM orders
    GROUP BY 1
),
lehmer AS (
    SELECT o_orderpriority, n,
           (((s0 * 48271) % {m}) * 48271 % {m}) * 48271 % {m} AS s3
    FROM per
),
unif AS (
    SELECT o_orderpriority, n,
           greatest(CAST(s3 AS DOUBLE) / {float(m)!r},
                    {0.5 / m!r}) AS u
    FROM lehmer
)
SELECT o_orderpriority,
       round(greatest(
           CAST(n AS DOUBLE)
           - {1.0 / _DP_EPS!r} * sign(u - 0.5)
             * ln(1.0 - 2.0 * abs(u - 0.5)),
           0.0), 6) AS noisy_count
FROM unif
"""


register("expectation_audit", q_expectation_audit, ORACLE_EXPECTATION_AUDIT)
register("semantic_outlier", q_semantic_outlier, ORACLE_SEMANTIC_OUTLIER)
register("srm_check", q_srm_check, ORACLE_SRM)
register("target_encode", q_target_encode, ORACLE_TARGET_ENCODE)
register("dp_noisy_counts", q_dp_noisy_counts, _dp_oracle())


# --- round-10 widening batch 11: multiple-testing inference ---


def q_rate_ztest_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest two-proportion z per order priority (success =
    fulfilled status 'F') — ONE k-row aggregate, exact counts
    (``stats.one_vs_rest_rate_ztest``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.one_vs_rest_rate_ztest(
        o, "o_orderpriority", (F.col("o_orderstatus") == "F")
    )


ORACLE_RATE_ZTEST = """
WITH per AS (
    SELECT o_orderpriority, count(*) AS n,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS successes
    FROM orders
    WHERE o_orderpriority IS NOT NULL
    GROUP BY 1
),
tot AS (SELECT sum(n) AS nt, sum(successes) AS st FROM per)
SELECT o_orderpriority, n,
       CAST(successes AS BIGINT) AS successes,
       round(CASE WHEN n > 0
                  THEN CAST(successes AS DOUBLE) / n END, 6) AS rate,
       round(CASE WHEN nt - n > 0
                  THEN CAST(st - successes AS DOUBLE) / (nt - n)
             END, 6) AS rest_rate,
       round(CASE WHEN n > 0 AND nt - n > 0
                   AND (CAST(st AS DOUBLE) / nt)
                       * (1.0 - CAST(st AS DOUBLE) / nt)
                       * (1.0 / n + 1.0 / (nt - n)) > 0
                  THEN (CAST(successes AS DOUBLE) / n
                        - CAST(st - successes AS DOUBLE) / (nt - n))
                       / sqrt((CAST(st AS DOUBLE) / nt)
                              * (1.0 - CAST(st AS DOUBLE) / nt)
                              * (1.0 / n + 1.0 / (nt - n)))
             END, 6) AS z
FROM per CROSS JOIN tot
"""


# 1 - Phi(|z|) via A&S 7.1.26, as a SQL fragment parameterized on the
# (already-absolute) argument expression — the literal twin of
# stats.normal_cdf
def _sql_upper_tail(x: str) -> str:
    t = f"(1.0 / (1.0 + 0.2316419 * {x}))"
    poly = (
        f"((((1.330274429 * {t} - 1.821255978) * {t} + 1.781477937)"
        f" * {t} - 0.356563782) * {t} + 0.319381530) * {t}"
    )
    pdf = f"(exp(-({x}) * ({x}) / 2.0) / 2.5066282746310002)"
    return f"({pdf} * ({poly}))"


def q_multiple_testing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full segment-sweep inference chain: per-priority
    one-vs-rest z -> portable normal p-values -> Benjamini–Hochberg
    FDR adjustment with reject flags
    (``stats.attach_pvalue`` + ``stats.bh_adjust``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    zs = stats.one_vs_rest_rate_ztest(
        o, "o_orderpriority", (F.col("o_orderstatus") == "F")
    )
    with_p = stats.attach_pvalue(zs, "z", sided=2)
    return stats.bh_adjust(with_p, "p_value", alpha=0.05)


def _multiple_testing_oracle() -> str:
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
       round(least(
           min(p_value * m / rank) OVER (
               ORDER BY rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           1.0), 6) AS q_value,
       round(least(
           min(p_value * m / rank) OVER (
               ORDER BY rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           1.0), 6) <= 0.05 AS reject
FROM ranked
"""


register("rate_ztest_sweep", q_rate_ztest_sweep, ORACLE_RATE_ZTEST)
register("multiple_testing", q_multiple_testing, _multiple_testing_oracle())


# --- round-10 widening batch 12: centrality, trend, reshape ---


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality over the part–supplier graph from
    the seed parts (l_partkey % 500 = 1), hops ≤ 4 — k interleaved
    delta-frontier BFS over one checkpointed edge table
    (``graph.harmonic_centrality``)."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.lit(10_000_000) + F.col("l_suppkey")).alias("dst"),
    )
    seeds = li.filter(F.col("l_partkey") % 500 == 1).select(
        F.col("l_partkey").alias("node")
    )
    return graph.harmonic_centrality(edges, seeds, max_hops=4)


def _harmonic_oracle(max_hops: int = 4) -> str:
    parts = [
        "edges AS MATERIALIZED ("
        "SELECT DISTINCT l_partkey AS u, 10000000 + l_suppkey AS v "
        "FROM lineitem UNION "
        "SELECT DISTINCT 10000000 + l_suppkey AS u, l_partkey AS v "
        "FROM lineitem)",
        "d0 AS (SELECT DISTINCT l_partkey AS s, l_partkey AS node, "
        "0 AS hops FROM lineitem WHERE l_partkey % 500 = 1)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS (SELECT DISTINCT p.s, e.v AS node FROM edges e "
            f"JOIN d{h-1} p ON e.u = p.node AND p.hops = {h-1} "
            f"WHERE NOT EXISTS (SELECT 1 FROM d{h-1} x "
            f"WHERE x.s = p.s AND x.node = e.v))"
        )
        parts.append(
            f"d{h} AS (SELECT s, node, hops FROM d{h-1} "
            f"UNION ALL SELECT s, node, {h} AS hops FROM f{h})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT node, count(*) AS n_sources,
       round(sum(1.0 / hops), 6) AS harmonic
FROM d{max_hops} WHERE hops > 0 GROUP BY 1"""
    )


def q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling OLS trend of daily revenue per order priority —
    integer-exact window sums, doubles only on the per-row assembly
    (``windows.rolling_slope``)."""
    from ..operators.windows import rolling_slope

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = (
        o.groupBy("o_orderpriority", "o_orderdate")
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).cast("double")
                / 100.0
            ).alias("rev")
        )
    )
    return rolling_slope(
        daily, "o_orderdate", "rev", window=14,
        group_cols=["o_orderpriority"],
    )


ORACLE_ROLLING_SLOPE = """
WITH daily AS (
    SELECT o_orderpriority AS g, o_orderdate AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS rev
    FROM orders
    GROUP BY 1, 2
),
m AS (
    SELECT g, d, rev,
           CAST(round(rev * 1000000) AS HUGEINT) AS mi,
           CAST(row_number() OVER (PARTITION BY g ORDER BY d)
                AS HUGEINT) AS i
    FROM daily
),
agged AS (
    SELECT g, d, rev,
           count(*) OVER w AS cnt,
           sum(mi) OVER w AS sy,
           sum(i * mi) OVER w AS sxy,
           sum(i) OVER w AS sx,
           sum(i * i) OVER w AS sx2
    FROM m
    WINDOW w AS (PARTITION BY g ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT g AS o_orderpriority, d AS o_orderdate, rev,
       round(CASE WHEN cnt = 14
                   AND 14.0 * CAST(sx2 AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  THEN ((14.0 * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (14.0 * CAST(sx2 AS DOUBLE)
                           - CAST(sx AS DOUBLE)
                             * CAST(sx AS DOUBLE)))
                       / 1000000.0
             END, 6) AS slope
FROM agged
"""


def q_melt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-priority KPI row melted to long (metric, value) —
    explode-based UNPIVOT, no shuffle (``reshape.melt``)."""
    from ..operators.reshape import melt

    o = rebalance(load_table(spark, sf_dir, "orders"))
    cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("long")
    )
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            (cents.cast("double") / 100.0)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return melt(
        wide,
        ["o_orderpriority"],
        ["n_orders", "avg_price", "max_price"],
        var_name="metric",
        value_name="value",
    )


ORACLE_MELT = """
WITH wide AS (
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round((CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS DOUBLE) / 100.0)
                 / CAST(count(*) AS DOUBLE), 6) AS avg_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
)
SELECT o_orderpriority, 'n_orders' AS metric,
       CAST(n_orders AS DOUBLE) AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'avg_price', avg_price FROM wide
UNION ALL
SELECT o_orderpriority, 'max_price', CAST(max_price AS DOUBLE)
FROM wide
"""


register("harmonic_centrality", q_harmonic_centrality, _harmonic_oracle())
register("rolling_slope", q_rolling_slope, ORACLE_ROLLING_SLOPE)
register("melt_metrics", q_melt_metrics, ORACLE_MELT)


# --- round-10 widening batch 13: forecast scoring, lift, survey stats,
# readability ---


def q_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the 7-day seasonal-naive forecast of daily revenue per
    priority with the full metric set (MAE/RMSE/MAPE/sMAPE/MASE) —
    date-join alignment, exact micro-unit error sums
    (``stats.forecast_accuracy``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = o.groupBy("o_orderpriority", "o_orderdate").agg(
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("double")
            / 100.0
        ).alias("actual")
    )
    shifted = daily.select(
        "o_orderpriority",
        F.date_add(F.col("o_orderdate"), 7).alias("o_orderdate"),
        F.col("actual").alias("forecast"),
    )
    joined = daily.join(
        shifted, ["o_orderpriority", "o_orderdate"]
    )
    return stats.forecast_accuracy(
        joined, "o_orderdate", "actual", "forecast",
        group_cols=["o_orderpriority"],
    )


ORACLE_FORECAST_ACCURACY = """
WITH daily AS (
    SELECT o_orderpriority AS g, o_orderdate AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS actual
    FROM orders GROUP BY 1, 2
),
joined AS (
    SELECT a.g, a.d,
           CAST(round(a.actual * 1000000) AS HUGEINT) AS am,
           CAST(round(f.actual * 1000000) AS HUGEINT) AS fm
    FROM daily a
    JOIN daily f ON a.g = f.g AND a.d = f.d + INTERVAL 7 DAY
),
staged AS (
    SELECT g, am, fm,
           abs(am - lag(am) OVER (PARTITION BY g ORDER BY d))
               AS naive_err,
           abs(am - fm) AS err
    FROM joined
),
per AS (
    SELECT g, count(*) AS n,
           sum(err) AS sae,
           sum(err * err) AS sse,
           sum(CASE WHEN am <> 0
                    THEN CAST(err AS DOUBLE) / abs(CAST(am AS DOUBLE))
               END) AS sape,
           sum(CASE WHEN am <> 0 THEN 1 ELSE 0 END) AS n_nonzero,
           sum(CASE WHEN abs(am) + abs(fm) > 0
                    THEN 2.0 * CAST(err AS DOUBLE)
                         / CAST(abs(am) + abs(fm) AS DOUBLE)
                    ELSE 0.0 END) AS ssmape,
           sum(naive_err) AS snaive,
           count(naive_err) AS n_naive
    FROM staged GROUP BY 1
)
SELECT g AS o_orderpriority, n,
       round(CAST(sae AS DOUBLE) / n / 1000000.0, 6) AS mae,
       round(sqrt(CAST(sse AS DOUBLE) / n) / 1000000.0, 6) AS rmse,
       round(CASE WHEN n_nonzero > 0
                  THEN sape / n_nonzero END, 6) AS mape,
       round(ssmape / n, 6) AS smape,
       round(CASE WHEN n_naive > 0
                   AND CAST(snaive AS DOUBLE) / n_naive > 0
                  THEN (CAST(sae AS DOUBLE) / n)
                       / (CAST(snaive AS DOUBLE) / n_naive)
             END, 6) AS mase
FROM per
"""


def q_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift of an activity-count ranking against the
    did-purchase label — how much of the buyer base the top score
    tiles capture (``stats.cumulative_gains``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    users = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.max(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("label"),
    )
    return stats.cumulative_gains(
        users, "score", "label", "user_id", n_buckets=10
    )


ORACLE_CUM_GAINS = """
WITH users AS (
    SELECT user_id, count(*) AS score,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y
    FROM events GROUP BY 1
),
tiled AS (
    SELECT y, ntile(10) OVER (ORDER BY score DESC, user_id ASC)
               AS bucket
    FROM users
),
per AS (
    SELECT bucket, count(*) AS n, sum(y) AS positives
    FROM tiled GROUP BY 1
),
tot AS (SELECT sum(n) AS nt, sum(positives) AS pt FROM per),
cum AS (
    SELECT bucket, n, positives,
           sum(positives) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_positives,
           sum(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_n
    FROM per
)
SELECT bucket, n,
       CAST(positives AS BIGINT) AS positives,
       CAST(cum_positives AS BIGINT) AS cum_positives,
       round(CASE WHEN pt > 0
                  THEN CAST(positives AS DOUBLE) / pt END, 6)
           AS capture_rate,
       round(CASE WHEN pt > 0
                  THEN CAST(cum_positives AS DOUBLE) / pt END, 6)
           AS cum_capture_rate,
       round(CASE WHEN cum_n > 0 AND pt > 0
                  THEN (CAST(cum_positives AS DOUBLE) / pt)
                       / (CAST(cum_n AS DOUBLE) / nt) END, 6) AS lift
FROM cum CROSS JOIN tot
"""


def q_weighted_mean_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price statistics per return flag with Kish
    effective sample size and design effect — one exact-integer
    aggregate (``stats.weighted_mean_ess``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.weighted_mean_ess(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"]
    )


ORACLE_WEIGHTED_ESS = """
WITH base AS (
    SELECT l_returnflag,
           CAST(round(l_extendedprice * 1000000) AS HUGEINT) AS v,
           CAST(round(l_quantity * 1000000) AS HUGEINT) AS w
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      AND l_quantity > 0
),
per AS (
    SELECT l_returnflag, count(*) AS n,
           sum(w) AS sw, sum(w * w) AS sw2,
           sum(w * v) AS swv, sum(w * v * v) AS swv2
    FROM base GROUP BY 1
)
SELECT l_returnflag, n,
       round(CAST(sw AS DOUBLE) / 1000000.0, 6) AS sum_weight,
       round(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)
             / 1000000.0, 6) AS wmean,
       round(greatest(
           CAST(swv2 AS DOUBLE) / CAST(sw AS DOUBLE)
           - (CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE))
             * (CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)), 0.0)
           / 1000000000000.0, 6) AS wvar,
       round(CASE WHEN sw2 > 0
                  THEN CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                       / CAST(sw2 AS DOUBLE) END, 6) AS ess,
       round(CASE WHEN sw2 > 0
                   AND CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                       / CAST(sw2 AS DOUBLE) > 0
                  THEN CAST(n AS DOUBLE)
                       / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                          / CAST(sw2 AS DOUBLE)) END, 6) AS deff
FROM per
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch–Kincaid readability per document from pure
    regexp counts — codegen scan, no UDF
    (``text.readability_score``)."""
    from ..operators import text as t

    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    return t.readability_score(d).select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        "flesch", "fk_grade",
    )


ORACLE_READABILITY = """
WITH c AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences,
           len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS raw_syl
    FROM documents
),
s AS (
    SELECT doc_id, n_words, n_sentences,
           greatest(raw_syl, n_words) AS n_syllables
    FROM c
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       CAST(n_sentences AS INTEGER) AS n_sentences,
       CAST(n_syllables AS INTEGER) AS n_syllables,
       round(CASE WHEN n_words > 0
                  THEN 206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
             END, 6) AS flesch,
       round(CASE WHEN n_words > 0
                  THEN 0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                       + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                       - 15.59
             END, 6) AS fk_grade
FROM s
"""


register("forecast_accuracy", q_forecast_accuracy, ORACLE_FORECAST_ACCURACY)
register("cumulative_gains", q_cumulative_gains, ORACLE_CUM_GAINS)
register("weighted_mean_ess", q_weighted_mean_ess, ORACLE_WEIGHTED_ESS)
register("readability", q_readability, ORACLE_READABILITY)


# --- round-10 widening batch 14: hierarchy explosion, allocation,
# reporting rollup ---


_BOM_ROOTS = (1, 2, 3)
_BOM_DEPTH = 12


def _bom_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary-tree BOM synthesized from the part table:
    part p needs 2p and 2p+1 (when they exist), qty = child % 3 + 1."""
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    mx = p.agg(F.max("p_partkey").alias("__mx"))
    kids = p.crossJoin(F.broadcast(mx)).select(
        F.col("p_partkey").alias("parent"),
        F.col("__mx"),
    )
    left = kids.filter(2 * F.col("parent") <= F.col("__mx")).select(
        "parent",
        (2 * F.col("parent")).alias("child"),
    )
    right = kids.filter(
        2 * F.col("parent") + 1 <= F.col("__mx")
    ).select(
        "parent",
        (2 * F.col("parent") + 1).alias("child"),
    )
    return left.unionAll(right).withColumn(
        "qty", F.pmod(F.col("child"), F.lit(3)) + 1
    )


def q_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts explosion over the synthesized binary BOM from roots
    {1,2,3}: total component demand with quantities multiplying down
    12 levels — level-synchronous frontier joins with per-level path
    collapse (``hierarchy.bom_rollup``)."""
    from ..operators.hierarchy import bom_rollup

    edges = _bom_edges(spark, sf_dir)
    roots = spark.createDataFrame(
        [(r,) for r in _BOM_ROOTS], "node LONG"
    )
    return bom_rollup(edges, roots, max_depth=_BOM_DEPTH)


ORACLE_BOM = f"""
WITH RECURSIVE e AS (
    SELECT p_partkey AS parent, 2 * p_partkey AS child,
           (2 * p_partkey) % 3 + 1 AS qty
    FROM part
    WHERE 2 * p_partkey <= (SELECT max(p_partkey) FROM part)
    UNION ALL
    SELECT p_partkey, 2 * p_partkey + 1,
           (2 * p_partkey + 1) % 3 + 1
    FROM part
    WHERE 2 * p_partkey + 1 <= (SELECT max(p_partkey) FROM part)
),
paths(root, node, mult, depth) AS (
    SELECT p_partkey, p_partkey, CAST(1 AS HUGEINT), 0
    FROM part WHERE p_partkey IN {_BOM_ROOTS}
    UNION ALL
    SELECT paths.root, e.child, paths.mult * e.qty, paths.depth + 1
    FROM paths JOIN e ON e.parent = paths.node
    WHERE paths.depth < {_BOM_DEPTH}
)
SELECT root, node AS component, CAST(sum(mult) AS BIGINT) AS total_qty
FROM paths WHERE depth > 0 GROUP BY 1, 2
"""


def q_prorate_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate each order's exact cent total across its line items
    in proportion to quantity, largest-remainder exact — Σallocated
    reconciles to the order total per group
    (``windows.prorate``)."""
    from ..operators.windows import prorate

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        # tie-break key: (linenumber, partkey, suppkey) is the unique
        # line identity in this data; packed as one ordered integer
        (
            F.col("l_linenumber").cast("long") * 1_000_000_000_000
            + F.col("l_partkey").cast("long") * 1_000_000
            + F.col("l_suppkey").cast("long")
        ).alias("line_key"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("total_cents"),
    )
    joined = li.join(o, "l_orderkey")
    return prorate(
        joined,
        ["l_orderkey"],
        "l_quantity",
        "total_cents",
        "line_key",
    )


ORACLE_PRORATE = """
WITH joined AS (
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_quantity AS HUGEINT) AS w,
           CAST(round(o.o_totalprice * 100) AS HUGEINT) AS t,
           l.l_quantity,
           CAST(l.l_linenumber AS BIGINT) * 1000000000000
             + CAST(l.l_partkey AS BIGINT) * 1000000
             + CAST(l.l_suppkey AS BIGINT) AS line_key
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
sums AS (
    SELECT l_orderkey, sum(w) AS w_tot, count(*) AS m
    FROM joined GROUP BY 1
),
staged AS (
    SELECT j.l_orderkey, j.l_linenumber, j.l_quantity, j.t, j.line_key,
           CASE WHEN s.w_tot > 0 THEN j.w ELSE 1 END AS w_e,
           CASE WHEN s.w_tot > 0 THEN s.w_tot ELSE s.m END AS w_cap
    FROM joined j JOIN sums s ON j.l_orderkey = s.l_orderkey
),
shares AS (
    SELECT *, (t * w_e) % w_cap AS rem,
           (t * w_e - (t * w_e) % w_cap) // w_cap AS fl
    FROM staged
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY l_orderkey
               ORDER BY rem DESC, line_key ASC) AS rk,
           t - sum(fl) OVER (PARTITION BY l_orderkey) AS leftover
    FROM shares
)
SELECT l_orderkey, l_linenumber, l_quantity, line_key,
       CAST(t AS BIGINT) AS total_cents,
       CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS allocated
FROM ranked
"""


def q_topk_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 parts by revenue cents per return flag with the tail
    rolled into OTHER — the dashboard cut over a pre-aggregated
    (group, label, value) table (``windows.topk_others``)."""
    from ..operators.windows import topk_others

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    per = li.groupBy(
        "l_returnflag",
        F.col("l_partkey").cast("string").alias("part"),
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("rev_cents")
    )
    return topk_others(
        per, ["l_returnflag"], "part", "rev_cents", k=5
    )


ORACLE_TOPK_OTHERS = """
WITH per AS (
    SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS part,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS rev_cents
    FROM lineitem
    GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY l_returnflag
        ORDER BY rev_cents DESC, part ASC) AS rk
    FROM per
)
SELECT l_returnflag, part, CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(rk AS INTEGER) AS rank
FROM ranked WHERE rk <= 5
UNION ALL
SELECT l_returnflag, 'OTHER',
       CAST(sum(rev_cents) AS BIGINT), CAST(NULL AS INTEGER)
FROM ranked WHERE rk > 5
GROUP BY l_returnflag
"""


register("bom_rollup", q_bom_rollup, ORACLE_BOM)
register("prorate_order_lines", q_prorate_order_lines, ORACLE_PRORATE)
register("topk_others", q_topk_others, ORACLE_TOPK_OTHERS)


# --- round-10 widening batch 15: conformal intervals, uplift curve ---


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% split-conformal bands around the group-mean price predictor
    per order priority — order-statistic quantile from the residual
    histogram collapse (``stats.conformal_interval``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    means = o.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("double")
            / 100.0
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("pred")
    )
    scored = o.join(F.broadcast(means), "o_orderpriority")
    return stats.conformal_interval(
        scored, "o_totalprice", "pred", alpha=0.1,
        group_cols=["o_orderpriority"],
    )


ORACLE_CONFORMAL = """
WITH means AS (
    SELECT o_orderpriority,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) / 100.0 / count(*), 6) AS pred
    FROM orders GROUP BY 1
),
scored AS (
    SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice, m.pred
    FROM orders o JOIN means m ON o.o_orderpriority = m.o_orderpriority
),
resid AS (
    SELECT o_orderpriority,
           abs(CAST(round(o_totalprice * 1000000) AS HUGEINT)
               - CAST(round(pred * 1000000) AS HUGEINT)) AS r
    FROM scored
),
hist AS (
    SELECT o_orderpriority, r, count(*) AS c
    FROM resid GROUP BY 1, 2
),
ranked AS (
    SELECT o_orderpriority, r,
           sum(c) OVER (PARTITION BY o_orderpriority ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           sum(c) OVER (PARTITION BY o_orderpriority) AS n
    FROM hist
),
qhat AS (
    SELECT o_orderpriority,
           coalesce(
               min(CASE WHEN cum >= ceil((n + 1) * 0.9)
                        THEN r END),
               max(r)) AS q
    FROM ranked GROUP BY 1
)
SELECT s.o_orderpriority, s.o_orderkey, s.o_totalprice, s.pred,
       round(s.pred - CAST(q AS DOUBLE) / 1000000.0, 6) AS pred_lo,
       round(s.pred + CAST(q AS DOUBLE) / 1000000.0, 6) AS pred_hi,
       round(CAST(q AS DOUBLE) / 1000000.0, 6) AS conf_width
FROM scored s JOIN qhat ON s.o_orderpriority = qhat.o_orderpriority
"""


def q_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift deciles of the activity-count ranking: synthetic
    treatment = even user id, outcome = purchased
    (``stats.qini_curve``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    users = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.max(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("label"),
    ).withColumn(
        "treated", (F.pmod(F.col("user_id"), F.lit(2)) == 0)
    )
    return stats.qini_curve(
        users, "treated", "score", "label", "user_id", n_buckets=10
    )


ORACLE_QINI = """
WITH users AS (
    SELECT user_id, count(*) AS score,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y,
           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
    FROM events GROUP BY 1
),
tiled AS (
    SELECT t, y,
           ntile(10) OVER (ORDER BY score DESC, user_id ASC) AS bucket
    FROM users
),
per AS (
    SELECT bucket,
           sum(t) AS n_treated,
           sum(1 - t) AS n_control,
           sum(t * y) AS pos_treated,
           sum((1 - t) * y) AS pos_control
    FROM tiled GROUP BY 1
),
cum AS (
    SELECT *,
           sum(n_treated) OVER w AS cnt,
           sum(n_control) OVER w AS cnc,
           sum(pos_treated) OVER w AS cpt,
           sum(pos_control) OVER w AS cpc
    FROM per
    WINDOW w AS (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT bucket,
       CAST(n_treated AS BIGINT) AS n_treated,
       CAST(n_control AS BIGINT) AS n_control,
       CAST(pos_treated AS BIGINT) AS pos_treated,
       CAST(pos_control AS BIGINT) AS pos_control,
       round(CASE WHEN cnc > 0
                  THEN CAST(cpt AS DOUBLE)
                       - CAST(cpc AS DOUBLE) * cnt / cnc END, 6)
           AS cum_qini,
       round(CASE WHEN cnt > 0 AND cnc > 0
                  THEN CAST(cpt AS DOUBLE) / cnt
                       - CAST(cpc AS DOUBLE) / cnc END, 6)
           AS cum_uplift
FROM cum
"""


register("conformal_interval", q_conformal_interval, ORACLE_CONFORMAL)
register("qini_curve", q_qini_curve, ORACLE_QINI)


# --- round-10 widening batch 16: price indices, demand variability ---


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly Laspeyres/Paasche/Fisher part-price indices vs the
    1995-01 basket — matched items, exact integer term sums
    (``stats.price_index``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.date_trunc("month", F.col("l_shipdate"))
        .cast("date")
        .alias("month"),
        F.col("l_partkey"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity"),
    )
    import datetime as _dt

    return stats.price_index(
        li, "month", "l_partkey", "cents", "l_quantity",
        base_period=_dt.date(1995, 1, 1),
    )


ORACLE_PRICE_INDEX = """
WITH cells AS (
    SELECT date_trunc('month', l_shipdate) AS per, l_partkey AS item,
           CAST(round(CAST(sum(CAST(round(l_extendedprice * 100)
                                    AS BIGINT)) AS DOUBLE)
                      * 10000.0 / sum(CAST(l_quantity AS BIGINT)))
                AS HUGEINT) AS p,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS q
    FROM lineitem
    WHERE l_shipdate IS NOT NULL AND l_partkey IS NOT NULL
      AND l_quantity IS NOT NULL AND l_quantity > 0
    GROUP BY 1, 2
),
base AS (
    SELECT item, p AS p0, q AS q0 FROM cells
    WHERE per = DATE '1995-01-01'
),
j AS (
    SELECT c.per, count(*) AS n_items,
           sum(c.p * b.q0) AS ptq0,
           sum(b.p0 * b.q0) AS p0q0,
           sum(c.p * c.q) AS ptqt,
           sum(b.p0 * c.q) AS p0qt
    FROM cells c JOIN base b ON c.item = b.item
    GROUP BY 1
)
SELECT CAST(per AS DATE) AS month, n_items,
       round(CASE WHEN p0q0 > 0
                  THEN CAST(ptq0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)
             END, 6) AS laspeyres,
       round(CASE WHEN p0qt > 0
                  THEN CAST(ptqt AS DOUBLE) / CAST(p0qt AS DOUBLE)
             END, 6) AS paasche,
       round(CASE WHEN p0q0 > 0 AND p0qt > 0
                  THEN sqrt((CAST(ptq0 AS DOUBLE)
                             / CAST(p0q0 AS DOUBLE))
                            * (CAST(ptqt AS DOUBLE)
                               / CAST(p0qt AS DOUBLE)))
             END, 6) AS fisher
FROM j
"""


def q_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classes per part from monthly quantity
    CV — one cell collapse + one item aggregate
    (``stats.xyz_classification``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.col("l_partkey"),
        F.date_trunc("month", F.col("l_shipdate"))
        .cast("date")
        .alias("month"),
        F.col("l_quantity"),
    )
    return stats.xyz_classification(
        li, "l_partkey", "month", "l_quantity"
    )


ORACLE_XYZ = """
WITH per AS (
    SELECT l_partkey AS item, date_trunc('month', l_shipdate) AS per,
           sum(CAST(round(l_quantity * 1000000) AS HUGEINT)) AS v
    FROM lineitem
    WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
    GROUP BY 1, 2
),
item AS (
    SELECT item, count(*) AS n_periods,
           sum(v) AS s, sum(v * v) AS s2
    FROM per GROUP BY 1
),
cvd AS (
    SELECT item, n_periods,
           CAST(s AS DOUBLE) / n_periods AS mean,
           CASE WHEN CAST(s AS DOUBLE) / n_periods <> 0
                THEN sqrt(greatest(
                         CAST(s2 AS DOUBLE) / n_periods
                         - (CAST(s AS DOUBLE) / n_periods)
                           * (CAST(s AS DOUBLE) / n_periods), 0.0))
                     / abs(CAST(s AS DOUBLE) / n_periods)
           END AS cv
    FROM item
)
SELECT item AS l_partkey, n_periods,
       round(mean / 1000000.0, 6) AS mean_demand,
       round(cv, 6) AS cv,
       CASE WHEN cv IS NULL THEN NULL
            WHEN cv <= 0.5 THEN 'X'
            WHEN cv <= 1.0 THEN 'Y'
            ELSE 'Z' END AS xyz_class
FROM cvd
"""


register("price_index", q_price_index, ORACLE_PRICE_INDEX)
register("xyz_classification", q_xyz_classification, ORACLE_XYZ)


# --- round-10 widening batch 17: multiple regression, confounder
# control, restricted mean survival ---


def q_ols2_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS per priority: daily revenue ~ day index +
    day-of-week — closed-form Cramer solve on exact micro sums
    (``stats.ols2_fit``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = o.groupBy("o_orderpriority", "o_orderdate").agg(
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("double")
            / 100.0
        ).alias("rev")
    ).select(
        "o_orderpriority",
        "rev",
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("date")
        ).cast("double").alias("day_idx"),
        F.dayofweek("o_orderdate").cast("double").alias("dow"),
    )
    return stats.ols2_fit(
        daily, "rev", "day_idx", "dow", ["o_orderpriority"]
    )


ORACLE_OLS2 = """
WITH daily AS (
    SELECT o_orderpriority AS g,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS rev,
           date_diff('day', DATE '1992-01-01', o_orderdate) AS day_idx,
           dayofweek(o_orderdate) + 1 AS dow
    FROM orders GROUP BY o_orderpriority, o_orderdate
),
m AS (
    SELECT g,
           CAST(round(rev * 1000000) AS HUGEINT) AS y,
           CAST(round(day_idx * 1000000) AS HUGEINT) AS x1,
           CAST(round(dow * 1000000) AS HUGEINT) AS x2
    FROM daily
),
per AS (
    SELECT g, count(*) AS n,
           sum(y) AS sy, sum(x1) AS s1, sum(x2) AS s2,
           sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
           sum(x1 * x2) AS s12, sum(x1 * y) AS s1y,
           sum(x2 * y) AS s2y, sum(y * y) AS syy
    FROM m GROUP BY 1
),
c AS (
    SELECT g, n,
           CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(s1 AS DOUBLE) / n AS c11,
           CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)
               * CAST(s2 AS DOUBLE) / n AS c22,
           CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(s2 AS DOUBLE) / n AS c12,
           CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(sy AS DOUBLE) / n AS c1y,
           CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)
               * CAST(sy AS DOUBLE) / n AS c2y,
           CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
               * CAST(sy AS DOUBLE) / n AS cyy,
           CAST(sy AS DOUBLE) AS syd, CAST(s1 AS DOUBLE) AS s1d,
           CAST(s2 AS DOUBLE) AS s2d
    FROM per
),
solved AS (
    SELECT g, n, cyy, c1y, c2y,
           CASE WHEN c11 * c22 - c12 * c12 > 0
                THEN (c1y * c22 - c2y * c12)
                     / (c11 * c22 - c12 * c12) END AS b1,
           CASE WHEN c11 * c22 - c12 * c12 > 0
                THEN (c2y * c11 - c1y * c12)
                     / (c11 * c22 - c12 * c12) END AS b2,
           syd, s1d, s2d
    FROM c
)
SELECT g AS o_orderpriority, n,
       round((syd / n - b1 * s1d / n - b2 * s2d / n)
             / 1000000.0, 6) AS b0,
       round(b1, 6) AS b1,
       round(b2, 6) AS b2,
       round(CASE WHEN b1 IS NOT NULL AND cyy > 0
                  THEN (b1 * c1y + b2 * c2y) / cyy END, 6) AS r2
FROM solved
"""


def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity–price correlation with tax partialled out, per return
    flag — one aggregate of exact cross-moments
    (``stats.partial_corr``)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.partial_corr(
        li, "l_quantity", "l_extendedprice", "l_tax", ["l_returnflag"]
    )


ORACLE_PARTIAL_CORR = """
WITH m AS (
    SELECT l_returnflag AS g,
           CAST(round(l_quantity * 1000000) AS HUGEINT) AS x,
           CAST(round(l_extendedprice * 1000000) AS HUGEINT) AS y,
           CAST(round(l_tax * 1000000) AS HUGEINT) AS z
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_tax IS NOT NULL
),
per AS (
    SELECT g, count(*) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
           sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
    FROM m GROUP BY 1
),
c AS (
    SELECT g, n,
           CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
               * CAST(sx AS DOUBLE) / n AS cxx,
           CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
               * CAST(sy AS DOUBLE) / n AS cyy,
           CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)
               * CAST(sz AS DOUBLE) / n AS czz,
           CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
               * CAST(sy AS DOUBLE) / n AS cxy,
           CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)
               * CAST(sz AS DOUBLE) / n AS cxz,
           CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE)
               * CAST(sz AS DOUBLE) / n AS cyz
    FROM per
),
r AS (
    SELECT g, n,
           CASE WHEN cxx > 0 AND cyy > 0
                THEN cxy / sqrt(cxx * cyy) END AS rxy,
           CASE WHEN cxx > 0 AND czz > 0
                THEN cxz / sqrt(cxx * czz) END AS rxz,
           CASE WHEN cyy > 0 AND czz > 0
                THEN cyz / sqrt(cyy * czz) END AS ryz
    FROM c
)
SELECT g AS l_returnflag, n,
       round(rxy, 6) AS r_xy,
       round(rxz, 6) AS r_xz,
       round(ryz, 6) AS r_yz,
       round(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                  THEN (rxy - rxz * ryz)
                       / sqrt((1.0 - rxz * rxz)
                              * (1.0 - ryz * ryz)) END, 6)
           AS r_xy_given_z
FROM r
"""


_RMST_TAU = 30.0


def q_rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean time-to-conversion within 30 days — the area
    under the KM curve built from the same censoring-aware subject
    table as ``kaplan_meier`` (``stats.rmst``)."""
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
    return stats.rmst(subjects, "duration", "event", tau=_RMST_TAU)


ORACLE_RMST = f"""
WITH km AS ({ORACLE_KAPLAN_MEIER.replace('"', '"')}
),
steps AS (
    SELECT CAST(round(duration * 1000000) AS HUGEINT) AS t,
           CAST(round(survival * 1000000) AS HUGEINT) AS s6
    FROM km WHERE duration <= {_RMST_TAU!r}
),
staged AS (
    SELECT t, s6,
           coalesce(lag(t) OVER (ORDER BY t),
                    CAST(0 AS HUGEINT)) AS tp,
           coalesce(lag(s6) OVER (ORDER BY t),
                    CAST(1000000 AS HUGEINT)) AS sp
    FROM steps
),
per AS (
    SELECT count(*) AS n_steps,
           sum(sp * (t - tp)) AS a,
           max(t) AS tl,
           max_by(s6, t) AS sl
    FROM staged
)
SELECT n_steps,
       round((CAST(a AS DOUBLE)
              + CAST(sl AS DOUBLE)
                * ({int(_RMST_TAU * 1_000_000)} - CAST(tl AS DOUBLE)))
             / 1e12, 6) AS rmst
FROM per
"""


register("ols2_trend", q_ols2_trend, ORACLE_OLS2)
register("partial_corr", q_partial_corr, ORACLE_PARTIAL_CORR)
register("rmst_survival", q_rmst_survival, ORACLE_RMST)


# --- round-10 widening batch 18: sentence chunking, pseudonymization,
# DP sums ---


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary RAG chunks (5 sentences per chunk, stride 4)
    over the document corpus — native HOFs end to end
    (``text.sentence_chunks``)."""
    from ..operators import text as t

    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    return t.sentence_chunks(
        d, "text", "doc_id", sents_per_chunk=5, stride=4
    )


ORACLE_SENTENCE_CHUNKS = """
WITH sents AS (
    SELECT doc_id,
           list_filter(
               list_transform(
                   regexp_extract_all(text, '[^.!?]+[.!?]*'),
                   x -> trim(x)),
               x -> x <> '') AS s
    FROM documents
),
sized AS (SELECT doc_id, s, len(s) AS n FROM sents),
idx AS (
    SELECT doc_id, s, n,
           unnest(range(0, CAST(greatest(1,
               1 + floor((n - 5 + 4 - 1) / 4.0)) AS BIGINT)))
               AS chunk_id
    FROM sized
)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(least(5, n - chunk_id * 4) AS INTEGER) AS n_sentences,
       array_to_string(s[chunk_id * 4 + 1 : chunk_id * 4 + 5], ' ')
           AS chunk_text
FROM idx
"""


_PSEUDO_SALT = 13


def q_pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization of customer name and account balance —
    stable portable-hash tokens, NULL-preserving
    (``sources.cleanser.pseudonymize``)."""
    from ..sources.cleanser import pseudonymize

    c = rebalance(load_table(spark, sf_dir, "customer")).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return pseudonymize(c, ["c_name"], salt=_PSEUDO_SALT)


def _pseudonymize_oracle() -> str:
    h = _duck_hash("CAST(c_name AS VARCHAR)", _PSEUDO_SALT)
    return f"""
SELECT c_custkey,
       CASE WHEN c_name IS NOT NULL
            THEN concat('P', CAST({h} AS VARCHAR)) END AS c_name,
       c_mktsegment
FROM customer
"""


_DPS_SALT = 7
_DPS_EPS = 1.0
_DPS_LO = 0.0
_DPS_HI = 500_000.0


def q_dp_noisy_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-DP revenue release per priority: clipped order totals,
    exact micro sums, deterministic Laplace((hi-lo)/eps)
    (``stats.dp_noisy_sum``)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.dp_noisy_sum(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        clip_lo=_DPS_LO,
        clip_hi=_DPS_HI,
        epsilon=_DPS_EPS,
        salt=_DPS_SALT,
    )


def _dp_sum_oracle() -> str:
    m = 2147483647
    key = (
        "CAST(concat('0x', substr(md5(concat('7:sum:', "
        "CAST(o_orderpriority AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    b = (_DPS_HI - _DPS_LO) / _DPS_EPS
    return f"""
WITH per AS (
    SELECT o_orderpriority,
           sum(CAST(round(least(greatest(o_totalprice, {_DPS_LO!r}),
                                {_DPS_HI!r}) * 1000000) AS HUGEINT))
               AS s,
           {key} % {m} AS s0
    FROM orders
    WHERE o_totalprice IS NOT NULL
    GROUP BY 1
),
lehmer AS (
    SELECT o_orderpriority, s,
           (((s0 * 48271) % {m}) * 48271 % {m}) * 48271 % {m} AS s3
    FROM per
),
unif AS (
    SELECT o_orderpriority, s,
           greatest(CAST(s3 AS DOUBLE) / {float(m)!r},
                    {0.5 / m!r}) AS u
    FROM lehmer
)
SELECT o_orderpriority,
       round(CAST(s AS DOUBLE) / 1000000.0
             - {b!r} * sign(u - 0.5)
               * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_sum
FROM unif
"""


register("sentence_chunks", q_sentence_chunks, ORACLE_SENTENCE_CHUNKS)
register("pseudonymize_keys", q_pseudonymize_keys, _pseudonymize_oracle())
register("dp_noisy_sum", q_dp_noisy_sum, _dp_sum_oracle())


# --- round-10 widening batch 19: recency attribution, MMR rerank ---


_TDA_HALFLIFE = 7.0


def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (7-day half-life) — the
    factored-decay cumulative window, no conversion×touch range join
    (``funnels.time_decay_attribution``)."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events"))
    return funnels.time_decay_attribution(
        e,
        "purchase",
        channels=["view", "click", "signup", "error"],
        halflife_days=_TDA_HALFLIFE,
    )


ORACLE_TIME_DECAY = f"""
WITH tmin AS (
    SELECT user_id, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1
),
conv AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
),
per AS (
    SELECT c.event_id, c.value, t.event_type AS channel,
           sum(pow(2.0,
                   CAST(epoch_us(t.ts) - m.t0 AS DOUBLE)
                   / 86400000000.0 / {_TDA_HALFLIFE!r})) AS s,
           sum(sum(pow(2.0,
                   CAST(epoch_us(t.ts) - m.t0 AS DOUBLE)
                   / 86400000000.0 / {_TDA_HALFLIFE!r})))
               OVER (PARTITION BY c.event_id) AS tot
    FROM conv c
    JOIN events t ON t.user_id = c.user_id AND t.ts <= c.ts
     AND t.event_type <> 'purchase'
    JOIN tmin m ON m.user_id = c.user_id
    GROUP BY 1, 2, 3
),
cred AS (
    SELECT channel, value * s / tot AS credit FROM per
    UNION ALL
    SELECT '(none)' AS channel, c.value AS credit FROM conv c
    WHERE NOT EXISTS (
        SELECT 1 FROM events t
        WHERE t.user_id = c.user_id AND t.ts <= c.ts
          AND t.event_type <> 'purchase')
)
SELECT channel, count(*) AS n_conversions,
       round(sum(credit), 4) AS attributed_value
FROM cred GROUP BY 1
"""


_MMR_K = 5
_MMR_LAM = 0.7
_MMR_TOPN = 20


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification of the top-20 cosine candidates for three
    probe vectors — pair sims computed once, k-1 bounded selection
    rounds (``similarity.mmr_rerank``)."""
    from ..operators.similarity import cosine_sim, mmr_rerank

    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__eq"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding")
    )
    scored = probes.crossJoin(corpus).select(
        "query_id",
        "cand_id",
        "embedding",
        F.round(
            cosine_sim(F.col("__eq"), F.col("embedding")), 6
        ).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id").asc()
    )
    cands = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _MMR_TOPN)
        .drop("__rn")
    )
    return mmr_rerank(
        cands, "query_id", "cand_id", "embedding", "rel",
        k=_MMR_K, lam=_MMR_LAM,
    )


def _mmr_unroll(parts: list[str], k: int, lam_f: float) -> str:
    """Shared MMR greedy-selection oracle builder (r12: reused by the
    composed diverse-retrieval exhibit): ``parts`` must define CTEs
    ending with ``corpus(c, ec)`` and ``cands(q, c, r)``; this appends
    the candidate-embedding join, the per-query pairwise sims, and the
    k unrolled selection rounds, returning the full statement."""
    lam = repr(float(lam_f))
    one_m = repr(1.0 - float(lam_f))
    parts = list(parts)
    parts.append(
        """cands_emb AS (
    SELECT cands.q, cands.c, cands.r, corpus.ec
    FROM cands JOIN corpus ON cands.c = corpus.c)"""
    )
    parts.append(
        """sims AS (
    SELECT q, a, b,
           round(CASE WHEN na > 0 AND nb > 0
                      THEN dot / sqrt(na * nb) END, 6) AS s
    FROM (SELECT q, a, b, sum(av * bv) AS dot,
                 sum(av * av) AS na, sum(bv * bv) AS nb
          FROM (SELECT x.q, x.c AS a, y.c AS b,
                       CAST(unnest(x.ec) AS DOUBLE) AS av,
                       CAST(unnest(y.ec) AS DOUBLE) AS bv
                FROM cands_emb x JOIN cands_emb y
                  ON x.q = y.q AND x.c <> y.c)
          GROUP BY 1, 2, 3))"""
    )
    parts.append(
        """sel1 AS (
    SELECT q, 1 AS rank, c, r AS score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q ORDER BY r DESC, c ASC) AS rn
        FROM cands) WHERE rn = 1)"""
    )
    parts.append("""selected1 AS (SELECT q, c FROM sel1)""")
    for i in range(2, k + 1):
        parts.append(
            f"""pen{i} AS (
    SELECT s.q, s.a AS c, max(s.s) AS p
    FROM sims s JOIN selected{i-1} t ON s.q = t.q AND s.b = t.c
    GROUP BY 1, 2)"""
        )
        parts.append(
            f"""scored{i} AS (
    SELECT cands.q, cands.c,
           round({lam} * cands.r
                 - {one_m} * coalesce(pen{i}.p, 0.0), 6) AS score
    FROM cands LEFT JOIN pen{i}
      ON cands.q = pen{i}.q AND cands.c = pen{i}.c
    WHERE NOT EXISTS (
        SELECT 1 FROM selected{i-1} t
        WHERE t.q = cands.q AND t.c = cands.c))"""
        )
        parts.append(
            f"""sel{i} AS (
    SELECT q, {i} AS rank, c, score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q ORDER BY score DESC, c ASC) AS rn
        FROM scored{i}) WHERE rn = 1)"""
        )
        parts.append(
            f"""selected{i} AS (
    SELECT q, c FROM selected{i-1}
    UNION ALL SELECT q, c FROM sel{i})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT q, rank, c, score FROM sel{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT q AS query_id, CAST(rank AS INTEGER) AS rank,
       c AS cand_id, score AS mmr_score
FROM ({union})"""
    )


def _mmr_oracle() -> str:
    parts = [
        """probes AS (
    SELECT vec_id AS q, embedding AS eq FROM embeddings
    WHERE vec_id < 3)""",
        """corpus AS (
    SELECT vec_id AS c, embedding AS ec FROM embeddings)""",
        """relterms AS (
    SELECT q, c, sum(av * bv) AS dot,
           sum(av * av) AS na, sum(bv * bv) AS nb
    FROM (SELECT q, c,
                 CAST(unnest(eq) AS DOUBLE) AS av,
                 CAST(unnest(ec) AS DOUBLE) AS bv
          FROM probes, corpus)
    GROUP BY 1, 2)""",
        """rel0 AS (
    SELECT q, c,
           round(CASE WHEN na > 0 AND nb > 0
                      THEN dot / sqrt(na * nb) END, 6) AS r
    FROM relterms)""",
        f"""cands AS (
    SELECT q, c, r FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q ORDER BY r DESC, c ASC) AS rn
        FROM rel0) WHERE rn <= {_MMR_TOPN})""",
    ]
    return _mmr_unroll(parts, _MMR_K, _MMR_LAM)


register("time_decay_attribution", q_time_decay_attribution, ORACLE_TIME_DECAY)
register("mmr_rerank", q_mmr_rerank, _mmr_oracle())


