"""Query catalog — business/ops analytics.

Each query is registered with its DuckDB oracle by one
``catalog.register`` call below its definition.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scope import checkpoint
from ..sources.registry import load_table, rebalance

from .catalog import register
from .core import (
    dedup,
    text,
)

# ---------------------------------------------------------------------------
# round 10: inequality / concentration / Pareto / bootstrap / ACF /
# Markov transitions / CUBE / HITS / item-item CF widening
# ---------------------------------------------------------------------------


def q_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T revenue-inequality index per market segment over
    per-customer lifetime spend — verified stages:
    operators/stats.py theil_index (single-aggregate moment form with
    the cuped rounding discipline)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    return stats.theil_index(cust, "x", ["seg"])


ORACLE_THEIL = """
WITH cust AS (
    SELECT c_mktsegment AS seg, o_custkey, sum(o_totalprice) AS x
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
mom AS (
    SELECT seg, count(*) AS n,
           round(avg(x), 6) AS mx,
           round(avg(x * ln(x)), 6) AS mxlnx
    FROM cust WHERE x > 0 GROUP BY 1
)
SELECT seg, n, mx AS mean_value,
       round(CASE WHEN mx > 0 THEN mxlnx / mx - ln(mx) END, 6) AS theil_t
FROM mom
"""


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation (Herfindahl index +
    equivalent-competitor count) — verified stages:
    operators/stats.py herfindahl_index (share-normalized two-agg
    form; raw sums never cross the rounding step)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    member = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            "l_suppkey",
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
            ).alias("rev")
        )
    )
    return stats.herfindahl_index(member, "rev", ["nationkey"])


ORACLE_HHI = """
WITH member AS (
    SELECT s_nationkey AS nationkey, l_suppkey,
           sum(l_extendedprice * (1.0 - l_discount)) AS rev
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2
),
totals AS (
    SELECT nationkey, count(*) AS n_members, round(sum(rev), 2) AS total
    FROM member GROUP BY 1
),
agg AS (
    SELECT m.nationkey, max(t.n_members) AS n_members,
           max(t.total) AS total,
           round(sum(CASE WHEN t.total > 0
                          THEN (m.rev / t.total) * (m.rev / t.total)
                     END), 6) AS hhi
    FROM member m JOIN totals t USING (nationkey)
    GROUP BY 1
)
SELECT nationkey, n_members, total, hhi,
       round(CASE WHEN hhi > 0 THEN 1.0 / hhi END, 6) AS equiv_n
FROM agg
"""


_ABC_A_CUT = 0.8
_ABC_B_CUT = 0.95


def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by discounted revenue —
    verified stages: operators/stats.py abc_classification over the
    distributed two-phase prefix sum (operators/windows.py
    global_cumsum), never an unpartitioned rank window."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    vals = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
        ).alias("rev")
    )
    out = stats.abc_classification(
        vals, "partkey", "rev", a_cut=_ABC_A_CUT, b_cut=_ABC_B_CUT,
        value_round=4,  # exact decimal width of price×(1−disc)
    )
    return out.withColumnRenamed("key", "partkey")


ORACLE_PARETO_ABC = f"""
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
)
SELECT partkey, value,
       round(CASE WHEN total > 0 THEN cum / total END, 6) AS cum_share,
       CASE WHEN total > 0 AND cum / total <= {_ABC_A_CUT} THEN 'A'
            WHEN total > 0 AND cum / total <= {_ABC_B_CUT} THEN 'B'
            ELSE 'C' END AS abc_class
FROM r
"""


_RZ_CUT = 3.5


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD (Iglewicz–Hoaglin modified z) anomaly days in the
    daily order-revenue series — verified stages: operators/stats.py
    robust_zscore_anomalies (two grouped exact percentiles, broadcast
    joined back)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    out = stats.robust_zscore_anomalies(
        daily, "rev", z_cut=_RZ_CUT, carry_cols=["day"]
    )
    return out.orderBy("day")


ORACLE_ROBUST_ZSCORE = f"""
WITH d AS (
    SELECT o_orderdate::DATE AS day, round(sum(o_totalprice), 2) AS v
    FROM orders GROUP BY 1
),
m AS (SELECT round(median(v), 6) AS med FROM d),
m2 AS (SELECT round(median(abs(v - med)), 6) AS mad FROM d, m)
SELECT day, v AS value, med AS median, mad,
       round(0.6745 * (v - med) / mad, 6) AS modified_z
FROM d, m, m2
WHERE mad > 0 AND abs(round(0.6745 * (v - med) / mad, 6)) > {_RZ_CUT}
ORDER BY day
"""


_ACF_MAX_LAG = 3


def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1–3) of each event type's daily value
    series — verified stages: operators/stats.py autocorrelation
    (standardize on rounded full-series moments, lag-align via
    equi-join on period + k)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "t"
        ),
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    out = stats.autocorrelation(
        daily, "t", "v", max_lag=_ACF_MAX_LAG, group_cols=["event_type"]
    )
    return out


ORACLE_ACF = f"""
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01', ts::DATE) AS t,
           round(sum(value), 6) AS v
    FROM events GROUP BY 1, 2
),
mom AS (
    SELECT event_type, count(*) AS n,
           round(avg(v), 6) AS mu,
           round(stddev_pop(v), 6) AS sd
    FROM daily GROUP BY 1
),
z AS (
    SELECT d.event_type, d.t, mom.n,
           CASE WHEN mom.sd > 0 THEN (d.v - mom.mu) / mom.sd END AS z
    FROM daily d JOIN mom USING (event_type)
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
paired AS (
    SELECT a.event_type, l.lag, a.n, a.z AS za, b.z AS zb
    FROM z a CROSS JOIN lags l
    JOIN z b ON b.event_type = a.event_type AND b.t = a.t + l.lag
)
SELECT event_type, lag, count(*) AS n_pairs,
       round(sum(za * zb) / max(n), 6) AS acf
FROM paired GROUP BY 1, 2
"""


_BOOT_B = 100


def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean line-item quantity —
    verified stages: operators/stats.py poisson_bootstrap_mean
    (deterministic Lehmer-seeded Poisson(1) weights; integer metric
    makes every replicate sum exactly representable, so the oracle
    reproduces the replicate means bit-for-bit)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    keyed = li.select(
        F.col("l_quantity"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rk"),
    )
    return stats.poisson_bootstrap_mean(
        keyed, "l_quantity", "rk", replicates=_BOOT_B
    )


def _poisson_bootstrap_oracle() -> str:
    from ..operators.stats.descriptive import (
        _LEHMER_A,
        _LEHMER_M,
        _POISSON1_CDF,
    )

    u = (
        f"(({_LEHMER_A} * (({_LEHMER_A} * (({_LEHMER_A} * "
        f"(((l_orderkey * 10 + l_linenumber) * {_BOOT_B} + b) % {_LEHMER_M})"
        f") % {_LEHMER_M})) % {_LEHMER_M})) % {_LEHMER_M})"
        f" / CAST({_LEHMER_M} AS DOUBLE)"
    )
    cases = " ".join(
        f"WHEN u < {t!r} THEN {i}" for i, t in enumerate(_POISSON1_CDF)
    )
    return f"""
WITH reps AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
staged AS (
    SELECT CAST(l_quantity AS BIGINT) AS x, b, {u} AS u
    FROM lineitem CROSS JOIN reps
),
weighted AS (
    SELECT b, x, CASE {cases} ELSE {len(_POISSON1_CDF)} END AS w
    FROM staged
),
per_rep AS (
    SELECT b, sum(w * x) AS swx, sum(w) AS sw, count(*) AS n
    FROM weighted GROUP BY 1
),
means AS (
    SELECT n, CASE WHEN sw > 0
                   THEN CAST(swx AS DOUBLE) / sw END AS m
    FROM per_rep
)
SELECT max(n) AS n_rows, count(*) AS replicates,
       round(avg(m), 6) AS point_mean,
       round(quantile_cont(m, 0.025), 6) AS ci_lo,
       round(quantile_cont(m, 0.975), 6) AS ci_hi
FROM means
"""


def q_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing over each event type's
    daily event-count series (level, trend, one-step forecast) —
    verified stages: operators/windows.py brown_double_smooth (two
    exact-dyadic ewma_smooth passes at α = 0.5 over integral daily
    counts, bit-identical cross-engine)."""
    from ..operators import windows as w

    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = w.brown_double_smooth(
        daily, ["event_type"], "day", "n_events", alpha=0.5
    )
    return out.select(
        "event_type",
        "day",
        "n_events",
        F.round("s1", 6).alias("s1"),
        F.round("s2", 6).alias("s2"),
        F.round("sm_level", 6).alias("sm_level"),
        F.round("sm_trend", 6).alias("sm_trend"),
        F.round("forecast_next", 6).alias("forecast_next"),
    )


# α = 0.5 ⇒ (1-α)^(-i) = 2^i: the adjust=True EWMA closed form is
# num/den with num = (Σ x·2^i)·2^(−t), den = (Σ 2^i)·2^(−t) — exact
# powers of two, so the oracle reproduces Spark's doubles bitwise
ORACLE_HOLT_TREND = """
WITH daily AS (
    SELECT event_type, ts::DATE AS day, count(*) AS n_events
    FROM events GROUP BY 1, 2
),
i1 AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY day) - 1 AS i
    FROM daily
),
p1 AS (
    SELECT event_type, day, n_events, i,
           (sum(n_events * pow(2.0, i)) OVER w) * pow(2.0, -i)
           / ((sum(pow(2.0, i)) OVER w) * pow(2.0, -i)) AS s1
    FROM i1
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING)
),
p2 AS (
    SELECT event_type, day, n_events, s1,
           (sum(s1 * pow(2.0, i)) OVER w) * pow(2.0, -i)
           / ((sum(pow(2.0, i)) OVER w) * pow(2.0, -i)) AS s2
    FROM p1
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, day, n_events,
       round(s1, 6) AS s1, round(s2, 6) AS s2,
       round(2.0 * s1 - s2, 6) AS sm_level,
       round(s1 - s2, 6) AS sm_trend,
       round((2.0 * s1 - s2) + (s1 - s2), 6) AS forecast_next
FROM p2
"""


def q_cube_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate over (returnflag, linestatus) with explicit
    rollup-level flags — the full O-surface grouping-sets form (the
    reference's rollup_agg sibling).  The grouping id is DERIVED from
    the coalesced dimensions (both engines agree by construction,
    no reliance on engine-specific GROUPING() bit conventions)."""
    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    cube = li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))),
            2,
        ).alias("revenue"),
    )
    gid = (
        F.col("l_returnflag").isNull().cast("int") * 2
        + F.col("l_linestatus").isNull().cast("int")
    )
    return cube.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        gid.alias("gid"),
        "n_rows",
        "revenue",
    )


ORACLE_CUBE_SHARES = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS gid,
       count(*) AS n_rows,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


_HITS_ITERS = 3


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the bipartite customer→part
    purchase graph (hubs = broad buyers, authorities = widely-bought
    parts) — verified stages: operators/graph.py hits (checkpointed
    edge table, one join + keyed sum per half-step, end-normalized
    linear recurrence)."""
    from ..operators import graph

    o = rebalance(load_table(spark, sf_dir, "orders"))
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return graph.hits(edges, iterations=_HITS_ITERS)


def _hits_oracle() -> str:
    prev = "h0"
    steps = []
    for i in range(1, _HITS_ITERS + 1):
        steps.append(
            f"""a{i} AS (
    SELECT e.v, sum({prev}.h) AS a FROM e JOIN {prev} USING (u) GROUP BY 1
),
h{i} AS (
    SELECT e.u, sum(a{i}.a) AS h FROM e JOIN a{i} USING (v) GROUP BY 1
)"""
        )
        prev = f"h{i}"
    chain = ",\n".join(steps)
    last = _HITS_ITERS
    return f"""
WITH e AS (
    SELECT DISTINCT o_custkey AS u, l_partkey AS v
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
h0 AS (SELECT DISTINCT u, 1.0 AS h FROM e),
{chain},
nh AS (SELECT sum(h) AS s FROM h{last}),
na AS (SELECT sum(a) AS s FROM a{last})
SELECT u AS node, 'hub' AS side, round(h / nh.s, 6) AS score
FROM h{last}, nh
UNION ALL
SELECT v AS node, 'auth' AS side, round(a / na.s, 6) AS score
FROM a{last}, na
"""


_CF_TOP_K = 3


def q_item_similarity_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    parts over the order-basket incidence matrix
    (``n_shared / sqrt(n_a · n_b)`` on distinct-order counts), top-3
    partners per part (key < 200) — the normalized upgrade of the
    raw-count also_bought ranking.  All inputs are integers, so the
    cosine is bit-identical cross-engine; ranking uses the rounded
    score for a deterministic tie order."""
    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    item_n = baskets.groupBy("pk").agg(F.count(F.lit(1)).alias("n_orders"))
    a = baskets.select(F.col("ok"), F.col("pk").alias("pa"))
    b = baskets.select(F.col("ok"), F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    scored = (
        pairs.join(
            F.broadcast(item_n.withColumnRenamed("pk", "pa")), "pa"
        )
        .withColumnRenamed("n_orders", "na")
        .join(F.broadcast(item_n.withColumnRenamed("pk", "pb")), "pb")
        .withColumnRenamed("n_orders", "nb")
        .select(
            "pa",
            "pb",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("pa").orderBy(
        F.col("cosine").desc(), F.col("pb").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= _CF_TOP_K) & (F.col("pa") < 200))
        .select(
            F.col("pa").alias("partkey"),
            F.col("pb").alias("similar_part"),
            "n_shared",
            "cosine",
            "rank",
        )
    )


ORACLE_ITEM_SIMILARITY = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
item_n AS (SELECT pk, count(*) AS n_orders FROM baskets GROUP BY 1),
pairs AS (
    SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_shared
    FROM baskets a JOIN baskets b
      ON a.ok = b.ok AND a.pk <> b.pk
    GROUP BY 1, 2
),
scored AS (
    SELECT pa, pb, n_shared,
           round(n_shared / (sqrt(na.n_orders) * sqrt(nb.n_orders)), 6)
               AS cosine
    FROM pairs
    JOIN item_n na ON na.pk = pairs.pa
    JOIN item_n nb ON nb.pk = pairs.pb
)
SELECT pa AS partkey, pb AS similar_part, n_shared, cosine, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY pa
               ORDER BY cosine DESC, pb ASC) AS rank
    FROM scored
) WHERE rank <= {_CF_TOP_K} AND pa < 200
"""


register("theil_inequality", q_theil_inequality, ORACLE_THEIL)
register("hhi_concentration", q_hhi_concentration, ORACLE_HHI)
register("pareto_abc", q_pareto_abc, ORACLE_PARETO_ABC)
register("robust_zscore", q_robust_zscore, ORACLE_ROBUST_ZSCORE)
register("acf_daily", q_acf_daily, ORACLE_ACF)
register("poisson_bootstrap", q_poisson_bootstrap, _poisson_bootstrap_oracle())
register("holt_trend", q_holt_trend, ORACLE_HOLT_TREND)
register("cube_shares", q_cube_shares, ORACLE_CUBE_SHARES)
register("hits_scores", q_hits_scores, _hits_oracle())
register("item_similarity_cf", q_item_similarity_cf, ORACLE_ITEM_SIMILARITY)


# ---------------------------------------------------------------------------
# round-10 widening batch 2: robust trends, distribution tables,
# CRM/cohort analytics, market-basket rules, key-space audits, and two
# training-pipeline curation ops (asymmetric containment dedup,
# negative-sampling table)
# ---------------------------------------------------------------------------


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust daily-volume trend per event type (median of
    pairwise slopes over the collapsed daily series + Siegel
    intercept) — verified stages: operators/stats.py theil_sen_trend
    (pair join confined to the calendar-bounded daily rollup)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("x"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return stats.theil_sen_trend(daily, "x", "y", ["event_type"])


ORACLE_THEIL_SEN = """
WITH daily AS (
    SELECT event_type,
           CAST(CAST(date_trunc('day', ts) AS DATE)
                - DATE '1970-01-01' AS BIGINT) AS x,
           CAST(count(*) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.x < b.x
),
sl AS (
    SELECT event_type, round(quantile_cont(slope, 0.5), 6) AS slope
    FROM pairs GROUP BY 1
)
SELECT p.event_type, count(*) AS n_points, max(s.slope) AS slope,
       round(quantile_cont(p.y - s.slope * p.x, 0.5), 6) AS intercept
FROM daily p LEFT JOIN sl s USING (event_type)
GROUP BY 1
"""


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz decile table of customer lifetime revenue ('the bottom
    half of customers carry x% of revenue') — verified stages:
    operators/stats.py lorenz_deciles over windows.global_ntile_pct
    (distributed exact ntile, no single-task window)."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    cust = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("spend")
    )
    return stats.lorenz_deciles(cust, "o_custkey", "spend", k=10)


ORACLE_LORENZ = """
WITH vals AS (
    SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS v
    FROM orders GROUP BY 1
),
tiled AS (
    SELECT k, v, ntile(10) OVER (ORDER BY v ASC, k ASC) AS tile FROM vals
),
per AS (
    SELECT tile, count(*) AS n_members, round(sum(v), 2) AS tile_value
    FROM tiled GROUP BY 1
)
SELECT tile, n_members, tile_value,
       round(tile_value / sum(tile_value) OVER (), 6) AS tile_share,
       round(sum(tile_value) OVER (ORDER BY tile
                 ROWS UNBOUNDED PRECEDING)
             / sum(tile_value) OVER (), 6) AS cum_share
FROM per
"""


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs over documents (quote /
    subset detection: |words(src) ∩ words(in)| / |words(src)| ≥ 0.8,
    df-capped vocabulary) — verified stages: operators/dedup.py
    containment_pairs (inverted-index equi-join, never all-pairs)."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return dedup.containment_pairs(
        d.select("doc_id", "text"), threshold=0.8, max_df=250
    )


ORACLE_CONTAINMENT_DEDUP = """
WITH words AS (
    SELECT doc_id,
           unnest(list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> ''))) AS w
    FROM documents
),
dfreq AS (SELECT w, count(*) AS df FROM words GROUP BY 1),
kept AS (
    SELECT words.doc_id, words.w
    FROM words JOIN dfreq USING (w) WHERE df <= 250
),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
shared AS (
    SELECT a.doc_id AS src_id, b.doc_id AS in_id, count(*) AS sh
    FROM kept a JOIN kept b ON a.w = b.w AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT src_id, in_id, round(sh * 1.0 / sz, 6) AS containment
FROM shared JOIN sizes ON sizes.doc_id = shared.src_id
WHERE round(sh * 1.0 / sz, 6) >= 0.8
"""


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table over the corpus vocabulary
    (tf^0.75 normalized, half-open cumulative bands for inverse-CDF
    draws) — verified stages: operators/text.py unigram_sampling_table
    (tf-collapsed corpus exchange + windows.global_cumsum)."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.unigram_sampling_table(d.select("text"))


ORACLE_NEGATIVE_SAMPLING = """
WITH toks AS (
    SELECT unnest(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS word
    FROM documents
),
tf AS (SELECT word, count(*) AS tf FROM toks GROUP BY 1),
wt AS (SELECT word, tf, round(pow(tf, 0.75), 6) AS w FROM tf),
tot AS (SELECT sum(w) AS total FROM wt),
run AS (
    SELECT word, tf, w,
           sum(w) OVER (ORDER BY tf DESC, word ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
    FROM wt
)
SELECT word, tf,
       round(w / total, 6) AS prob,
       round((cum - w) / total, 6) AS cum_lo,
       round(cum / total, 6) AS cum_hi
FROM run, tot
"""


def q_rfm_segments_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quintile
    scores (5 = best) + deterministic segment labels — verified
    stages: windows.global_ntile_pct ×3 (distributed exact ntile over
    (metric, custkey) total orders; no single-task window), anchored
    to the corpus max order date (injected-clock discipline)."""
    from ..operators.windows import global_ntile_pct

    o = rebalance(load_table(spark, sf_dir, "orders"))
    anchor = o.agg(F.max("o_orderdate").alias("__mx"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("__mx", "__last"))
        .drop("__mx", "__last")
    )
    # Three INDEPENDENT narrow ntiles off one materialized base,
    # joined back on the key — chaining the three global_ntile_pct
    # layers instead compounds each layer's staged/totals/offsets
    # references into a 130-scan analyzed plan (plan_audit caught it)
    # and range-shuffles the full wide row three times; here each
    # range shuffle moves only (key, metric).  The base aggregate is
    # referenced ~7× (each machine's staged + count paths + the final
    # join), so it is eagerly checkpointed — the triangle_counts
    # precedent: lineage-cut guarantees ONE orders scan regardless of
    # cache eviction.
    base = checkpoint(base)
    scores = []
    for metric, order, col_name in (
        ("recency_days", F.col("recency_days").desc(), "r_score"),
        ("frequency", F.col("frequency").asc(), "f_score"),
        ("monetary", F.col("monetary").asc(), "m_score"),
    ):
        t = global_ntile_pct(
            base.select("o_custkey", metric),
            [order, F.col("o_custkey").asc()],
            5,
            tile_col=col_name,
            pct_col="__p",
        ).select("o_custkey", col_name)
        scores.append(t)
    t3 = base
    for t in scores:
        t3 = t3.join(t, "o_custkey")
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4),
            F.lit("champion"),
        )
        .when(F.col("r_score") >= 4, F.lit("recent"))
        .when(F.col("f_score") >= 4, F.lit("at_risk"))
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2),
            F.lit("hibernating"),
        )
        .otherwise(F.lit("regular"))
    )
    return t3.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


ORACLE_RFM_DISTRIBUTED = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
    SELECT o_custkey,
           date_diff('day', max(o_orderdate),
                     (SELECT mx FROM anchor)) AS recency_days,
           count(*) AS frequency,
           round(sum(o_totalprice), 2) AS monetary
    FROM orders GROUP BY 1
),
scored AS (
    SELECT *,
        ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC) AS r_score,
        ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_score,
        ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_score
    FROM base
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 THEN 'recent'
            WHEN f_score >= 4 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
"""


def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-space islands audit: maximal runs of consecutive order keys
    actually referenced by lineitem (the gaps are unreferenced /
    missing FK ranges).  Scale shape: gaps-and-islands over a GLOBAL
    integer order via windows.global_rank (two-phase range prefix
    sum), not a single-task row_number window — the distributed twin
    of the per-user streaks operator."""
    from ..operators.windows import global_rank

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    keys = li.select(F.col("l_orderkey").alias("k")).distinct()
    ranked = global_rank(keys, [F.col("k").asc()], rank_col="__r")
    return (
        ranked.withColumn("__grp", F.col("k") - F.col("__r"))
        .groupBy("__grp")
        .agg(
            F.min("k").alias("island_start"),
            F.max("k").alias("island_end"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .drop("__grp")
        .select("island_start", "island_end", "n_keys")
    )


ORACLE_SEQUENCE_GAPS = """
WITH keys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
r AS (
    SELECT k, k - row_number() OVER (ORDER BY k ASC) AS grp FROM keys
)
SELECT min(k) AS island_start, max(k) AS island_end, count(*) AS n_keys
FROM r GROUP BY grp
"""


register("theil_sen", q_theil_sen, ORACLE_THEIL_SEN)
register("lorenz_curve", q_lorenz_curve, ORACLE_LORENZ)
register("containment_dedup", q_containment_dedup, ORACLE_CONTAINMENT_DEDUP)
register("negative_sampling", q_negative_sampling, ORACLE_NEGATIVE_SAMPLING)
register("rfm_segments_distributed", q_rfm_segments_distributed,
         ORACLE_RFM_DISTRIBUTED)
register("sequence_gaps", q_sequence_gaps, ORACLE_SEQUENCE_GAPS)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate per event type,
    side-by-side with the exact count — verified stages:
    operators/sketch.py hll_cardinality (string-length rho, capped
    dyadic harmonic sum ⇒ association-invariant ⇒ the SKETCH VALUES
    themselves are oracle-verified, unlike engine-native
    approx_count_distinct which is only error-band tested; see
    q_corpus_cardinality)."""
    from ..operators import sketch

    e = rebalance(load_table(spark, sf_dir, "events"))
    est = sketch.hll_cardinality(e, "user_id", ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "hll_estimate",
        "buckets_used",
        "n_exact",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact"),
            4,
        ).alias("rel_error"),
    )


ORACLE_HLL_DISTINCT = """
WITH h AS (
    SELECT event_type,
           spark_xxhash64(CAST(user_id AS VARCHAR)) AS hv
    FROM events
),
rb AS (
    SELECT event_type,
           ((hv % 4096) + 4096) % 4096 AS b,
           (hv >> 12) & ((1::BIGINT << 52) - 1) AS w
    FROM h
),
rho AS (
    SELECT event_type, b,
           least(CASE WHEN w > 0 THEN 52 - length(bin(w)) + 1
                      ELSE 53 END, 40) AS r
    FROM rb
),
mx AS (
    SELECT event_type, b, max(r) AS mr FROM rho GROUP BY 1, 2
),
agg AS (
    SELECT event_type,
           sum(pow(2.0, -mr)) AS hsum,
           count(*) AS buckets_used
    FROM mx GROUP BY 1
),
est AS (
    SELECT event_type, buckets_used,
           12098218.894406674
               / (hsum + (4096 - buckets_used)) AS raw,
           4096 - buckets_used AS zeros
    FROM agg
),
fin AS (
    SELECT event_type, buckets_used,
           round(CASE WHEN raw <= 10240.0 AND zeros > 0
                      THEN 4096.0 * ln(4096.0 / zeros)
                      ELSE raw END, 4) AS hll_estimate
    FROM est
),
ex AS (
    SELECT event_type, count(DISTINCT user_id) AS n_exact
    FROM events GROUP BY 1
)
SELECT f.event_type, f.hll_estimate, f.buckets_used, ex.n_exact,
       round(abs(f.hll_estimate - ex.n_exact) * 1.0 / ex.n_exact, 4)
           AS rel_error
FROM fin f JOIN ex USING (event_type)
"""


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level survivorship merge over each customer's order
    history (MDM golden record): every attribute independently takes
    the LATEST NON-NULL value — a fresher row with a missing field
    must not erase an older row's value, the per-field refinement of
    top-1 survivorship.  NULLs are planted deterministically
    (status hidden on orderkey % 3 = 0, priority on % 5 = 0) so the
    field-independence is actually exercised.  Verified stages:
    operators/scd.py golden_record (one max_by aggregate per field on
    a unique epoch-day*1e10+orderkey key — no window sort, no
    self-join)."""
    from ..operators.scd import golden_record

    o = rebalance(load_table(spark, sf_dir, "orders"))
    masked = o.select(
        "o_custkey",
        (
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long")
            * F.lit(10_000_000_000).cast("long")
            + F.col("o_orderkey")
        ).alias("__ord"),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(
            F.col("o_orderkey") % 5 != 0, F.col("o_orderpriority")
        ).alias("o_orderpriority"),
    )
    return golden_record(
        masked, "o_custkey", "__ord", ["o_orderstatus", "o_orderpriority"]
    )


ORACLE_GOLDEN_RECORD = """
WITH masked AS (
    SELECT o_custkey,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               * 10000000000 + o_orderkey AS ord,
           CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus END
               AS o_orderstatus,
           CASE WHEN o_orderkey % 5 <> 0 THEN o_orderpriority END
               AS o_orderpriority
    FROM orders
)
SELECT o_custkey,
       arg_max(o_orderstatus,
               CASE WHEN o_orderstatus IS NOT NULL THEN ord END)
           AS o_orderstatus,
       arg_max(o_orderpriority,
               CASE WHEN o_orderpriority IS NOT NULL THEN ord END)
           AS o_orderpriority,
       count(*) AS n_versions,
       max(ord) AS last_order_key
FROM masked
GROUP BY 1
"""


register("hll_distinct", q_hll_distinct, ORACLE_HLL_DISTINCT)
register("golden_record", q_golden_record, ORACLE_GOLDEN_RECORD)


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter semi-join (operators/skew.py
    bloom_prefilter_semi_join): revenue of lineitems whose order is
    URGENT and > $150k.  The probe side is filtered by a broadcast
    8 KiB Bloom bitmap (xxhash64 x2, 65,536 bits) BEFORE the exact
    ``left_semi`` verify join — the explicit form of Spark's runtime
    bloom filter, shrinking the verify join's shuffle to matches plus
    the false-positive tail.  The bloom stage is output-invariant
    (false positives die in the verify join; false negatives are
    impossible), so the oracle is the plain semi-join aggregate."""
    from ..operators.skew import bloom_prefilter_semi_join

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000.0)
    ).select("o_orderkey")
    hits = bloom_prefilter_semi_join(li, dim, "l_orderkey", "o_orderkey")
    return (
        hits.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue"),
            F.count_distinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_BLOOM_SEMI_JOIN = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_orderkey IN (
    SELECT o_orderkey FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
)
GROUP BY 1
ORDER BY 1
"""


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user max drawdown of the signed cash-flow curve
    (operators/windows.py max_drawdown): purchases/signups credit the
    curve, every other event debits it, ordered by (ts, event_id).
    One window shuffle on user_id serves cumsum, running peak, and
    drawdown; relative drawdown is lazy-CASE-guarded on peak > 0."""
    from ..operators.windows import max_drawdown

    e = rebalance(load_table(spark, sf_dir, "events"))
    signed = e.withColumn(
        "__flow",
        F.when(
            F.col("event_type").isin("purchase", "signup"), F.col("value")
        ).otherwise(-F.col("value")),
    )
    return max_drawdown(
        signed, ["user_id"], ["ts", "event_id"], "__flow"
    ).orderBy("user_id")


ORACLE_MAX_DRAWDOWN = """
WITH signed AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type IN ('purchase', 'signup') THEN value
                ELSE -value END AS flow
    FROM events
),
curve AS (
    SELECT user_id, ts, event_id, flow,
           sum(flow) OVER w AS cum
    FROM signed
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
peaks AS (
    SELECT user_id, flow, cum,
           max(cum) OVER w2 AS peak
    FROM curve
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id,
       round(max(peak - cum), 6) AS max_drawdown,
       round(max(CASE WHEN peak > 0 THEN (peak - cum) / peak END), 6)
           AS max_rel_drawdown,
       round(max(peak), 6) AS peak_equity,
       round(sum(flow), 6) AS final_equity,
       count(*) AS n_points
FROM peaks
GROUP BY 1
ORDER BY 1
"""


def q_salted_hot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py salted_agg) on
    the HOTTEST possible key distribution — events has only 5 event
    types, each ~20 % of the table, exactly the shape where a single
    reducer per key bottlenecks a 1000-executor groupBy.  Phase 1
    partially aggregates on (key, salt x16); phase 2 reduces <=16
    partial rows per key.  Salt choice cannot affect any
    reassociatable aggregate, so the oracle is the plain GROUP BY."""
    from ..operators.skew import salted_agg

    e = rebalance(load_table(spark, sf_dir, "events"))
    out = salted_agg(
        e,
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sum_value": (F.sum("value"), F.sum("sum_value")),
            "max_value": (F.max("value"), F.max("max_value")),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"),
    ).orderBy("event_type")


ORACLE_SALTED_HOT_AGG = """
SELECT event_type,
       count(*) AS n,
       round(sum(value), 4) AS sum_value,
       round(max(value), 6) AS max_value
FROM events
GROUP BY 1
ORDER BY 1
"""


register("bloom_semi_join", q_bloom_semi_join, ORACLE_BLOOM_SEMI_JOIN)
register("max_drawdown", q_max_drawdown, ORACLE_MAX_DRAWDOWN)
register("salted_hot_agg", q_salted_hot_agg, ORACLE_SALTED_HOT_AGG)


# ---------------------------------------------------------------------------
# Round-10 widening batch 4: HLL set algebra, quantile normalization,
# oracle-verified PCA power iteration
# ---------------------------------------------------------------------------

_HLL_ALG_A = "purchase"
_HLL_ALG_B = "signup"
_HLL_ALG_MIN = 150.0


def q_hll_audience_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed set algebra on mergeable HLL register tables
    (operators/sketch.py hll_buckets/hll_merge): audience A = users
    who purchase, B = users who view; union = ONE max-merge of the
    two register tables (never the raw user sets), intersection by
    inclusion-exclusion on the three estimates, all side-by-side with
    the exact counts.  At 100 TB the exact intersection requires
    co-locating both distinct sets; the sketch path ships 2^p
    registers per set.  Every estimate is value-verified in the
    oracle because the portable sketch is cross-engine deterministic
    (see hll_cardinality)."""
    from ..operators import sketch

    e = rebalance(load_table(spark, sf_dir, "events"))
    pred_a = (F.col("event_type") == _HLL_ALG_A) & (
        F.col("value") > _HLL_ALG_MIN
    )
    pred_b = (F.col("event_type") == _HLL_ALG_B) & (
        F.col("value") > _HLL_ALG_MIN
    )
    a = sketch.hll_buckets(e.filter(pred_a), "user_id")
    b = sketch.hll_buckets(e.filter(pred_b), "user_id")
    u = sketch.hll_merge(a, b)
    est_a = sketch.hll_estimate_from_buckets(a).select(
        F.col("hll_estimate").alias("est_a")
    )
    est_b = sketch.hll_estimate_from_buckets(b).select(
        F.col("hll_estimate").alias("est_b")
    )
    est_u = sketch.hll_estimate_from_buckets(u).select(
        F.col("hll_estimate").alias("est_union")
    )
    flags = e.groupBy("user_id").agg(
        F.max(pred_a.cast("int")).alias("pa"),
        F.max(pred_b.cast("int")).alias("pb"),
    )
    exact = flags.agg(
        F.sum("pa").alias("exact_a"),
        F.sum("pb").alias("exact_b"),
        F.sum(F.greatest("pa", "pb")).alias("exact_union"),
        F.sum(F.col("pa") * F.col("pb")).alias("exact_intersect"),
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(F.broadcast(exact))
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersect"),
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersect",
        )
    )


def _hll_scalar_sql(where: str) -> str:
    """One scalar HLL estimate (p=12 portable sketch) over
    ``events.user_id`` rows matching ``where`` — the set-algebra twin
    of ORACLE_HLL_DISTINCT's grouped form."""
    return f"""(
WITH h AS (
    SELECT spark_xxhash64(CAST(user_id AS VARCHAR)) AS hv
    FROM events WHERE {where}
),
rb AS (
    SELECT ((hv % 4096) + 4096) % 4096 AS b,
           (hv >> 12) & ((1::BIGINT << 52) - 1) AS w
    FROM h
),
mx AS (
    SELECT b,
           max(least(CASE WHEN w > 0 THEN 52 - length(bin(w)) + 1
                          ELSE 53 END, 40)) AS mr
    FROM rb GROUP BY 1
),
agg AS (
    SELECT sum(pow(2.0, -mr)) AS hsum, count(*) AS bu FROM mx
),
est AS (
    SELECT bu, 12098218.894406674 / (hsum + (4096 - bu)) AS raw,
           4096 - bu AS zeros
    FROM agg
)
SELECT round(CASE WHEN raw <= 10240.0 AND zeros > 0
                  THEN 4096.0 * ln(4096.0 / zeros)
                  ELSE raw END, 4)
FROM est
)"""


_SQL_PRED_A = "event_type = 'purchase' AND value > 150.0"
_SQL_PRED_B = "event_type = 'signup' AND value > 150.0"

ORACLE_HLL_AUDIENCE_ALGEBRA = f"""
WITH ea AS (SELECT {_hll_scalar_sql(_SQL_PRED_A)} AS est_a),
eb AS (SELECT {_hll_scalar_sql(_SQL_PRED_B)} AS est_b),
eu AS (SELECT {_hll_scalar_sql(f"({_SQL_PRED_A}) OR ({_SQL_PRED_B})")}
           AS est_union),
flags AS (
    SELECT user_id,
           max(CASE WHEN {_SQL_PRED_A} THEN 1 ELSE 0 END) AS pa,
           max(CASE WHEN {_SQL_PRED_B} THEN 1 ELSE 0 END) AS pb
    FROM events GROUP BY 1
),
exact AS (
    SELECT sum(pa) AS exact_a, sum(pb) AS exact_b,
           sum(greatest(pa, pb)) AS exact_union,
           sum(pa * pb) AS exact_intersect
    FROM flags
)
SELECT est_a, est_b, est_union,
       round(est_a + est_b - est_union, 4) AS est_intersect,
       exact_a, exact_b, exact_union, exact_intersect
FROM ea, eb, eu, exact
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization (operators/stats.py
    quantile_normalize): every source's document-length distribution
    is forced onto the pooled one — the batch-effect corrector for
    mixing corpora whose quality/length scales differ.  One window
    shuffle for the per-source ntile, then a 100-row broadcast
    remap."""
    from ..operators.stats import quantile_normalize

    docs = rebalance(load_table(spark, sf_dir, "documents"))
    return quantile_normalize(
        docs, "source", "n_chars", ["doc_id"], n_bins=100
    ).orderBy("doc_id")


ORACLE_QUANTILE_NORMALIZE = """
WITH binned AS (
    SELECT doc_id, source, n_chars,
           ntile(100) OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS qbin
    FROM documents
),
targets AS (
    SELECT qbin, round(avg(n_chars), 6) AS normalized
    FROM binned GROUP BY 1
)
SELECT b.doc_id, b.source, b.n_chars, b.qbin, t.normalized
FROM binned b JOIN targets t USING (qbin)
ORDER BY b.doc_id
"""


_PCA_ITERS = 30
_PCA_TOPK = 10


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus, fully
    oracle-verified: the DISTRIBUTED stage is the d(d+1)/2-bounded
    covariance reduction (embedding_covariance) plus the projection
    scan; the d×d power iteration runs on the driver over the ROUNDED
    covariance (2,080 rows — a function of the embedding DIMENSION,
    constant in corpus size, the same boundedness argument as the
    graph module's gated union-find).  Because every iterate is
    re-rounded to 6 decimals, the unrolled-SQL oracle walks the
    identical sequence — the eigenvector VALUES are verified, not
    just sanity-checked.  Returns the top-10 documents by |PC1
    score| with the Rayleigh-quotient eigenvalue."""
    from ..operators import similarity as sim

    e = rebalance(load_table(spark, sf_dir, "embeddings"))
    cov_rows = sim.embedding_covariance(e.select("embedding")).collect()
    d = 1 + max(r["j"] for r in cov_rows)
    v, lam = sim.pca_power_component(cov_rows, d, _PCA_ITERS)
    proj = sim.project_onto_component(e, v)
    return (
        proj.select(
            "vec_id", "pc1_score", F.lit(lam).alias("eigenvalue")
        )
        .orderBy(F.abs(F.col("pc1_score")).desc(), "vec_id")
        .limit(_PCA_TOPK)
    )


def _pca_oracle(d: int = 64, iters: int = _PCA_ITERS) -> str:
    start = "round(1.0 / sqrt({d}.0), 6)".format(d=d)
    parts = [
        """
WITH x AS MATERIALIZED (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings WHERE embedding IS NOT NULL
),
tri AS MATERIALIZED (
    SELECT a.i AS i, b.i AS j,
           round(avg(a.v * b.v) - avg(a.v) * avg(b.v), 6) + 0.0 AS c
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
),
cov AS MATERIALIZED (
    SELECT i, j, c FROM tri
    UNION ALL
    SELECT j AS i, i AS j, c FROM tri WHERE i <> j
),
it0 AS MATERIALIZED (
    SELECT DISTINCT i, {start} AS v FROM cov
)""".format(start=start)
    ]
    for k in range(1, iters + 1):
        parts.append(
            """,
w{k} AS MATERIALIZED (
    SELECT c.i AS i, sum(c.c * p.v) AS w
    FROM cov c JOIN it{prev} p ON c.j = p.i GROUP BY 1
),
n{k} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w{k}),
it{k} AS MATERIALIZED (SELECT i, round(w / nrm, 6) AS v FROM w{k}, n{k})""".format(
                k=k, prev=k - 1
            )
        )
    parts.append(
        """,
sgn AS MATERIALIZED (
    SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
    FROM it{n} WHERE v <> 0 ORDER BY i LIMIT 1
),
vec AS MATERIALIZED (SELECT i, v * s AS v FROM it{n}, sgn),
lam AS (
    SELECT round(sum(a.v * c.c * b.v), 6) AS eigenvalue
    FROM cov c JOIN vec a ON c.i = a.i JOIN vec b ON c.j = b.i
),
proj AS (
    SELECT x.vec_id, round(sum(x.v * vec.v), 4) AS pc1_score
    FROM x JOIN vec ON x.i = vec.i GROUP BY 1
)
SELECT p.vec_id, p.pc1_score, l.eigenvalue
FROM proj p, lam l
ORDER BY abs(p.pc1_score) DESC, p.vec_id
LIMIT {topk}""".format(n=iters, topk=_PCA_TOPK)
    )
    return "".join(parts)


register("hll_audience_algebra", q_hll_audience_algebra,
         ORACLE_HLL_AUDIENCE_ALGEBRA)
register("quantile_normalize", q_quantile_normalize, ORACLE_QUANTILE_NORMALIZE)
register("pca_top_component", q_pca_top_component, _pca_oracle())


# ---------------------------------------------------------------------------
# Round-10 widening batch 5: Count-Sketch join-size estimation and the
# l-diversity privacy audit
# ---------------------------------------------------------------------------

_CS_DEPTH = 5
_CS_WIDTH = 2048


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation BEFORE running the join — the
    planner question at 100 TB — via the AMS/Count-Sketch inner
    product (operators/sketch.py countsketch_cells /
    countsketch_inner_product): each side reduces to depth×width
    signed integer cells, and the median-of-rows inner product is an
    UNBIASED estimate of |lineitem ⋈ orders|.  Every cell and the
    estimate are integers, so the DuckDB twin verifies the estimator's
    VALUES, and the exact join count rides along for the error
    column."""
    from ..operators import sketch

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders")
    tf_l = li.groupBy(
        F.col("l_orderkey").cast("string").alias("k")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tf_o = o.groupBy(
        F.col("o_orderkey").cast("string").alias("k")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    est = sketch.countsketch_inner_product(
        sketch.countsketch_cells(tf_l, "k", "cnt", _CS_DEPTH, _CS_WIDTH),
        sketch.countsketch_cells(tf_o, "k", "cnt", _CS_DEPTH, _CS_WIDTH),
        _CS_DEPTH,
    )
    exact = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "join_size_est",
        "exact_join_size",
        F.when(
            F.col("exact_join_size") > 0,
            F.round(
                F.abs(F.col("join_size_est") - F.col("exact_join_size"))
                / F.col("exact_join_size"),
                4,
            ),
        ).alias("rel_error"),
    )


def _countsketch_cells_sql(tf_cte: str) -> str:
    w, d = _CS_WIDTH, _CS_DEPTH
    bucket = (
        f"((spark_xxhash64(concat(CAST(r AS VARCHAR), '#', k)) % {w})"
        f" + {w}) % {w}"
    )
    sign = (
        "(2 * (((spark_xxhash64(concat('s', CAST(r AS VARCHAR), '#', k))"
        " % 2) + 2) % 2) - 1)"
    )
    return (
        f"SELECT r, {bucket} AS bucket, sum({sign} * cnt) AS cell "
        f"FROM {tf_cte}, unnest(range(0, {d})) AS u(r) GROUP BY 1, 2"
    )


ORACLE_JOIN_SIZE_ESTIMATE = f"""
WITH tfl AS (
    SELECT CAST(l_orderkey AS VARCHAR) AS k, count(*) AS cnt
    FROM lineitem GROUP BY 1
),
tfo AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS k, count(*) AS cnt
    FROM orders GROUP BY 1
),
cl AS ({_countsketch_cells_sql("tfl")}),
co AS ({_countsketch_cells_sql("tfo")}),
per AS (
    SELECT cl.r, sum(cl.cell * co.cell) AS est
    FROM cl JOIN co ON cl.r = co.r AND cl.bucket = co.bucket
    GROUP BY 1
),
-- re-anchor on the row spine with 0-fill (a row whose sketches share
-- no bucket vanishes from the join), matching the Spark twin
per2 AS (
    SELECT coalesce(p.est, 0) AS est
    FROM unnest(range(0, {_CS_DEPTH})) AS u(r) LEFT JOIN per p ON u.r = p.r
),
med AS (
    SELECT (list_sort(list(est)))[{_CS_DEPTH // 2 + 1}] AS join_size_est
    FROM per2
),
ex AS (
    SELECT count(*) AS exact_join_size
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT m.join_size_est, e.exact_join_size,
       CASE WHEN e.exact_join_size > 0 THEN
           round(abs(m.join_size_est - e.exact_join_size) * 1.0
                 / e.exact_join_size, 4)
       END AS rel_error
FROM med m, ex e
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators/stats.py l_diversity_audit) of the
    customer projection: quasi-identifier = nation × market segment,
    sensitive attribute = the $2k account-balance band.  Flags groups
    that are too small (k < 10) OR sensitively homogeneous
    (l_distinct < 5) — the homogeneity leak k-anonymity alone
    misses."""
    from ..operators import stats

    c = load_table(spark, sf_dir, "customer")
    banded = c.withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 2000).cast("int")
    )
    return stats.l_diversity_audit(
        banded,
        ["c_nationkey", "c_mktsegment"],
        "bal_band",
        k=10,
        l_min=5,
    ).orderBy("c_nationkey", "c_mktsegment")


ORACLE_L_DIVERSITY = """
WITH banded AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS INTEGER) AS bal_band
    FROM customer
),
g AS (
    SELECT c_nationkey, c_mktsegment,
           count(*) AS n,
           count(DISTINCT bal_band) AS l_distinct
    FROM banded GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, n, l_distinct
FROM g
WHERE n < 10 OR l_distinct < 5
ORDER BY 1, 2
"""


register("join_size_estimate", q_join_size_estimate, ORACLE_JOIN_SIZE_ESTIMATE)
register("l_diversity", q_l_diversity, ORACLE_L_DIVERSITY)


