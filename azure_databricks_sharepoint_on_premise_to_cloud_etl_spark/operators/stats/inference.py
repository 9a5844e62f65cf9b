"""Distributed statistics operators — inference half
(p-values, multiple testing, effect sizes, experiment and
sequential-test machinery).  Split from the former monolithic
operators/stats.py (round 11); the descriptive half (exact
percentiles, encodings, DP noise) lives in .descriptive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ...scope import checkpoint, persist, release
from .descriptive import (
    _LEHMER_M,
    _NORM_B,
    _NORM_P,
    _SQRT_2PI,
    _lehmer_uniform,
    kaplan_meier,
)

def _normal_upper_tail(x: Column) -> Column:
    """``1 - Phi(x)`` for x >= 0 (A&S 7.1.26) — computed directly so
    two-sided p-values never round-trip through ``1 - (1 - u)``,
    which is not an IEEE identity and would let Spark and a SQL
    oracle disagree in the last ulp."""
    t = 1.0 / (1.0 + F.lit(_NORM_P) * x)
    poly = F.lit(0.0)
    # Horner over b5..b1
    for b in reversed(_NORM_B):
        poly = (poly + F.lit(b)) * t
    pdf = F.exp(-x * x / 2.0) / F.lit(_SQRT_2PI)
    return pdf * poly


def normal_cdf(z: Column) -> Column:
    """Standard normal CDF Phi(z) via the A&S 7.1.26 polynomial —
    the portable p-value backend for every z-statistic operator.
    NULL z yields NULL."""
    upper = _normal_upper_tail(F.abs(z))
    return F.when(z >= 0, 1.0 - upper).otherwise(upper)


def attach_pvalue(
    df: DataFrame,
    z_col: str,
    out_col: str = "p_value",
    sided: int = 2,
) -> DataFrame:
    """Append the normal-approximation p-value for an existing
    z-statistic column: two-sided ``2 * (1 - Phi(|z|))`` or one-sided
    upper-tail ``1 - Phi(z)``.  Rounded to 6 dp; NULL z stays NULL.

    Scale shape: a pure per-row expression on what is invariably an
    already-collapsed k-row statistic table — no shuffle, no scan.
    """
    if sided not in (1, 2):
        raise ValueError(f"sided must be 1 or 2, got {sided}")
    z = F.col(z_col)
    if sided == 2:
        p = 2.0 * _normal_upper_tail(F.abs(z))
    else:
        upper = _normal_upper_tail(F.abs(z))
        p = F.when(z >= 0, upper).otherwise(1.0 - upper)
    return df.withColumn(out_col, F.round(p, 6))


def bh_adjust(
    df: DataFrame,
    p_col: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment over a family of tests:
    ``q_i = min_{j >= i} (p_(j) * m / j)`` (capped at 1), plus the
    reject-at-``alpha`` flag — the correction every segment-sweep
    analysis needs once it runs one test per segment instead of one
    test overall.

    Scale shape: the input is a statistic table (one row per test),
    so the two windows (rank ascending, running-min from the worst
    p down) run over m test rows per family — thousands at most,
    partitioned by ``group_cols`` when families are independent.
    NULL p-values are excluded from the family (they neither consume
    a rank nor can be rejected).

    Adds: (rank, q_value, reject).
    """
    group_cols = group_cols or []
    base = df.filter(F.col(p_col).isNotNull())
    w_rank = Window.partitionBy(*group_cols).orderBy(
        F.col(p_col).asc(), *[F.col(c) for c in base.columns
                              if c != p_col and c not in group_cols]
    )
    w_all = Window.partitionBy(*group_cols)
    w_tailmin = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("__rank").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = base.withColumn(
        "__rank", F.row_number().over(w_rank)
    ).withColumn("__m", F.count(F.lit(1)).over(w_all))
    raw = (
        F.col(p_col)
        * F.col("__m").cast("double")
        / F.col("__rank").cast("double")
    )
    adjusted = ranked.withColumn(
        "q_value",
        F.round(F.least(F.min(raw).over(w_tailmin), F.lit(1.0)), 6),
    )
    return adjusted.select(
        *[c for c in base.columns],
        F.col("__rank").alias("rank"),
        "q_value",
        (F.col("q_value") <= F.lit(float(alpha))).alias("reject"),
    )


def one_vs_rest_rate_ztest(
    df: DataFrame,
    group_col: str,
    success_expr: Column,
) -> DataFrame:
    """Per-group one-vs-rest two-proportion z-test: does THIS
    segment's success rate differ from everyone else's — the segment
    sweep that precedes a :func:`bh_adjust` correction (k segments =
    k tests).  Pooled-variance z with the lazy-CASE guard on
    degenerate arms (empty rest, all-success pools).

    Scale shape: ONE hash aggregate to k group rows; the global
    totals derive from those k rows and broadcast back — the corpus
    is scanned once, and every count is integer-exact.

    Returns per group: (group, n, successes, rate, rest_rate, z).
    """
    per = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(success_expr.cast("long")), F.lit(0)
            ).alias("successes"),
        )
    )
    tot = per.groupBy().agg(
        F.sum("n").alias("__nt"), F.sum("successes").alias("__st")
    )
    j = per.crossJoin(F.broadcast(tot))
    n1 = F.col("n").cast("double")
    s1 = F.col("successes").cast("double")
    n2 = (F.col("__nt") - F.col("n")).cast("double")
    s2 = (F.col("__st") - F.col("successes")).cast("double")
    r1 = F.when(F.col("n") > 0, s1 / n1)
    r2 = F.when(n2 > 0, s2 / n2)
    pool = (s1 + s2) / (n1 + n2)
    se2 = pool * (1.0 - pool) * (1.0 / n1 + 1.0 / n2)
    z = F.when(
        (F.col("n") > 0) & (n2 > 0) & (se2 > 0),
        (r1 - r2) / F.sqrt(se2),
    )
    return j.select(
        group_col,
        "n",
        "successes",
        F.round(r1, 6).alias("rate"),
        F.round(r2, 6).alias("rest_rate"),
        F.round(z, 6).alias("z"),
    )


def forecast_accuracy(
    df: DataFrame,
    order_col: str,
    actual_col: str,
    forecast_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Forecast scoring over an (actual, forecast) series: MAE, RMSE,
    MAPE (zero-actual rows excluded from MAPE only), sMAPE
    (both-zero terms contribute 0), and MASE — MAE scaled by the
    in-sample naive-1 benchmark ``mean |y_t - y_{t-1}|``, the
    scale-free metric that makes accuracy comparable ACROSS series
    and exposes models that fail to beat "predict yesterday".

    Scale shape: one lag window per group for the naive denominator,
    then ONE hash aggregate to k rows; values ride as exact micro-unit
    integers so every error sum is engine-exact until the final
    divisions.

    Returns per group: (group..., n, mae, rmse, mape, smape, mase).
    """
    group_cols = group_cols or []
    a = F.col(actual_col)
    f_ = F.col(forecast_col)
    am = F.round(a * 1_000_000).cast("decimal(38,0)")
    fm = F.round(f_ * 1_000_000).cast("decimal(38,0)")
    base = df.filter(a.isNotNull() & f_.isNotNull()).select(
        *group_cols,
        F.col(order_col).alias("__o"),
        am.alias("__a"),
        fm.alias("__f"),
    )
    w = Window.partitionBy(*group_cols).orderBy("__o")
    staged = base.withColumn(
        "__naive_err",
        F.abs(F.col("__a") - F.lag("__a").over(w)),
    )
    err = F.abs(F.col("__a") - F.col("__f"))
    ad = F.col("__a").cast("double")
    errd = err.cast("double")
    denom = F.abs(F.col("__a")) + F.abs(F.col("__f"))
    smape_term = F.when(
        denom > 0, 2.0 * errd / denom.cast("double")
    ).otherwise(F.lit(0.0))
    per = staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(err).alias("__sae"),
        F.sum(err * err).alias("__sse"),
        F.sum(
            F.when(F.col("__a") != 0, errd / F.abs(ad))
        ).alias("__sape"),
        F.coalesce(
            F.sum(F.when(F.col("__a") != 0, 1).otherwise(0)),
            F.lit(0),
        ).alias("__n_nonzero"),
        F.sum(smape_term).alias("__ssmape"),
        F.sum("__naive_err").alias("__snaive"),
        F.count("__naive_err").alias("__n_naive"),
    )
    n = F.col("n").cast("double")
    mae_micro = F.col("__sae").cast("double") / n
    rmse_micro = F.sqrt(F.col("__sse").cast("double") / n)
    mape = F.when(
        F.col("__n_nonzero") > 0,
        F.col("__sape") / F.col("__n_nonzero").cast("double"),
    )
    smape = F.col("__ssmape") / n
    naive_mae = F.when(
        F.col("__n_naive") > 0,
        F.col("__snaive").cast("double")
        / F.col("__n_naive").cast("double"),
    )
    mase = F.when(naive_mae > 0, mae_micro / naive_mae)
    return per.select(
        *group_cols,
        "n",
        F.round(mae_micro / 1_000_000.0, 6).alias("mae"),
        F.round(rmse_micro / 1_000_000.0, 6).alias("rmse"),
        F.round(mape, 6).alias("mape"),
        F.round(smape, 6).alias("smape"),
        F.round(mase, 6).alias("mase"),
    )


def cumulative_gains(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank by model score descending,
    cut into ``n_buckets`` equal-count tiles, and report how much of
    the positive class each cumulative prefix captures — the business
    reading of a ranking model ("the top 20% of scores reach 61% of
    the buyers, lift 3.05").

    Determinism: the total order is (score desc, id asc), so tile
    boundaries are engine-independent.  The total sort is ONE
    partition — this is the exact-rank surface for bounded scoring
    sets (campaign audiences, eval samples); at full-corpus scale cut
    by approx-quantile thresholds instead (quality_quantile_filter's
    pattern) and aggregate per threshold bucket.

    Returns per bucket: (bucket, n, positives, cum_positives,
    capture_rate, cum_capture_rate, lift).
    """
    w = Window.orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    labeled = df.select(
        F.col(label_col).cast("long").alias("__y"),
        F.ntile(n_buckets).over(w).alias("bucket"),
    )
    per = labeled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("__y"), F.lit(0)).alias("positives"),
    )
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per.groupBy().agg(
        F.sum("n").alias("__nt"), F.sum("positives").alias("__pt")
    )
    cum = per.withColumn(
        "cum_positives", F.sum("positives").over(wb)
    ).withColumn("__cum_n", F.sum("n").over(wb)).crossJoin(
        F.broadcast(tot)
    )
    cap = F.when(
        F.col("__pt") > 0,
        F.col("positives").cast("double") / F.col("__pt").cast("double"),
    )
    cum_cap = F.when(
        F.col("__pt") > 0,
        F.col("cum_positives").cast("double")
        / F.col("__pt").cast("double"),
    )
    pop_share = F.col("__cum_n").cast("double") / F.col("__nt").cast(
        "double"
    )
    lift = F.when(pop_share > 0, cum_cap / pop_share)
    return cum.select(
        "bucket",
        "n",
        "positives",
        "cum_positives",
        F.round(cap, 6).alias("capture_rate"),
        F.round(cum_cap, 6).alias("cum_capture_rate"),
        F.round(lift, 6).alias("lift"),
    ).orderBy("bucket")


def weighted_mean_ess(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Design-weighted mean and variance with Kish effective sample
    size: ``ESS = (Σw)² / Σw²`` and the design effect ``n / ESS`` —
    the survey-statistics summary that says how much information the
    weighting threw away (deff 2 = your million weighted rows carry
    half a million rows of evidence).

    Scale shape: ONE hash aggregate per group; values and weights
    ride as exact micro-unit integers, every sum is engine-exact, and
    the weighted moments assemble in doubles on k rows.  Rows with
    NULL or non-positive weight are excluded (a zero/negative design
    weight is a spec error, not data).

    Returns per group: (group..., n, sum_weight, wmean, wvar, ess,
    deff).
    """
    group_cols = group_cols or []
    v = F.col(value_col)
    wt = F.col(weight_col)
    vm = F.round(v * 1_000_000).cast("decimal(38,0)")
    wm = F.round(wt * 1_000_000).cast("decimal(38,0)")
    base = df.filter(
        v.isNotNull() & wt.isNotNull() & (wt > 0)
    ).select(*group_cols, vm.alias("__v"), wm.alias("__w"))
    per = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sw2"),
        F.sum(F.col("__w") * F.col("__v")).alias("__swv"),
        F.sum(
            F.col("__w") * F.col("__v") * F.col("__v")
        ).alias("__swv2"),
    )
    sw = F.col("__sw").cast("double")
    sw2 = F.col("__sw2").cast("double")
    swv = F.col("__swv").cast("double")
    swv2 = F.col("__swv2").cast("double")
    wmean_micro = swv / sw
    wvar_micro2 = swv2 / sw - wmean_micro * wmean_micro
    ess = F.when(sw2 > 0, sw * sw / sw2)
    deff = F.when(ess > 0, F.col("n").cast("double") / ess)
    return per.select(
        *group_cols,
        "n",
        F.round(sw / 1_000_000.0, 6).alias("sum_weight"),
        F.round(wmean_micro / 1_000_000.0, 6).alias("wmean"),
        F.round(
            F.greatest(wvar_micro2, F.lit(0.0)) / 1.0e12, 6
        ).alias("wvar"),
        F.round(ess, 6).alias("ess"),
        F.round(deff, 6).alias("deff"),
    )


def conformal_interval(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
    alpha: float = 0.1,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Split-conformal prediction intervals: the (1-alpha) empirical
    quantile of calibration |residuals| becomes a symmetric band
    around every prediction — the distribution-free coverage
    guarantee (≥ 1-alpha on exchangeable data) that turns any point
    forecaster into an interval forecaster.  Conformal needs the
    ORDER STATISTIC at rank ``ceil((n+1)(1-alpha))`` (not an
    interpolated quantile); ranks beyond n clamp to the max residual.

    Rows with NULL actual are scoring rows: they get intervals but do
    not contribute to calibration.

    Scale shape: residuals ride as exact micro-unit integers; the
    per-group quantile comes from the value-histogram collapse
    (shuffle = distinct residuals, not rows) and broadcasts back as
    one row per group — the corpus itself never shuffles.

    Adds (pred_lo, pred_hi, conf_width) to the input columns.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha {alpha} outside (0, 1)")
    group_cols = group_cols or []
    a = F.col(actual_col)
    p = F.col(pred_col)
    rm = F.abs(
        F.round(a * 1_000_000).cast("decimal(38,0)")
        - F.round(p * 1_000_000).cast("decimal(38,0)")
    )
    calib = df.filter(a.isNotNull() & p.isNotNull()).select(
        *group_cols, rm.alias("__r")
    )
    hist = calib.groupBy(*group_cols, "__r").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*group_cols)
    ranked = hist.withColumn(
        "__cum", F.sum("__c").over(w_cum)
    ).withColumn("__n", F.sum("__c").over(w_all))
    k = F.ceil(
        (F.col("__n") + 1).cast("double") * F.lit(1.0 - float(alpha))
    )
    # the k-th order statistic: smallest residual whose cum >= k;
    # k > n (tiny calibration sets) clamps to the max residual
    qhat = ranked.groupBy(*group_cols).agg(
        F.coalesce(
            F.min(F.when(F.col("__cum") >= k, F.col("__r"))),
            F.max("__r"),
        ).alias("__qhat")
    )
    joined = (
        df.join(F.broadcast(qhat), group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(qhat))
    )
    width = F.col("__qhat").cast("double") / 1_000_000.0
    return joined.select(
        *df.columns,
        F.round(p - width, 6).alias("pred_lo"),
        F.round(p + width, 6).alias("pred_hi"),
        F.round(width, 6).alias("conf_width"),
    )


def qini_curve(
    df: DataFrame,
    treatment_col: str,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Qini curve for uplift ranking: cut BOTH arms by the model
    score into equal tiles and report, per cumulative prefix, the
    incremental conversions ``cum_pt - cum_pc * cum_nt/cum_nc`` and
    the uplift rate difference — the evaluation that separates "model
    finds persuadables" from "model finds sure things" (which a plain
    gains chart cannot).

    Determinism: total order (score desc, id asc); the exact-rank
    surface for bounded eval sets, same contract as
    :func:`cumulative_gains`.

    Returns per bucket: (bucket, n_treated, n_control, pos_treated,
    pos_control, cum_qini, cum_uplift).
    """
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    t = F.col(treatment_col).cast("long")
    y = F.col(label_col).cast("long")
    tiled = df.select(
        t.alias("__t"),
        y.alias("__y"),
        F.ntile(n_buckets).over(w).alias("bucket"),
    )
    per = tiled.groupBy("bucket").agg(
        F.sum("__t").alias("n_treated"),
        F.sum(1 - F.col("__t")).alias("n_control"),
        F.sum(F.col("__t") * F.col("__y")).alias("pos_treated"),
        F.sum((1 - F.col("__t")) * F.col("__y")).alias("pos_control"),
    )
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        per.withColumn("__cnt", F.sum("n_treated").over(wb))
        .withColumn("__cnc", F.sum("n_control").over(wb))
        .withColumn("__cpt", F.sum("pos_treated").over(wb))
        .withColumn("__cpc", F.sum("pos_control").over(wb))
    )
    cnt = F.col("__cnt").cast("double")
    cnc = F.col("__cnc").cast("double")
    cpt = F.col("__cpt").cast("double")
    cpc = F.col("__cpc").cast("double")
    qini = F.when(F.col("__cnc") > 0, cpt - cpc * cnt / cnc)
    uplift = F.when(
        (F.col("__cnt") > 0) & (F.col("__cnc") > 0),
        cpt / cnt - cpc / cnc,
    )
    return cum.select(
        "bucket",
        "n_treated",
        "n_control",
        "pos_treated",
        "pos_control",
        F.round(qini, 6).alias("cum_qini"),
        F.round(uplift, 6).alias("cum_uplift"),
    ).orderBy("bucket")


def price_index(
    df: DataFrame,
    period_col: str,
    item_col: str,
    price_cents_col: str,
    qty_col: str,
    base_period,
) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices per period against a
    fixed base period — the composite "are prices up 3% on last
    January's basket" number, weighting each item by base-period
    (Laspeyres) or current-period (Paasche) quantities, with Fisher
    the geometric mean of the two.  Only items present in BOTH the
    base and the comparison period enter (the standard matched-items
    convention).

    Scale shape: the corpus collapses to (period, item) cells in ONE
    hash aggregate — unit price as round(cents*1e4/qty) micro-price
    ints (a constant scaling that cancels in every ratio), quantities
    as ints — the base-period slice broadcasts back, and each index
    is a ratio of exact DECIMAL(38,0) term sums, so any engine lands
    on identical doubles.

    Returns per period: (period, n_items, laspeyres, paasche, fisher).
    """
    cells = (
        df.filter(
            F.col(period_col).isNotNull()
            & F.col(item_col).isNotNull()
            & F.col(qty_col).isNotNull()
            & (F.col(qty_col) > 0)
        )
        .groupBy(
            F.col(period_col).alias("__per"),
            F.col(item_col).alias("__item"),
        )
        .agg(
            F.sum(F.col(price_cents_col).cast("long")).alias("__cents"),
            F.sum(F.col(qty_col).cast("long")).alias("__qty"),
        )
        .select(
            "__per",
            "__item",
            F.round(
                F.col("__cents").cast("double")
                * 10_000.0
                / F.col("__qty").cast("double")
            )
            .cast("decimal(38,0)")
            .alias("__p"),
            F.col("__qty").cast("decimal(38,0)").alias("__q"),
        )
    )
    base = cells.filter(F.col("__per") == F.lit(base_period)).select(
        "__item",
        F.col("__p").alias("__p0"),
        F.col("__q").alias("__q0"),
    )
    j = cells.join(F.broadcast(base), "__item")
    per = j.groupBy("__per").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("__p") * F.col("__q0")).alias("__ptq0"),
        F.sum(F.col("__p0") * F.col("__q0")).alias("__p0q0"),
        F.sum(F.col("__p") * F.col("__q")).alias("__ptqt"),
        F.sum(F.col("__p0") * F.col("__q")).alias("__p0qt"),
    )
    lasp = F.when(
        F.col("__p0q0") > 0,
        F.col("__ptq0").cast("double") / F.col("__p0q0").cast("double"),
    )
    paas = F.when(
        F.col("__p0qt") > 0,
        F.col("__ptqt").cast("double") / F.col("__p0qt").cast("double"),
    )
    fisher = F.when(
        lasp.isNotNull() & paas.isNotNull(), F.sqrt(lasp * paas)
    )
    return per.select(
        F.col("__per").alias(period_col),
        "n_items",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(fisher, 6).alias("fisher"),
    )


def xyz_classification(
    df: DataFrame,
    item_col: str,
    period_col: str,
    value_col: str,
    x_max: float = 0.5,
    y_max: float = 1.0,
) -> DataFrame:
    """XYZ demand-variability classes: per item, the coefficient of
    variation of per-period totals — X (steady, CV ≤ x_max) forecasts
    well and carries low safety stock, Z (erratic, CV > y_max) does
    not — the partner cut to ABC value classes in inventory planning.
    Periods with no activity for an item simply don't exist in the
    series (the standard simplification; zero-fill first via
    resample_ffill when absence means zero).

    Scale shape: one (item, period) collapse, then ONE item-level
    aggregate of exact micro-unit sums; CV assembles per item in
    doubles (population stddev, the inventory convention).

    Returns per item: (item, n_periods, mean_demand, cv, xyz_class).
    """
    per = (
        df.filter(
            F.col(item_col).isNotNull() & F.col(period_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("__item"),
            F.col(period_col).alias("__per"),
        )
        .agg(
            F.sum(
                F.round(F.col(value_col) * 1_000_000).cast(
                    "decimal(38,0)"
                )
            ).alias("__v")
        )
    )
    item = per.groupBy("__item").agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__s2"),
    )
    n = F.col("n_periods").cast("double")
    mean = F.col("__s").cast("double") / n
    var = F.col("__s2").cast("double") / n - mean * mean
    cv = F.when(
        mean != 0, F.sqrt(F.greatest(var, F.lit(0.0))) / F.abs(mean)
    )
    cls = (
        F.when(cv.isNull(), F.lit(None).cast("string"))
        .when(cv <= x_max, F.lit("X"))
        .when(cv <= y_max, F.lit("Y"))
        .otherwise(F.lit("Z"))
    )
    return item.select(
        F.col("__item").alias(item_col),
        "n_periods",
        F.round(mean / 1_000_000.0, 6).alias("mean_demand"),
        F.round(cv, 6).alias("cv"),
        cls.alias("xyz_class"),
    )


def ols2_fit(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Two-feature OLS with intercept per group, solved in closed form
    (Cramer's rule on the centered normal equations) — the "trend plus
    one covariate" regression (demand ~ time + price, revenue ~ spend
    + seasonality) that :func:`group_ols`'s single feature can't
    express, without driver-side matrix math.

    Scale shape: ONE hash aggregate of exact micro-unit raw sums (9
    cross-moments); the 2x2 solve runs per k-row group in doubles, so
    any engine lands on identical coefficients.  Collinear features
    (zero determinant) yield NULL coefficients rather than exploding.

    Returns per group: (group..., n, b0, b1, b2, r2).
    """
    group_cols = group_cols or []
    cols = {"y": y_col, "x1": x1_col, "x2": x2_col}
    conds = [F.col(c).isNotNull() for c in cols.values()]
    base = df.filter(
        conds[0] & conds[1] & conds[2]
    ).select(
        *group_cols,
        *[
            F.round(F.col(c) * 1_000_000)
            .cast("decimal(38,0)")
            .alias(f"__{k}")
            for k, c in cols.items()
        ],
    )
    y, x1, x2 = F.col("__y"), F.col("__x1"), F.col("__x2")
    per = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("__sy"),
        F.sum(x1).alias("__s1"),
        F.sum(x2).alias("__s2"),
        F.sum(x1 * x1).alias("__s11"),
        F.sum(x2 * x2).alias("__s22"),
        F.sum(x1 * x2).alias("__s12"),
        F.sum(x1 * y).alias("__s1y"),
        F.sum(x2 * y).alias("__s2y"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # centered sums of squares / cross products
    s11 = d("__s11") - d("__s1") * d("__s1") / n
    s22 = d("__s22") - d("__s2") * d("__s2") / n
    s12 = d("__s12") - d("__s1") * d("__s2") / n
    s1y = d("__s1y") - d("__s1") * d("__sy") / n
    s2y = d("__s2y") - d("__s2") * d("__sy") / n
    syy = d("__syy") - d("__sy") * d("__sy") / n
    det = s11 * s22 - s12 * s12
    b1 = F.when(det > 0, (s1y * s22 - s2y * s12) / det)
    b2 = F.when(det > 0, (s2y * s11 - s1y * s12) / det)
    # micro scaling cancels in b1/b2 (micro²/micro²); b0 in value units
    b0 = (d("__sy") / n - b1 * d("__s1") / n - b2 * d("__s2") / n) / 1_000_000.0
    r2 = F.when(
        det.isNotNull() & (syy > 0) & (det > 0),
        (b1 * s1y + b2 * s2y) / syy,
    )
    return per.select(
        *group_cols,
        "n",
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Partial correlation r(x, y | z): the x–y association with the
    confounder z regressed out of both — the one-number check that a
    striking correlation isn't just both measures riding the same
    third variable (volume, time, store size):

        r_xy.z = (r_xy - r_xz * r_yz)
                 / sqrt((1 - r_xz²) (1 - r_yz²))

    Scale shape: ONE hash aggregate of exact micro-unit raw sums per
    group; the three pairwise Pearson correlations and the partial
    assemble per k-row group in doubles.  Degenerate cases (any
    variance zero, |r_xz| or |r_yz| = 1) yield NULL.

    Returns per group: (group..., n, r_xy, r_xz, r_yz, r_xy_given_z).
    """
    group_cols = group_cols or []
    cols = {"x": x_col, "y": y_col, "z": z_col}
    conds = [F.col(c).isNotNull() for c in cols.values()]
    base = df.filter(conds[0] & conds[1] & conds[2]).select(
        *group_cols,
        *[
            F.round(F.col(c) * 1_000_000)
            .cast("decimal(38,0)")
            .alias(f"__{k}")
            for k, c in cols.items()
        ],
    )
    x, y, z = F.col("__x"), F.col("__y"), F.col("__z")
    per = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(z).alias("__sz"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(z * z).alias("__szz"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * z).alias("__sxz"),
        F.sum(y * z).alias("__syz"),
    )
    n = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def _c(sab, sa, sb):
        return d(sab) - d(sa) * d(sb) / n

    cxx = _c("__sxx", "__sx", "__sx")
    cyy = _c("__syy", "__sy", "__sy")
    czz = _c("__szz", "__sz", "__sz")
    cxy = _c("__sxy", "__sx", "__sy")
    cxz = _c("__sxz", "__sx", "__sz")
    cyz = _c("__syz", "__sy", "__sz")

    def _r(cab, caa, cbb):
        return F.when((caa > 0) & (cbb > 0), cab / F.sqrt(caa * cbb))

    rxy = _r(cxy, cxx, cyy)
    rxz = _r(cxz, cxx, czz)
    ryz = _r(cyz, cyy, czz)
    den2 = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    pr = F.when(den2 > 0, (rxy - rxz * ryz) / F.sqrt(den2))
    return per.select(
        *group_cols,
        "n",
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(pr, 6).alias("r_xy_given_z"),
    )


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Restricted mean survival time to horizon ``tau``: the area
    under the Kaplan–Meier curve on [0, tau] — "expected event-free
    time in the first tau days", the modern report when proportional
    hazards don't hold.  Built on :func:`kaplan_meier`; the integral
    is exact over the step function: each inter-event segment
    contributes S(previous step) x segment length, plus the tail
    S(last step ≤ tau) x (tau - last step).

    Groups with NO events inside [0, tau] are absent from the KM
    table and hence from the output; their RMST is tau by definition
    (the caller's join-with-default, documented rather than guessed).

    Scale shape: the KM collapse (distinct durations, not subjects),
    then one lag window + ONE aggregate per group; survival (already
    6-dp) and durations ride as exact integers so the area sums are
    engine-exact.

    Returns per group: (group..., n_steps, rmst).
    """
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    group_cols = group_cols or []
    km = kaplan_meier(df, duration_col, event_col, group_cols)
    steps = km.filter(F.col("duration") <= F.lit(float(tau))).select(
        *group_cols,
        F.round(F.col("duration") * 1_000_000)
        .cast("decimal(38,0)")
        .alias("__t"),
        F.round(F.col("survival") * 1_000_000)
        .cast("decimal(38,0)")
        .alias("__s6"),
    )
    w = Window.partitionBy(*group_cols).orderBy("__t")
    one6 = F.lit(1_000_000).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    staged = steps.select(
        *group_cols,
        "__t",
        "__s6",
        F.coalesce(F.lag("__t").over(w), zero).alias("__tp"),
        F.coalesce(F.lag("__s6").over(w), one6).alias("__sp"),
    ).withColumn(
        "__area", F.col("__sp") * (F.col("__t") - F.col("__tp"))
    )
    tau6 = F.lit(int(round(float(tau) * 1_000_000))).cast(
        "decimal(38,0)"
    )
    per = staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum("__area").alias("__a"),
        F.max("__t").alias("__tl"),
        F.max_by("__s6", "__t").alias("__sl"),
    )
    total = (
        F.col("__a").cast("double")
        + F.col("__sl").cast("double")
        * (tau6 - F.col("__tl")).cast("double")
    )
    return per.filter(F.col("n_steps") > 0).select(
        *group_cols,
        "n_steps",
        F.round(total / 1.0e12, 6).alias("rmst"),
    )


def dp_noisy_sum(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    clip_lo: float,
    clip_hi: float,
    epsilon: float = 1.0,
    salt: int = 0,
) -> DataFrame:
    """Differentially-private group sums: values CLIPPED to
    ``[clip_lo, clip_hi]`` (bounding each row's contribution — the
    sensitivity — is what makes the guarantee hold; unclipped sums
    have unbounded sensitivity and no epsilon), summed per group, plus
    Laplace((hi-lo)/epsilon) noise from the same deterministic
    md5-seeded Lehmer generator as :func:`dp_noisy_counts` (domain-
    separated with a ``sum:`` prefix so count and sum releases of the
    same group draw independent noise).

    Scale shape: ONE hash aggregate of exact micro-unit clipped sums;
    noise is per-group scalar arithmetic on the k rows.

    Returns (group..., noisy_sum) — true sums deliberately omitted.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    if not clip_lo < clip_hi:
        raise ValueError(
            f"clip_lo {clip_lo} must be < clip_hi {clip_hi}"
        )
    from ...functions import portable_hash64

    v = F.col(value_col)
    clipped = F.least(
        F.greatest(v, F.lit(float(clip_lo))), F.lit(float(clip_hi))
    )
    micro = F.round(clipped * 1_000_000).cast("decimal(38,0)")
    per = (
        df.filter(v.isNotNull())
        .groupBy(*group_cols)
        .agg(F.sum(micro).alias("__s"))
    )
    key_str = F.concat(
        F.lit("sum:"),
        F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in group_cols]
        ),
    )
    key = portable_hash64(key_str, seed=salt)
    u = F.greatest(
        _lehmer_uniform(key), F.lit(0.5 / _LEHMER_M)
    )
    vshift = u - 0.5
    b = (float(clip_hi) - float(clip_lo)) / float(epsilon)
    noise = (
        -F.lit(b) * F.signum(vshift) * F.log(1.0 - 2.0 * F.abs(vshift))
    )
    noisy = F.col("__s").cast("double") / 1_000_000.0 + noise
    return per.select(
        *group_cols, F.round(noisy, 6).alias("noisy_sum")
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two categorical
    label columns — the standard chance-corrected agreement score for
    label-quality audits (two annotation models, a model vs a human
    pass, or a heuristic vs a gold column).

    Scale shape: ONE hash aggregate collapses the corpus to the
    (a, b) contingency cells (bounded by the category-pair
    cardinality, not the row count); marginals and the final scalar
    are computed on those k² rows with broadcast-sized joins.  No
    window over the corpus, no second scan.

    Cross-engine determinism: observed and expected agreement are
    rounded to 6 decimals FIRST, then kappa is derived from the
    rounded shares.  Degenerate shapes (empty input, or expected
    agreement = 1 when both raters are constant and identical) yield
    NULL kappa via the lazy-CASE discipline rather than an ANSI
    DIVIDE_BY_ZERO.

    Returns one row: (n, p_observed, p_expected, kappa).
    """
    a = F.col(rater_a_col)
    b = F.col(rater_b_col)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    marg_a = cells.groupBy(F.col("__a").alias("__cat")).agg(
        F.sum("__c").alias("__ra")
    )
    marg_b = cells.groupBy(F.col("__b").alias("__cat")).agg(
        F.sum("__c").alias("__cb")
    )
    # expected agreement sums row_marginal x col_marginal PER CATEGORY
    # (full outer: a category one rater never uses contributes 0)
    exp = marg_a.join(marg_b, "__cat", "full_outer").agg(
        F.sum(
            F.coalesce(F.col("__ra"), F.lit(0)).cast("double")
            * F.coalesce(F.col("__cb"), F.lit(0)).cast("double")
        ).alias("__exp_num")
    )
    m = cells.agg(
        F.sum("__c").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c"))).alias(
            "__agree"
        ),
    ).crossJoin(F.broadcast(exp))
    n = F.col("n").cast("double")
    po = F.round(
        F.when(n > 0, F.coalesce(F.col("__agree"), F.lit(0)) / n), 6
    )
    pe = F.round(F.when(n > 0, F.col("__exp_num") / (n * n)), 6)
    out = m.select(
        "n", po.alias("p_observed"), pe.alias("p_expected")
    )
    kappa = F.when(
        F.col("p_expected") < 1.0,
        (F.col("p_observed") - F.col("p_expected"))
        / (1.0 - F.col("p_expected")),
    )
    return out.select(
        "n",
        "p_observed",
        "p_expected",
        F.round(kappa, 4).alias("kappa"),
    )


def classification_loss(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Probabilistic-classifier loss scoreboard: log-loss (cross
    entropy) and Brier score in ONE aggregate — the two proper scoring
    rules every model-quality gate wants next to ROC-AUC (sharpness
    AND calibration, where AUC sees only ranking).

    Scale shape: one conditional hash aggregate over the corpus
    (map-side partial combine), pure arithmetic on the one-row result.

    Probabilities are clamped to ``[eps, 1-eps]`` before the log so a
    hard 0/1 prediction on a wrong label costs a large finite penalty
    instead of poisoning the mean with infinity.  Per-row terms are
    aggregated at full precision; the three means are rounded at the
    end (6 decimals) for cross-engine agreement.

    Returns one row: (n, base_rate, log_loss, brier).
    """
    if not 0 < eps < 0.5:
        raise ValueError(f"eps must be in (0, 0.5), got {eps}")
    y = F.col(label_col).cast("double")
    p = F.least(
        F.greatest(F.col(prob_col).cast("double"), F.lit(float(eps))),
        F.lit(1.0 - float(eps)),
    )
    ll = -(y * F.log(p) + (1.0 - y) * F.log(1.0 - p))
    br = (p - y) * (p - y)
    return (
        df.filter(
            F.col(label_col).isNotNull() & F.col(prob_col).isNotNull()
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(y), 6).alias("base_rate"),
            F.round(F.avg(ll), 6).alias("log_loss"),
            F.round(F.avg(br), 6).alias("brier"),
        )
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight-of-Evidence encoding + Information Value per category of
    a feature against a binary label — the credit-scoring-lineage
    feature-screening pair (IV ranks predictive power; WOE is the
    monotone encoding logistic models consume).

    Scale shape: ONE hash aggregate collapses the corpus to k category
    rows (positive/negative counts via conditional sums, map-side
    combined); distributions, WOE, and the IV total are arithmetic on
    those k rows.  The ``iv_total`` column is a single-partition
    window over the k CATEGORY rows — never over the corpus.

    Laplace smoothing (default 0.5) is added per cell against the
    smoothed totals, so empty cells (a category with no positives)
    get a finite WOE instead of ±infinity; ``smoothing=0`` restores
    the raw estimator and NULLs the degenerate cells via lazy CASE.
    Distributions are rounded to 6 decimals FIRST, then WOE/IV derive
    from the rounded shares (cross-engine determinism).

    Returns one row per category: (category, n, n_pos, n_neg, woe,
    iv_term, iv_total).
    """
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    s = float(smoothing)
    y = F.col(label_col).cast("double")
    per = (
        df.filter(F.col(feature_col).isNotNull() & y.isNotNull())
        .groupBy(F.col(feature_col).alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(y != 0, 1).otherwise(0)).alias("n_pos"),
            F.sum(F.when(y == 0, 1).otherwise(0)).alias("n_neg"),
        )
    )
    w_all = Window.partitionBy()
    k = F.count(F.lit(1)).over(w_all)
    pos_tot = F.sum("n_pos").over(w_all).cast("double")
    neg_tot = F.sum("n_neg").over(w_all).cast("double")
    dist_pos = F.round(
        F.when(
            pos_tot + s * k > 0,
            (F.col("n_pos") + s) / (pos_tot + s * k),
        ),
        6,
    )
    dist_neg = F.round(
        F.when(
            neg_tot + s * k > 0,
            (F.col("n_neg") + s) / (neg_tot + s * k),
        ),
        6,
    )
    per = per.select(
        "category",
        "n",
        "n_pos",
        "n_neg",
        dist_pos.alias("__dp"),
        dist_neg.alias("__dn"),
    )
    woe = F.round(
        F.when(
            (F.col("__dp") > 0) & (F.col("__dn") > 0),
            F.log(F.col("__dp") / F.col("__dn")),
        ),
        6,
    )
    per = per.withColumn("woe", woe).withColumn(
        "iv_term",
        F.round((F.col("__dp") - F.col("__dn")) * F.col("woe"), 6),
    )
    return per.select(
        "category",
        "n",
        "n_pos",
        "n_neg",
        "woe",
        "iv_term",
        F.round(F.sum("iv_term").over(w_all), 6).alias("iv_total"),
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Mann–Kendall monotone-trend test per group — the
    distribution-free "is this series trending?" check (sign-based, so
    robust to outliers and any monotone transform), with the standard
    tie-corrected normal approximation.

    S = Σ_{i<j} sign(v_j − v_i) over time-ordered pairs;
    Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 over tie groups t;
    z applies the ±1 continuity correction.

    Scale shape: pair enumeration is a WITHIN-GROUP self-join (equi on
    the group key, so it shuffles once on the key and never crosses
    groups).  Like :func:`theil_sen_trend`, this is O(n²) in the GROUP
    size and is meant for pre-aggregated bounded series (daily/monthly
    rollups — hundreds of points), where n² is trivial; the corpus
    reduction that produces the series is the caller's one big
    aggregate.  Tie groups come from a second small per-(group, value)
    count.  Times must be distinct within a group (pre-aggregate to
    the series grain first); equal-time pairs are excluded.

    Returns one row per group: (group, n, s_stat, var_s, z).
    """
    g = F.col(group_col)
    # r13 optimization round: pts (the bounded, pre-aggregated series)
    # is referenced FOUR times (both pair-join sides, n, ties) — each
    # reference re-ran the caller's corpus-collapsing aggregate.  One
    # eager checkpoint of the series-grain table replaces four corpus
    # passes (guide §1.2: don't compute things twice).
    pts = checkpoint(
        df.filter(
            g.isNotNull()
            & F.col(time_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            g.alias("__g"),
            F.col(time_col).alias("__t"),
            F.col(value_col).cast("double").alias("__v"),
        )
    )
    lhs = pts.select(
        F.col("__g"), F.col("__t").alias("__t1"), F.col("__v").alias("__v1")
    )
    rhs = pts.select(
        F.col("__g"), F.col("__t").alias("__t2"), F.col("__v").alias("__v2")
    )
    pairs = lhs.join(rhs, "__g").filter(F.col("__t1") < F.col("__t2"))
    s_df = pairs.groupBy("__g").agg(
        F.sum(
            F.signum(F.col("__v2") - F.col("__v1")).cast("long")
        ).alias("s_stat")
    )
    n_df = pts.groupBy("__g").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        pts.groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy("__g")
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).alias("__tie_sum")
        )
    )
    m = (
        n_df.join(s_df, "__g", "left")
        .join(ties, "__g", "left")
        .select(
            F.col("__g").alias("grp"),
            "n",
            F.coalesce(F.col("s_stat"), F.lit(0)).alias("s_stat"),
            F.round(
                (
                    F.col("n").cast("double")
                    * (F.col("n") - 1)
                    * (2 * F.col("n") + 5)
                    - F.coalesce(F.col("__tie_sum"), F.lit(0)).cast(
                        "double"
                    )
                )
                / 18.0,
                6,
            ).alias("var_s"),
        )
    )
    s = F.col("s_stat").cast("double")
    z = F.when(
        (F.col("var_s") > 0) & (s > 0),
        (s - 1) / F.sqrt(F.col("var_s")),
    ).when(
        (F.col("var_s") > 0) & (s < 0),
        (s + 1) / F.sqrt(F.col("var_s")),
    ).when(F.col("var_s") > 0, F.lit(0.0))
    return m.select(
        F.col("grp").alias(group_col),
        "n",
        "s_stat",
        "var_s",
        F.round(z, 4).alias("z"),
    )


def page_hinkley(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    delta: float = 0.0,
    threshold: float = 10.0,
) -> DataFrame:
    """Page–Hinkley upward-drift statistic per group — the sequential
    change detector that complements :func:`cusum_drift` (PH tracks a
    RUNNING mean, so it adapts to slow baseline wander and alarms only
    on abrupt upward shifts; run it on ``-x`` for the downward side).

    ``m_t = Σ_{i≤t} (x_i − x̄_i − δ)`` with ``x̄_i`` the running mean
    of the first i points; ``PH_t = m_t − min_{i≤t} m_i``;
    drift flagged where ``PH_t > threshold``.

    Scale shape: three stacked cumulative windows per group (running
    avg, running sum, running min), each partitioned on the group key
    and ordered by time — ONE shuffle on the key, no self-join, no
    corpus-wide window.  Meant for the per-series grain (a metric
    collapsed to minutes/days first), like every sequential detector.

    Cross-engine determinism: the per-row deviation term is rounded
    to 6 decimals BEFORE the cumulative sum, so both engines fold
    identical doubles in the identical window order.  Times must be
    unique within a group (pre-aggregate to the series grain).

    Returns (group, time, value, ph_stat, drift) for every point.
    """
    g = F.col(group_col)
    w_cum = Window.partitionBy(g).orderBy(F.col(time_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    x = F.col(value_col).cast("double")
    term = F.round(x - F.avg(x).over(w_cum) - F.lit(float(delta)), 6)
    base = df.filter(
        g.isNotNull() & F.col(time_col).isNotNull() & x.isNotNull()
    ).withColumn("__term", term)
    m = F.sum("__term").over(w_cum)
    staged = base.withColumn("__m", m).withColumn(
        "ph_stat", F.round(F.col("__m") - F.min("__m").over(w_cum), 6)
    )
    return staged.select(
        group_col,
        time_col,
        value_col,
        "ph_stat",
        (F.col("ph_stat") > F.lit(float(threshold))).alias("drift"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimate — the additive sibling
    of :func:`kaplan_meier` (``H(t) = Σ_{t_j ≤ t} d_j / n_j``), with
    the standard variance ``Σ d_j / n_j²``.  Preferred over −ln(KM)
    for small risk sets and the input to hazard-ratio eyeballing.

    Input/output grain and the scale shape are exactly
    :func:`kaplan_meier`'s: collapse subjects to the DISTINCT
    (group, duration) table in one hash aggregate (shuffle volume =
    distinct durations), then per-group cumulative windows over that
    small table; censored rows deplete the risk set but add 0 hazard.

    Returns ``(group..., duration, n_risk, n_events, cum_hazard,
    na_var)`` at event times only.
    """
    g = list(group_cols or [])
    t = F.col(duration_col)
    collapsed = df.groupBy(*g, t.alias("duration")).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_events"),
        F.count(F.lit(1)).alias("__removed"),
    )
    w_all = Window.partitionBy(*[F.col(c) for c in g])
    w_cum = w_all.orderBy(F.col("duration").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_prev = w_all.orderBy(F.col("duration").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    staged = collapsed.select(
        *g,
        "duration",
        "n_events",
        (
            F.sum("__removed").over(w_all)
            - F.coalesce(F.sum("__removed").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    d = F.col("n_events").cast("double")
    n = F.col("n_risk").cast("double")
    return (
        staged.withColumn("__h", d / n)
        .withColumn("__v", d / (n * n))
        .withColumn("cum_hazard", F.round(F.sum("__h").over(w_cum), 6))
        .withColumn("na_var", F.round(F.sum("__v").over(w_cum), 6))
        .filter(F.col("n_events") > 0)
        .select(
            *g, "duration", "n_risk", "n_events", "cum_hazard", "na_var"
        )
    )


def control_chart_violations(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Western Electric control-chart rules per series: flag the point
    that COMPLETES each pattern — R1: |z| > 3; R2: ≥2 of the last 3
    beyond 2σ on one side (current point beyond 2σ on that side);
    R3: ≥4 of the last 5 beyond 1σ on one side (current beyond 1σ);
    R4: 8 consecutive points on one side of the center line.

    Control limits are the per-group mean and SAMPLE stddev (rounded
    to 6 decimals first — cross-engine determinism), broadcast-joined
    back; z is rounded to 6 before the rule comparisons so boundary
    points classify identically in any engine.

    Scale shape: one hash aggregate for the limits (k group rows,
    broadcast), then fixed-width trailing ROW windows (3/5/8) per
    group — one shuffle on the group key, no self-joins; window state
    is O(8) per partition stream.  Constant series (stddev 0) emit
    nothing rather than dividing by zero.

    Returns violating points only: (group, time, value, z, r1, r2,
    r3, r4).
    """
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    limits = (
        df.filter(g.isNotNull() & x.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.round(F.avg(x), 6).alias("__mu"),
            F.round(F.stddev_samp(x), 6).alias("__sd"),
        )
    )
    base = (
        df.filter(g.isNotNull() & x.isNotNull())
        .join(
            F.broadcast(limits), F.col(group_col) == F.col("__g")
        )
        .filter(F.col("__sd") > 0)
        .withColumn(
            "z", F.round((x - F.col("__mu")) / F.col("__sd"), 6)
        )
    )
    w3 = Window.partitionBy(g).orderBy(F.col(time_col).asc()).rowsBetween(-2, 0)
    w5 = Window.partitionBy(g).orderBy(F.col(time_col).asc()).rowsBetween(-4, 0)
    w8 = Window.partitionBy(g).orderBy(F.col(time_col).asc()).rowsBetween(-7, 0)
    z = F.col("z")
    hi2 = F.sum((z > 2).cast("int")).over(w3)
    lo2 = F.sum((z < -2).cast("int")).over(w3)
    hi1 = F.sum((z > 1).cast("int")).over(w5)
    lo1 = F.sum((z < -1).cast("int")).over(w5)
    pos8 = F.sum((z > 0).cast("int")).over(w8)
    neg8 = F.sum((z < 0).cast("int")).over(w8)
    n8 = F.count(F.lit(1)).over(w8)
    flagged = base.select(
        group_col,
        time_col,
        value_col,
        "z",
        (F.abs(z) > 3).alias("r1"),
        (((hi2 >= 2) & (z > 2)) | ((lo2 >= 2) & (z < -2))).alias("r2"),
        (((hi1 >= 4) & (z > 1)) | ((lo1 >= 4) & (z < -1))).alias("r3"),
        ((n8 == 8) & ((pos8 == 8) | (neg8 == 8))).alias("r4"),
    )
    return flagged.filter("r1 OR r2 OR r3 OR r4")


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Bias-corrected Cramér's V between two categorical columns — the
    bounded [0,1] effect size that makes chi-square association
    comparable across tables of different shape (Bergsma 2013
    correction: φ²₊ = max(0, φ² − (r−1)(c−1)/(n−1)), with shrunken
    row/column counts).

    Scale shape: ONE hash aggregate to the (a, b) contingency cells,
    marginals via two k-row re-aggregations broadcast-joined back,
    chi-square summed over observed cells PLUS the closed-form mass of
    the structurally-empty cells (Σ E over missing cells = n − Σ E
    over observed cells, so no dense r×c expansion is materialized).

    Returns one row: (n, r_cats, c_cats, chi2, v_corrected).
    """
    a = F.col(a_col)
    b = F.col(b_col)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ma = cells.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    mb = cells.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    j = cells.join(F.broadcast(ma), "__a").join(F.broadcast(mb), "__b")
    m = j.agg(
        F.sum("__c").alias("n"),
        F.countDistinct("__a").alias("r_cats"),
        F.countDistinct("__b").alias("c_cats"),
        F.sum(
            F.col("__c").cast("double")
            * F.col("__c")
            / (
                F.col("__ra").cast("double")
                * F.col("__cb")
            )
        ).alias("__oe"),
    )
    # chi2 = n * (sum(O^2/E')/n - 1) where E'=ra*cb/n: the observed-
    # cell identity that never materializes empty cells
    n = F.col("n").cast("double")
    chi2 = F.round(n * (F.col("__oe") - 1.0), 6)
    staged = m.select("n", "r_cats", "c_cats", chi2.alias("chi2"))
    phi2 = F.col("chi2") / F.col("n")
    r = F.col("r_cats").cast("double")
    c = F.col("c_cats").cast("double")
    nn = F.col("n").cast("double")
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (r - 1) * (c - 1) / (nn - 1)
    )
    rc = r - (r - 1) * (r - 1) / (nn - 1)
    cc = c - (c - 1) * (c - 1) / (nn - 1)
    denom = F.least(rc - 1, cc - 1)
    v = F.when(
        (F.col("n") > 1) & (denom > 0), F.sqrt(phi2c / denom)
    )
    return staged.select(
        "n", "r_cats", "c_cats", "chi2", F.round(v, 4).alias("v_corrected")
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) plus Hedges'
    g small-sample correction ``J ≈ 1 − 3/(4·dof − 1)`` — the effect
    size every A/B readout should carry next to the
    :func:`welch_t_test` p-value (significance without magnitude is
    how tiny-but-significant launches happen).

    Scale shape: ONE conditional hash aggregate (count/mean/variance
    per arm via ``when`` columns, map-side combined), then scalar
    arithmetic on the one-row result — :func:`welch_t_test`'s exact
    discipline, including rounding the per-arm moments to 6 decimals
    before deriving d.  Degenerate shapes (an arm with < 2 rows, or
    zero pooled variance) yield NULL d via lazy CASE.

    Returns one row: (n_a, n_b, mean_a, mean_b, pooled_sd, d,
    hedges_g).
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    arm_a = F.when(g == F.lit(group_a), v)
    arm_b = F.when(g == F.lit(group_b), v)
    m = df.filter(v.isNotNull() & g.isin(group_a, group_b)).agg(
        F.count(arm_a).alias("n_a"),
        F.count(arm_b).alias("n_b"),
        F.round(F.avg(arm_a), 6).alias("mean_a"),
        F.round(F.avg(arm_b), 6).alias("mean_b"),
        F.round(F.var_samp(arm_a), 6).alias("__va"),
        F.round(F.var_samp(arm_b), 6).alias("__vb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    dof = na + nb - 2
    pooled = F.when(
        (na > 1) & (nb > 1) & (dof > 0),
        F.sqrt(
            ((na - 1) * F.col("__va") + (nb - 1) * F.col("__vb")) / dof
        ),
    )
    staged = m.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(pooled, 6).alias("pooled_sd"),
    )
    d = F.when(
        F.col("pooled_sd") > 0,
        (F.col("mean_a") - F.col("mean_b")) / F.col("pooled_sd"),
    )
    na2 = F.col("n_a").cast("double")
    nb2 = F.col("n_b").cast("double")
    jf = 1.0 - 3.0 / (4.0 * (na2 + nb2 - 2) - 1.0)
    return staged.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "pooled_sd",
        F.round(d, 4).alias("d"),
        F.round(d * jf, 4).alias("hedges_g"),
    )


def burstiness(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    min_events: int = 3,
) -> DataFrame:
    """Goh–Barabási burstiness ``B = (σ − μ)/(σ + μ)`` of the
    inter-arrival gaps per entity, plus the dispersion index
    ``σ²/μ`` — the standard bot/scraper fingerprint in event streams
    (B → −1 periodic cron-like traffic, B ≈ 0 Poisson humans,
    B → 1 extreme bursts), and a core training-data hygiene signal
    (machine-generated docs arrive periodically).

    Scale shape: one ``lag`` window per entity (single shuffle on the
    entity key) to form gaps, then one hash aggregate to per-entity
    moments — the :func:`interarrival_stats` discipline.  Entities
    with fewer than ``min_events`` events (< 2 gaps) are dropped
    rather than emitting NULL-variance rows.

    Cross-engine determinism: gap moments are rounded to 6 decimals
    FIRST; B and dispersion derive from the rounded moments, with
    lazy-CASE guards on σ + μ > 0 and μ > 0.

    Returns (entity, n_events, mean_gap_s, sd_gap_s, burstiness,
    dispersion).
    """
    if min_events < 3:
        raise ValueError(
            f"min_events must be >= 3 (need >= 2 gaps), got {min_events}"
        )
    e = F.col(entity_col)
    w = Window.partitionBy(e).orderBy(F.col(time_col).asc())
    gap = (
        F.unix_timestamp(F.col(time_col))
        - F.unix_timestamp(F.lag(time_col).over(w))
    ).cast("double")
    staged = (
        df.filter(e.isNotNull() & F.col(time_col).isNotNull())
        .withColumn("__gap", gap)
        .groupBy(e.alias("entity"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("__gap"), 6).alias("mean_gap_s"),
            F.round(F.stddev_samp("__gap"), 6).alias("sd_gap_s"),
        )
        .filter(F.col("n_events") >= min_events)
    )
    mu = F.col("mean_gap_s")
    sd = F.col("sd_gap_s")
    return staged.select(
        "entity",
        "n_events",
        "mean_gap_s",
        "sd_gap_s",
        F.round(
            F.when(sd + mu > 0, (sd - mu) / (sd + mu)), 4
        ).alias("burstiness"),
        F.round(F.when(mu > 0, sd * sd / mu), 4).alias("dispersion"),
    )


def chisq_gof(
    df: DataFrame,
    cat_col: str,
    expected: dict[str, float],
) -> DataFrame:
    """Chi-square goodness-of-fit of a categorical column against a
    declared expected distribution — the generic sibling of
    :func:`benford_first_digit` and :func:`srm_check` (traffic-split
    audits, label-mix contracts, stratification checks).

    Only the declared categories are tested (rows outside ``expected``
    are excluded, mirroring how a declared contract is audited);
    probabilities must be positive and are renormalized to sum to 1,
    so callers can pass raw weights.

    Scale shape: ONE conditional hash aggregate to the k declared
    category counts (map-side combined), then scalar arithmetic.

    Returns one row: (n, k_cats, chi2, dof).
    """
    if not expected:
        raise ValueError("expected distribution must be non-empty")
    if any(p <= 0 for p in expected.values()):
        raise ValueError("expected probabilities must be positive")
    tot = float(sum(expected.values()))
    cats = sorted(expected)
    c = F.col(cat_col)
    counts = [
        F.count(F.when(c == F.lit(cat), 1)).alias(f"__c{i}")
        for i, cat in enumerate(cats)
    ]
    m = df.filter(c.isin(cats)).agg(*counts)
    n = sum(F.col(f"__c{i}") for i in range(len(cats))).alias("n")
    staged = m.select(n.cast("long").alias("n"), *[
        F.col(f"__c{i}") for i in range(len(cats))
    ])
    nn = F.col("n").cast("double")
    chi2 = None
    for i, cat in enumerate(cats):
        p = float(expected[cat]) / tot
        e_i = nn * F.lit(p)
        term = (F.col(f"__c{i}").cast("double") - e_i) ** 2 / e_i
        chi2 = term if chi2 is None else chi2 + term
    return staged.select(
        "n",
        F.lit(len(cats)).cast("long").alias("k_cats"),
        F.round(F.when(F.col("n") > 0, chi2), 6).alias("chi2"),
        F.lit(len(cats) - 1).cast("long").alias("dof"),
    )


def expected_calibration_error(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    bins: int = 10,
) -> DataFrame:
    """Expected + maximum calibration error (ECE / MCE) over
    equal-width probability bins — the scalar summary of
    :func:`calibration_bins` that model-quality gates threshold on
    (|avg confidence − empirical accuracy|, weighted by bin mass).

    Scale shape: one hash aggregate to ≤ ``bins`` rows keyed by
    ``floor(p·bins)`` (p = 1.0 clamps into the top bin), then a
    single-partition reduce over those k bin rows — never over the
    corpus.

    Cross-engine determinism: per-bin confidence and accuracy are
    rounded to 6 decimals FIRST; ECE/MCE derive from the rounded
    per-bin values.

    Returns one row: (n, n_bins_used, ece, mce).
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    b = F.least(
        F.floor(p * bins).cast("int"), F.lit(bins - 1)
    )
    per = (
        df.filter(
            y.isNotNull() & p.isNotNull() & (p >= 0) & (p <= 1)
        )
        .groupBy(b.alias("__bin"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.round(F.avg(p), 6).alias("__conf"),
            F.round(F.avg(y), 6).alias("__acc"),
        )
    )
    gap = F.abs(F.col("__conf") - F.col("__acc"))
    return per.agg(
        F.sum("__n").alias("n"),
        F.count(F.lit(1)).alias("n_bins_used"),
        F.round(
            F.sum(gap * F.col("__n")) / F.sum("__n"), 6
        ).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )


def mcnemar_test(
    df: DataFrame,
    correct_a_col: str,
    correct_b_col: str,
) -> DataFrame:
    """McNemar's test for PAIRED classifier comparison — the correct
    significance check when two models are scored on the SAME
    examples (a two-proportion z-test ignores the pairing and wastes
    power): only the discordant cells matter,
    ``χ² = (|n₀₁ − n₁₀| − 1)² / (n₀₁ + n₁₀)`` (continuity-corrected).

    Scale shape: ONE conditional hash aggregate over the corpus to
    the four agreement cells (map-side combined), scalar arithmetic
    after.  No discordant pairs (models disagree nowhere) yields NULL
    chi2 via lazy CASE.

    Returns one row: (n, n_both_right, n_a_only, n_b_only,
    n_both_wrong, chi2).
    """
    a = F.col(correct_a_col).cast("boolean")
    b = F.col(correct_b_col).cast("boolean")
    m = df.filter(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a & b).cast("long")).alias("n_both_right"),
        F.sum((a & ~b).cast("long")).alias("n_a_only"),
        F.sum((~a & b).cast("long")).alias("n_b_only"),
        F.sum((~a & ~b).cast("long")).alias("n_both_wrong"),
    )
    d = (
        F.col("n_a_only").cast("double")
        + F.col("n_b_only").cast("double")
    )
    diff = F.abs(
        F.col("n_a_only").cast("double") - F.col("n_b_only")
    )
    chi2 = F.when(d > 0, (diff - 1) * (diff - 1) / d)
    return m.select(
        "n",
        "n_both_right",
        "n_a_only",
        "n_b_only",
        "n_both_wrong",
        F.round(chi2, 6).alias("chi2"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa for MULTI-rater categorical agreement (three
    annotation models over the same items, ensemble-vote audits) —
    the k-rater generalization of :func:`cohens_kappa` with anonymous
    raters.  Input grain: one row per (item, rating); items must
    carry exactly ``n_raters`` ratings — items with any other count
    are EXCLUDED (Fleiss requires a constant panel size), and the
    excluded count is reported.

    ``P_i = (Σ_j n_ij² − n)/(n(n−1))``; ``P̄_e = Σ_j p_j²`` over the
    global category shares; ``κ = (P̄ − P̄_e)/(1 − P̄_e)``.

    Scale shape: two stacked hash aggregates — (item, category)
    cells, then per-item qualification + P_i — plus a category-share
    reduce; everything after the first collapse is cell-sized.  P̄
    and P̄_e are rounded to 6 decimals FIRST; κ lazy-CASE-guards
    P̄_e < 1.

    Returns one row: (n_items, n_excluded_items, n_raters, p_bar,
    p_e, kappa).
    """
    if n_raters < 2:
        raise ValueError(f"n_raters must be >= 2, got {n_raters}")
    n = int(n_raters)
    cells = (
        df.filter(
            F.col(item_col).isNotNull()
            & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("__it"),
            F.col(category_col).alias("__cat"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_item = cells.groupBy("__it").agg(
        F.sum("__c").alias("__n"),
        F.sum(F.col("__c") * F.col("__c")).alias("__sq"),
    )
    qualified = per_item.withColumn(
        "__ok", (F.col("__n") == n).cast("int")
    )
    item_stats = qualified.agg(
        F.sum("__ok").cast("long").alias("n_items"),
        (F.count(F.lit(1)) - F.sum("__ok")).cast("long").alias(
            "n_excluded_items"
        ),
        F.round(
            F.avg(
                F.when(
                    F.col("__ok") == 1,
                    (F.col("__sq").cast("double") - n)
                    / (float(n) * (n - 1)),
                )
            ),
            6,
        ).alias("p_bar"),
    )
    ok_items = qualified.filter(F.col("__ok") == 1).select("__it")
    shares = (
        cells.join(ok_items, "__it")
        .groupBy("__cat")
        .agg(F.sum("__c").alias("__cj"))
        .agg(
            F.round(
                F.sum(
                    (F.col("__cj").cast("double"))
                    * F.col("__cj")
                ),
                6,
            ).alias("__sumsq"),
            F.sum("__cj").alias("__tot"),
        )
    )
    joined = item_stats.crossJoin(F.broadcast(shares))
    p_e = F.round(
        F.when(
            F.col("__tot") > 0,
            F.col("__sumsq")
            / (F.col("__tot").cast("double") * F.col("__tot")),
        ),
        6,
    )
    staged = joined.select(
        "n_items",
        "n_excluded_items",
        F.lit(n).cast("long").alias("n_raters"),
        "p_bar",
        p_e.alias("p_e"),
    )
    kappa = F.when(
        F.col("p_e") < 1.0,
        (F.col("p_bar") - F.col("p_e")) / (1.0 - F.col("p_e")),
    )
    return staged.select(
        "n_items",
        "n_excluded_items",
        "n_raters",
        "p_bar",
        "p_e",
        F.round(kappa, 4).alias("kappa"),
    )


def durbin_watson(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Durbin–Watson first-order autocorrelation statistic of the
    mean-centered series per group — the residual-independence check
    behind every "is this KPI mean-reverting or trending?" question
    (DW ≈ 2 independent, → 0 positively autocorrelated, → 4
    alternating).

    Residuals here are deviations from the GROUP mean (the
    intercept-only model); pipe in pre-computed model residuals as
    ``value_col`` for a real regression DW.

    Scale shape: one hash aggregate for the per-group means
    (broadcast back), one lag window per group, one final aggregate —
    all on the group key, single shuffle.  Means are rounded to 6
    decimals first; series need ≥ 2 points and non-zero residual
    energy (lazy-CASE NULL otherwise).

    Returns one row per group: (group, n, dw).
    """
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    means = (
        df.filter(g.isNotNull() & x.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(F.round(F.avg(x), 6).alias("__mu"))
    )
    base = (
        df.filter(g.isNotNull() & x.isNotNull())
        .join(F.broadcast(means), g == F.col("__g"))
        .withColumn("__e", F.round(x - F.col("__mu"), 6))
    )
    w = Window.partitionBy("__g").orderBy(F.col(time_col).asc())
    staged = base.withColumn("__de", F.col("__e") - F.lag("__e").over(w))
    agg = staged.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__de") * F.col("__de")).alias("__num"),
        F.sum(F.col("__e") * F.col("__e")).alias("__den"),
    )
    dw = F.when(
        (F.col("n") > 1) & (F.col("__den") > 0),
        F.col("__num") / F.col("__den"),
    )
    return agg.select(group_col, "n", F.round(dw, 4).alias("dw"))


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Symmetric trimmed mean per group: drop the ``floor(n·trim)``
    smallest and largest observations, average the rest — the robust
    central-tendency KPI between the mean (outlier-hostage) and the
    median (throws away 98% of the data), standard for latency and
    revenue-per-user reporting.

    Scale shape: one rank window per group (single shuffle on the
    key) plus the group sizes via a count window on the same
    partitioning, then one conditional aggregate.  Rank ties among
    equal values are arbitrary but HARMLESS — trimming a different
    copy of the same value leaves the sum unchanged, which is what
    makes the result engine-deterministic without a unique tiebreak.

    Returns (group, n, n_used, trimmed_mean, raw_mean).
    """
    if not 0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    base = df.filter(g.isNotNull() & x.isNotNull()).select(
        g.alias("__g"), x.alias("__x")
    )
    w_rank = Window.partitionBy("__g").orderBy(F.col("__x").asc())
    w_all = Window.partitionBy("__g")
    staged = base.withColumn("__r", F.row_number().over(w_rank)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    cut = F.floor(F.col("__n") * F.lit(float(trim)))
    kept = F.when(
        (F.col("__r") > cut) & (F.col("__r") <= F.col("__n") - cut),
        F.col("__x"),
    )
    return (
        staged.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.max("__n").alias("n"),
            F.count(kept).alias("n_used"),
            F.round(F.avg(kept), 6).alias("trimmed_mean"),
            F.round(F.avg("__x"), 6).alias("raw_mean"),
        )
    )


def decision_stump(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    min_leaf: int = 1,
) -> DataFrame:
    """Optimal 1-D decision stump: the numeric threshold that
    maximizes information gain against a binary label — the
    feature-screening primitive behind tree ensembles and the fastest
    "is this column predictive at all?" answer (reports the best
    split, its gain, and the leaf rates).

    Scale shape — the exact-percentiles discipline: collapse the
    corpus to the DISTINCT feature-value table (one hash aggregate:
    per-value n and positives; shuffle volume = value cardinality),
    then ONE cumulative window over the sorted values computes every
    candidate split's left/right counts, and one max-by reduce picks
    the winner.  Entropies derive from 6-decimal-rounded shares.

    Splits are evaluated as ``feature <= v`` at every distinct value
    ``v`` (the last value yields an empty right leaf and is skipped);
    leaves thinner than ``min_leaf`` are not considered.

    Returns one row: (n, n_pos, base_entropy, threshold, gain,
    left_n, left_rate, right_n, right_rate).
    """
    if min_leaf < 1:
        raise ValueError(f"min_leaf must be >= 1, got {min_leaf}")
    x = F.col(feature_col).cast("double")
    y = F.col(label_col).cast("double")
    per_val = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("__v"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(y != 0, 1).otherwise(0)).alias("__p"),
        )
    )
    w_cum = Window.orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    staged = per_val.select(
        "__v",
        F.sum("__n").over(w_cum).alias("__ln"),
        F.sum("__p").over(w_cum).alias("__lp"),
        F.sum("__n").over(w_all).alias("__tn"),
        F.sum("__p").over(w_all).alias("__tp"),
    )

    def _ent(p):
        return F.when(
            (p > 0) & (p < 1), -(p * F.log2(p) + (1 - p) * F.log2(1 - p))
        ).otherwise(F.lit(0.0))

    ln = F.col("__ln").cast("double")
    rn = (F.col("__tn") - F.col("__ln")).cast("double")
    lrate = F.round(F.col("__lp") / ln, 6)
    rrate = F.round(
        (F.col("__tp") - F.col("__lp")) / rn, 6
    )
    base_rate = F.round(
        F.col("__tp").cast("double") / F.col("__tn"), 6
    )
    gain = F.round(
        _ent(base_rate)
        - (ln / F.col("__tn")) * _ent(lrate)
        - (rn / F.col("__tn")) * _ent(rrate),
        6,
    )
    cands = staged.filter(
        (F.col("__ln") >= min_leaf)
        & (F.col("__tn") - F.col("__ln") >= min_leaf)
    ).select(
        F.col("__tn").alias("n"),
        F.col("__tp").alias("n_pos"),
        F.round(_ent(base_rate), 6).alias("base_entropy"),
        F.col("__v").alias("threshold"),
        gain.alias("gain"),
        F.col("__ln").alias("left_n"),
        lrate.alias("left_rate"),
        rn.cast("long").alias("right_n"),
        rrate.alias("right_rate"),
    )
    w_best = Window.orderBy(
        F.col("gain").desc(), F.col("threshold").asc()
    )
    return (
        cands.withColumn("__rk", F.row_number().over(w_best))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def msprt_ab(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    tau: float = 1.0,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) for a
    two-arm mean difference — the ALWAYS-VALID significance readout
    (peek at the dashboard daily without inflating false positives,
    the thing a fixed-horizon t-test cannot give you).  Normal mixture
    prior N(0, τ²) over the effect; the likelihood ratio

        Λ = sqrt(2σ̂²/(2σ̂² + n·τ²)) ·
            exp(n²·τ²·(x̄_a − x̄_b)² / (4σ̂²·(2σ̂² + n·τ²)))

    with n the per-arm harmonic-balanced size and σ̂² the pooled
    variance; the always-valid p-value is min(1, 1/Λ).

    Scale shape: ONE conditional hash aggregate (welch_t_test's
    discipline, moments rounded to 6 first), scalar arithmetic after;
    degenerate shapes (an arm < 2 rows, zero variance) yield NULL via
    lazy CASE.  Λ is reported in log form too (large-n Λ overflows
    doubles; log_lambda never does).

    Returns one row: (n_a, n_b, mean_a, mean_b, pooled_var,
    log_lambda, p_always_valid).
    """
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    arm_a = F.when(g == F.lit(group_a), v)
    arm_b = F.when(g == F.lit(group_b), v)
    m = df.filter(v.isNotNull() & g.isin(group_a, group_b)).agg(
        F.count(arm_a).alias("n_a"),
        F.count(arm_b).alias("n_b"),
        F.round(F.avg(arm_a), 6).alias("mean_a"),
        F.round(F.avg(arm_b), 6).alias("mean_b"),
        F.round(F.var_samp(arm_a), 6).alias("__va"),
        F.round(F.var_samp(arm_b), 6).alias("__vb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pooled = F.when(
        (na > 1) & (nb > 1),
        ((na - 1) * F.col("__va") + (nb - 1) * F.col("__vb"))
        / (na + nb - 2),
    )
    staged = m.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(pooled, 6).alias("pooled_var"),
    )
    n_h = 2.0 * na * nb / (na + nb)  # harmonic-balanced per-arm n
    s2 = F.col("pooled_var")
    t2 = float(tau) * float(tau)
    d = F.col("mean_a") - F.col("mean_b")
    denom = 2.0 * s2 + n_h * t2
    log_lam = F.when(
        (s2 > 0) & (na > 1) & (nb > 1),
        0.5 * (F.log(2.0 * s2) - F.log(denom))
        + (n_h * n_h * t2 * d * d) / (4.0 * s2 * denom),
    )
    staged2 = staged.withColumn("log_lambda", F.round(log_lam, 6))
    p_av = F.when(
        F.col("log_lambda").isNotNull(),
        F.least(F.lit(1.0), F.exp(-F.col("log_lambda"))),
    )
    return staged2.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "pooled_var",
        "log_lambda",
        F.round(p_av, 6).alias("p_always_valid"),
    )


def odds_ratio(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Odds ratio with the Woolf logit 95% CI for a 2×2
    exposure/outcome table — the effect measure case-control readouts
    and feature-flag incident reviews actually quote (``OR =
    ad/bc``; ``CI = exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d))``), with the
    Haldane–Anscombe +0.5 correction applied automatically when any
    cell is empty.

    Scale shape: ONE conditional hash aggregate to the four cells,
    scalar arithmetic after.

    Returns one row: (n_11, n_10, n_01, n_00, odds_ratio, ci_low,
    ci_high).
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    m = df.filter(e.isNotNull() & o.isNotNull()).agg(
        F.sum((e & o).cast("long")).alias("n_11"),
        F.sum((e & ~o).cast("long")).alias("n_10"),
        F.sum((~e & o).cast("long")).alias("n_01"),
        F.sum((~e & ~o).cast("long")).alias("n_00"),
    )
    any_zero = (
        (F.col("n_11") == 0)
        | (F.col("n_10") == 0)
        | (F.col("n_01") == 0)
        | (F.col("n_00") == 0)
    )
    adj = F.when(any_zero, F.lit(0.5)).otherwise(F.lit(0.0))
    a = F.col("n_11").cast("double") + adj
    b = F.col("n_10").cast("double") + adj
    c = F.col("n_01").cast("double") + adj
    dd = F.col("n_00").cast("double") + adj
    log_or = F.log((a * dd) / (b * c))
    se = F.sqrt(1 / a + 1 / b + 1 / c + 1 / dd)
    staged = m.select(
        "n_11",
        "n_10",
        "n_01",
        "n_00",
        F.round(log_or, 6).alias("__lor"),
        F.round(se, 6).alias("__se"),
    )
    return staged.select(
        "n_11",
        "n_10",
        "n_01",
        "n_00",
        F.round(F.exp(F.col("__lor")), 4).alias("odds_ratio"),
        F.round(
            F.exp(F.col("__lor") - 1.96 * F.col("__se")), 4
        ).alias("ci_low"),
        F.round(
            F.exp(F.col("__lor") + 1.96 * F.col("__se")), 4
        ).alias("ci_high"),
    )


def covariate_balance(
    df: DataFrame,
    treat_col: str,
    covariate_cols: list[str],
) -> DataFrame:
    """Standardized-mean-difference balance table between a treated
    and a control arm, one row per covariate — the Table-1 diagnostic
    every observational/causal readout needs before trusting a naive
    comparison (``SMD = (m_t − m_c)/√((v_t + v_c)/2)``; |SMD| < 0.1
    is the usual "balanced" convention, reported as a flag).

    Scale shape: ONE conditional hash aggregate computes every
    covariate's per-arm moments in a single corpus pass (2·k agg
    expressions, map-side combined) — never k passes; the unpivot to
    rows happens on the one-row result via a k-element stack.
    Moments are rounded to 6 decimals first; zero-variance covariates
    yield NULL SMD via lazy CASE.

    Returns (covariate, n_treat, n_control, mean_treat, mean_control,
    smd, balanced).
    """
    if not covariate_cols:
        raise ValueError("covariate_cols must be non-empty")
    t = F.col(treat_col).cast("boolean")
    aggs = [
        F.sum(t.cast("long")).alias("__nt"),
        F.sum((~t).cast("long")).alias("__nc"),
    ]
    for c in covariate_cols:
        v = F.col(c).cast("double")
        aggs += [
            F.round(F.avg(F.when(t, v)), 6).alias(f"__mt_{c}"),
            F.round(F.avg(F.when(~t, v)), 6).alias(f"__mc_{c}"),
            F.round(F.var_samp(F.when(t, v)), 6).alias(f"__vt_{c}"),
            F.round(F.var_samp(F.when(~t, v)), 6).alias(f"__vc_{c}"),
        ]
    m = df.filter(t.isNotNull()).agg(*aggs)
    stack_args = []
    for c in covariate_cols:
        stack_args += [
            f"'{c}'",
            f"__mt_{c}",
            f"__mc_{c}",
            f"__vt_{c}",
            f"__vc_{c}",
        ]
    rows = m.select(
        "__nt",
        "__nc",
        F.expr(
            f"stack({len(covariate_cols)}, {', '.join(stack_args)}) "
            "AS (covariate, mean_treat, mean_control, __vt, __vc)"
        ),
    )
    pooled = (F.col("__vt") + F.col("__vc")) / 2.0
    smd = F.when(
        pooled > 0,
        (F.col("mean_treat") - F.col("mean_control")) / F.sqrt(pooled),
    )
    out = rows.select(
        "covariate",
        F.col("__nt").alias("n_treat"),
        F.col("__nc").alias("n_control"),
        "mean_treat",
        "mean_control",
        F.round(smd, 4).alias("smd"),
    )
    return out.withColumn(
        "balanced",
        F.when(F.col("smd").isNotNull(), F.abs(F.col("smd")) < 0.1),
    )


def tail_risk(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.95,
) -> DataFrame:
    """Value-at-Risk and Expected Shortfall (CVaR) per group at level
    ``q`` — the tail pair behind exposure dashboards and SLA-burn
    reports (VaR answers "how bad is the q-quantile case"; ES answers
    "how bad is the AVERAGE case beyond it", the coherent one).

    VaR uses the exact order statistic ``x_(⌈q·n⌉)`` (no
    interpolation — engine-identical by construction); ES averages
    all observations ≥ VaR by VALUE, so rank ties among equal values
    cannot change the result (the :func:`trimmed_mean` tie
    discipline).

    Scale shape: one rank window per group (single shuffle on the
    key), the k VaR rows broadcast back, one conditional aggregate.
    Returns (group, n, var_q, tail_n, es_q).
    """
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    base = df.filter(g.isNotNull() & x.isNotNull()).select(
        g.alias("__g"), x.alias("__x")
    )
    w_rank = Window.partitionBy("__g").orderBy(F.col("__x").asc())
    w_all = Window.partitionBy("__g")
    ranked = base.withColumn("__r", F.row_number().over(w_rank)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    var_rows = ranked.filter(
        F.col("__r") == F.ceil(F.col("__n") * F.lit(float(q)))
    ).select(
        F.col("__g").alias("__vg"),
        F.col("__x").alias("__var"),
        F.col("__n").alias("__vn"),
    )
    joined = base.join(
        F.broadcast(var_rows), F.col("__g") == F.col("__vg")
    )
    return (
        joined.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.max("__vn").alias("n"),
            F.round(F.max("__var"), 6).alias("var_q"),
            F.count(
                F.when(F.col("__x") >= F.col("__var"), 1)
            ).alias("tail_n"),
            F.round(
                F.avg(F.when(F.col("__x") >= F.col("__var"), F.col("__x"))),
                6,
            ).alias("es_q"),
        )
    )


def fixed_effects_ols(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Two-way fixed-effects (within) OLS: regress y on x after
    absorbing entity AND period means — the workhorse panel estimator
    that kills every time-invariant entity confounder and every
    entity-invariant shock before estimating the slope
    (``x̃ = x − x̄_i − x̄_t + x̄``; ``β = Σx̃ỹ / Σx̃²``), with the
    classical SE on the within-residual dof ``n − N_i − N_t + 1``.

    Scale shape: two keyed mean collapses (entity, period) broadcast
    back onto one corpus pass, the grand mean rides a one-row
    crossJoin, then ONE final aggregate — no window over the corpus,
    three small shuffles.  All means rounded to 6 decimals first;
    degenerate shapes (zero within-variance, non-positive dof) yield
    NULL via lazy CASE.

    Returns one row: (n, n_entities, n_periods, beta, se).
    """
    e = F.col(entity_col)
    t = F.col(time_col)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(
        e.isNotNull() & t.isNotNull() & x.isNotNull() & y.isNotNull()
    ).select(e.alias("__e"), t.alias("__t"), x.alias("__x"), y.alias("__y"))
    ent = base.groupBy("__e").agg(
        F.round(F.avg("__x"), 6).alias("__xe"),
        F.round(F.avg("__y"), 6).alias("__ye"),
    )
    per = base.groupBy("__t").agg(
        F.round(F.avg("__x"), 6).alias("__xt"),
        F.round(F.avg("__y"), 6).alias("__yt"),
    )
    grand = base.agg(
        F.round(F.avg("__x"), 6).alias("__xg"),
        F.round(F.avg("__y"), 6).alias("__yg"),
    )
    demeaned = (
        base.join(F.broadcast(ent), "__e")
        .join(F.broadcast(per), "__t")
        .crossJoin(F.broadcast(grand))
        .select(
            "__e",
            "__t",
            (F.col("__x") - F.col("__xe") - F.col("__xt") + F.col("__xg")).alias(
                "__xd"
            ),
            (F.col("__y") - F.col("__ye") - F.col("__yt") + F.col("__yg")).alias(
                "__yd"
            ),
        )
    )
    m = demeaned.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("__e").alias("n_entities"),
        F.countDistinct("__t").alias("n_periods"),
        F.round(F.sum(F.col("__xd") * F.col("__yd")), 6).alias("__sxy"),
        F.round(F.sum(F.col("__xd") * F.col("__xd")), 6).alias("__sxx"),
        F.round(F.sum(F.col("__yd") * F.col("__yd")), 6).alias("__syy"),
    )
    beta = F.when(F.col("__sxx") > 0, F.col("__sxy") / F.col("__sxx"))
    staged = m.select(
        "n",
        "n_entities",
        "n_periods",
        F.round(beta, 6).alias("__b"),
        "__sxy",
        "__sxx",
        "__syy",
    )
    dof = (
        F.col("n").cast("double")
        - F.col("n_entities")
        - F.col("n_periods")
        + 1
    )
    ssr = F.col("__syy") - F.col("__b") * F.col("__b") * F.col("__sxx")
    se = F.when(
        (F.col("__b").isNotNull()) & (dof > 0) & (ssr >= 0),
        F.sqrt((ssr / dof) / F.col("__sxx")),
    )
    return staged.select(
        "n",
        "n_entities",
        "n_periods",
        F.round(F.col("__b"), 4).alias("beta"),
        F.round(se, 4).alias("se"),
    )


def relative_risk(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Relative risk (risk ratio) with the Katz log 95% CI —
    :func:`odds_ratio`'s sibling for cohort-style questions where the
    outcome is common enough that odds exaggerate ("exposed users
    convert RR× as often", not OR×).  ``RR = [a/(a+b)] / [c/(c+d)]``;
    ``se(ln RR) = √(1/a − 1/(a+b) + 1/c − 1/(c+d))``;
    Haldane +0.5 on every cell when a zero NUMERATOR cell (a or c)
    would degenerate the ratio.

    Scale shape: ONE conditional hash aggregate to four cells.

    Returns one row: (n_exp_out, n_exp_no, n_unexp_out, n_unexp_no,
    risk_exposed, risk_unexposed, relative_risk, ci_low, ci_high).
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    m = df.filter(e.isNotNull() & o.isNotNull()).agg(
        F.sum((e & o).cast("long")).alias("n_exp_out"),
        F.sum((e & ~o).cast("long")).alias("n_exp_no"),
        F.sum((~e & o).cast("long")).alias("n_unexp_out"),
        F.sum((~e & ~o).cast("long")).alias("n_unexp_no"),
    )
    any_zero = (F.col("n_exp_out") == 0) | (F.col("n_unexp_out") == 0)
    adj = F.when(any_zero, F.lit(0.5)).otherwise(F.lit(0.0))
    a = F.col("n_exp_out").cast("double") + adj
    b = F.col("n_exp_no").cast("double") + adj
    c = F.col("n_unexp_out").cast("double") + adj
    d = F.col("n_unexp_no").cast("double") + adj
    r1 = a / (a + b)
    r0 = c / (c + d)
    staged = m.select(
        "n_exp_out",
        "n_exp_no",
        "n_unexp_out",
        "n_unexp_no",
        F.round(r1, 6).alias("risk_exposed"),
        F.round(r0, 6).alias("risk_unexposed"),
        F.round(F.log(r1 / r0), 6).alias("__lrr"),
        F.round(
            F.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d)), 6
        ).alias("__se"),
    )
    return staged.select(
        "n_exp_out",
        "n_exp_no",
        "n_unexp_out",
        "n_unexp_no",
        "risk_exposed",
        "risk_unexposed",
        F.round(F.exp(F.col("__lrr")), 4).alias("relative_risk"),
        F.round(
            F.exp(F.col("__lrr") - 1.96 * F.col("__se")), 4
        ).alias("ci_low"),
        F.round(
            F.exp(F.col("__lrr") + 1.96 * F.col("__se")), 4
        ).alias("ci_high"),
    )


def ratio_metric_ci(
    df: DataFrame,
    group_col: str,
    numer_col: str,
    denom_col: str,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric
    (clicks/views, revenue/sessions) aggregated per randomization
    unit — the correct A/B machinery for per-user ratio KPIs, where
    naively treating the pooled ratio as a mean of independent rows
    understates variance (users, not events, are the i.i.d. unit):

        r = Σn/Σd;  Var(r) ≈ (σ²_n − 2r·cov(n,d) + r²·σ²_d) / (N·d̄²)

    Input grain: one row per (arm, unit) with the unit's numerator
    and denominator totals (pre-collapse events upstream).

    Scale shape: ONE hash aggregate per arm over the unit table
    (moments + covariance, map-side combined), scalar arithmetic
    after; moments rounded to 6 decimals first, lazy-CASE guards for
    single-unit arms and zero denominators.

    Returns one row per arm: (group, n_units, ratio, se, ci_low,
    ci_high).
    """
    g = F.col(group_col)
    n = F.col(numer_col).cast("double")
    d = F.col(denom_col).cast("double")
    m = (
        df.filter(g.isNotNull() & n.isNotNull() & d.isNotNull())
        .groupBy(g.alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.round(F.avg(n), 6).alias("__mn"),
            F.round(F.avg(d), 6).alias("__md"),
            F.round(F.var_samp(n), 6).alias("__vn"),
            F.round(F.var_samp(d), 6).alias("__vd"),
            F.round(F.covar_samp(n, d), 6).alias("__cnd"),
        )
    )
    r = F.when(F.col("__md") != 0, F.col("__mn") / F.col("__md"))
    staged = m.withColumn("ratio", F.round(r, 6))
    var = (
        F.col("__vn")
        - 2 * F.col("ratio") * F.col("__cnd")
        + F.col("ratio") * F.col("ratio") * F.col("__vd")
    ) / (
        F.col("n_units").cast("double")
        * F.col("__md")
        * F.col("__md")
    )
    se = F.when(
        (F.col("n_units") > 1)
        & F.col("ratio").isNotNull()
        & (var >= 0),
        F.sqrt(var),
    )
    staged2 = staged.withColumn("se", F.round(se, 6))
    return staged2.select(
        group_col,
        "n_units",
        "ratio",
        "se",
        F.round(F.col("ratio") - 1.96 * F.col("se"), 6).alias("ci_low"),
        F.round(F.col("ratio") + 1.96 * F.col("se"), 6).alias("ci_high"),
    )


def histogram2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_bins: int = 10,
    y_bins: int = 10,
) -> DataFrame:
    """Equi-width 2-D histogram (the hexbin-lite heatmap backend):
    data-derived [min, max] per axis, ``x_bins × y_bins`` cells, top
    edges inclusive — :func:`histogram`'s contract lifted to two
    dimensions for density scatter replacements at corpus scale
    (plotting N raw points dies at 10⁶; the cell table never exceeds
    x_bins·y_bins rows).

    Scale shape: one scalar min/max aggregate broadcast back, one
    cell-keyed count with map-side partials; empty cells absent.
    Edges use identical double arithmetic on any engine.

    Returns (x_bin, y_bin, x_lo, x_hi, y_lo, y_hi, n).
    """
    if x_bins < 1 or y_bins < 1:
        raise ValueError("x_bins and y_bins must be >= 1")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull())
    bounds = base.agg(
        F.min(x).alias("__xlo"),
        F.max(x).alias("__xhi"),
        F.min(y).alias("__ylo"),
        F.max(y).alias("__yhi"),
    )
    xw = (F.col("__xhi") - F.col("__xlo")) / x_bins
    yw = (F.col("__yhi") - F.col("__ylo")) / y_bins
    xb = F.when(F.col("__xhi") == F.col("__xlo"), F.lit(0)).otherwise(
        F.least(
            F.floor((x - F.col("__xlo")) / xw).cast("int"),
            F.lit(x_bins - 1),
        )
    )
    yb = F.when(F.col("__yhi") == F.col("__ylo"), F.lit(0)).otherwise(
        F.least(
            F.floor((y - F.col("__ylo")) / yw).cast("int"),
            F.lit(y_bins - 1),
        )
    )
    cells = (
        base.crossJoin(F.broadcast(bounds))
        .select(
            xb.alias("x_bin"),
            yb.alias("y_bin"),
            "__xlo",
            "__xhi",
            "__ylo",
            "__yhi",
        )
        .groupBy("x_bin", "y_bin", "__xlo", "__xhi", "__ylo", "__yhi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    xspan = F.col("__xhi") - F.col("__xlo")
    yspan = F.col("__yhi") - F.col("__ylo")
    return cells.select(
        "x_bin",
        "y_bin",
        F.round(
            F.col("__xlo") + F.col("x_bin") * xspan / x_bins, 6
        ).alias("x_lo"),
        F.round(
            F.col("__xlo") + (F.col("x_bin") + 1) * xspan / x_bins, 6
        ).alias("x_hi"),
        F.round(
            F.col("__ylo") + F.col("y_bin") * yspan / y_bins, 6
        ).alias("y_lo"),
        F.round(
            F.col("__ylo") + (F.col("y_bin") + 1) * yspan / y_bins, 6
        ).alias("y_hi"),
        "n",
    )


def quantile_treatment_effect(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    taus: list[float] | None = None,
) -> DataFrame:
    """Quantile treatment effects: the per-quantile difference of the
    two arms' EXACT order statistics (``x_(⌈τ·n⌉)``) — where a mean
    lift hides distributional change (a launch that helps the median
    user but crushes the p90 shows ZERO average effect), QTE shows
    the whole curve.

    Scale shape: one rank window per arm (single shuffle on the arm
    key), the τ spine joins against the ⌈τ·n⌉ rank rows only — never
    a corpus-grain second pass; :func:`tail_risk`'s order-statistic
    discipline, so rank ties among equal values are harmless.

    Returns one row per τ: (tau, n_a, n_b, q_a, q_b, qte).
    """
    taus = taus or [round(0.1 * i, 1) for i in range(1, 10)]
    if not taus or any(not 0 < t < 1 for t in taus):
        raise ValueError(f"taus must be in (0, 1), got {taus}")
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & g.isin(group_a, group_b)).select(
        g.alias("__g"), v.alias("__x")
    )
    w_rank = Window.partitionBy("__g").orderBy(F.col("__x").asc())
    w_all = Window.partitionBy("__g")
    ranked = base.withColumn("__r", F.row_number().over(w_rank)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    spine = df.sparkSession.createDataFrame(
        [(float(t),) for t in taus], "tau DOUBLE"
    )
    # resolve each (arm, tau) to its TARGET RANK first (2 x |taus|
    # rows), so the probe into the ranked corpus is a plain equi-join
    # on (arm, rank) - broadcastable and audit-clean, no theta BNLJ
    arm_n = ranked.groupBy("__g").agg(F.max("__n").alias("__an"))
    targets = arm_n.crossJoin(F.broadcast(spine)).select(
        "__g",
        "tau",
        F.ceil(F.col("__an") * F.col("tau")).cast("int").alias("__tr"),
    )
    hits = ranked.join(
        F.broadcast(targets),
        (ranked["__g"] == targets["__g"])
        & (F.col("__r") == F.col("__tr")),
    ).drop(targets["__g"])
    pivoted = hits.groupBy("tau").agg(
        F.max(F.when(F.col("__g") == group_a, F.col("__n"))).alias("n_a"),
        F.max(F.when(F.col("__g") == group_b, F.col("__n"))).alias("n_b"),
        F.round(
            F.max(F.when(F.col("__g") == group_a, F.col("__x"))), 6
        ).alias("q_a"),
        F.round(
            F.max(F.when(F.col("__g") == group_b, F.col("__x"))), 6
        ).alias("q_b"),
    )
    return pivoted.select(
        "tau",
        "n_a",
        "n_b",
        "q_a",
        "q_b",
        F.round(F.col("q_a") - F.col("q_b"), 6).alias("qte"),
    )


def profit_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tp_value: float,
    fp_cost: float,
    fn_cost: float = 0.0,
    tn_value: float = 0.0,
) -> DataFrame:
    """Expected-profit threshold sweep: for every candidate decision
    threshold (predict positive when ``score >= t``), the confusion
    counts and the business profit ``TP·v − FP·c − FN·c' + TN·v'`` —
    what a precision-recall curve becomes once someone attaches money
    to the quadrants, and the correct way to PICK an operating
    threshold (argmax profit, flagged on the output).

    Scale shape — the pr_threshold_sweep discipline: collapse the
    corpus to the DISTINCT score table (one hash aggregate; shuffle
    volume = score cardinality), then one descending cumulative
    window computes every threshold's confusion simultaneously.

    Returns one row per distinct score: (threshold, tp, fp, fn, tn,
    profit, is_best); ``is_best`` marks the max-profit row (ties to
    the highest threshold — the cheaper operating point).
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    per = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("threshold"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(y != 0, 1).otherwise(0)).alias("__p"),
        )
    )
    w_cum = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    staged = per.select(
        "threshold",
        F.sum("__p").over(w_cum).alias("tp"),
        (F.sum("__n").over(w_cum) - F.sum("__p").over(w_cum)).alias("fp"),
        (F.sum("__p").over(w_all) - F.sum("__p").over(w_cum)).alias("fn"),
        (
            F.sum("__n").over(w_all)
            - F.sum("__p").over(w_all)
            - (F.sum("__n").over(w_cum) - F.sum("__p").over(w_cum))
        ).alias("tn"),
    )
    profit = F.round(
        F.col("tp") * F.lit(float(tp_value))
        - F.col("fp") * F.lit(float(fp_cost))
        - F.col("fn") * F.lit(float(fn_cost))
        + F.col("tn") * F.lit(float(tn_value)),
        6,
    )
    scored = staged.withColumn("profit", profit)
    w_best = Window.orderBy(
        F.col("profit").desc(), F.col("threshold").desc()
    )
    return scored.withColumn(
        "is_best", F.row_number().over(w_best) == 1
    )


def weighted_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    categories: list[str],
) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL labels (severity grades,
    star ratings, priority tiers): disagreeing by one step is better
    than disagreeing by five, which the plain :func:`cohens_kappa`
    cannot see.  ``κ_w = 1 − Σ v_ij·O_ij / Σ v_ij·E_ij`` with penalty
    ``v_ij = ((i−j)/(k−1))²`` (quadratic weights); category ORDER is
    declared by the caller.

    Scale shape: the :func:`cramers_v` collapse — one contingency-cell
    aggregate, marginals as two k-row re-aggregations, and the
    expected-disagreement mass from a k×k marginal cross join (never a
    corpus-grain expansion).  Rows outside ``categories`` are
    excluded; numerator/denominator are rounded to 6 decimals first.

    Returns one row: (n, obs_penalty, exp_penalty, kappa_w).
    """
    if len(categories) < 2:
        raise ValueError("categories must declare >= 2 ordered levels")
    k = len(categories)
    idx = {c: i for i, c in enumerate(categories)}

    def _index(col: Column) -> Column:
        expr = None
        for c, i in idx.items():
            expr = (
                F.when(col == F.lit(c), F.lit(i))
                if expr is None
                else expr.when(col == F.lit(c), F.lit(i))
            )
        return expr

    def _penalty(i: Column, j: Column) -> Column:
        d = F.abs(i - j).cast("double") / (k - 1)
        return d * d

    a = F.col(rater_a_col)
    b = F.col(rater_b_col)
    cells = (
        df.filter(a.isin(categories) & b.isin(categories))
        .groupBy(
            _index(a).alias("__i"), _index(b).alias("__j")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ma = cells.groupBy(F.col("__i").alias("__mi")).agg(
        F.sum("__c").alias("__ra")
    )
    mb = cells.groupBy(F.col("__j").alias("__mj")).agg(
        F.sum("__c").alias("__cb")
    )
    n_row = cells.agg(F.sum("__c").alias("n"))
    obs = cells.agg(
        F.sum(
            _penalty(F.col("__i"), F.col("__j"))
            * F.col("__c").cast("double")
        ).alias("__obs")
    )
    exp = ma.crossJoin(mb).agg(
        F.sum(
            _penalty(F.col("__mi"), F.col("__mj"))
            * F.col("__ra").cast("double")
            * F.col("__cb")
        ).alias("__exp")
    )
    m = n_row.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(exp))
    nn = F.col("n").cast("double")
    obs_p = F.round(F.when(nn > 0, F.col("__obs") / nn), 6)
    exp_p = F.round(F.when(nn > 0, F.col("__exp") / (nn * nn)), 6)
    staged = m.select(
        "n", obs_p.alias("obs_penalty"), exp_p.alias("exp_penalty")
    )
    kappa = F.when(
        F.col("exp_penalty") > 0,
        1.0 - F.col("obs_penalty") / F.col("exp_penalty"),
    )
    return staged.select(
        "n",
        "obs_penalty",
        "exp_penalty",
        F.round(kappa, 4).alias("kappa_w"),
    )


# Acklam's rational approximation to the inverse normal CDF — pure
# arithmetic, reproducible anywhere (|rel err| < 1.15e-9), used for
# PLANNING constants (alpha/power quantiles), never in-plan.
_PPF_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_PPF_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_PPF_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_PPF_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)


def norm_ppf(p: float) -> float:
    """Driver-side inverse normal CDF (Acklam 2003) — the planning
    twin of :func:`normal_cdf`; identical arithmetic wherever Python
    floats run, so oracle generators can inline its output as a
    literal."""
    import math

    if not 0 < p < 1:
        raise ValueError(f"p must be in (0, 1), got {p}")
    a, b, c, d = _PPF_A, _PPF_B, _PPF_C, _PPF_D
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (
            ((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q
            + c[5]
        ) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(
            ((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q
            + c[5]
        ) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (
        ((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r
        + a[5]
    ) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )


def ab_power_plan(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a: str,
    mde_rel: float = 0.1,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """A/B test power planning FROM the observed data: take the
    baseline arm's conversion rate, posit a relative MDE, and report
    the required per-arm sample size for the two-proportion z-test
    plus the power the CURRENT sample already has — the "how much
    longer must this run?" readout every experiment dashboard needs.

    ``n = (z_{1−α/2} + z_{power})² · (p₁q₁ + p₂q₂) / (p₂ − p₁)²``;
    achieved power = Φ(|Δ|/SE − z_{1−α/2}).  The z quantiles are
    driver-side :func:`norm_ppf` constants inlined as literals (the
    oracle generator inlines the SAME Python-computed values), so the
    in-plan math is plain arithmetic plus :func:`normal_cdf`.

    Scale shape: ONE conditional aggregate (both arm counts + the
    baseline rate in a single pass), scalar arithmetic after;
    lazy-CASE guards for empty arms and degenerate rates.

    The achieved-power readout uses the HARMONIC per-arm size
    ``n_h = 2·n_a·n_b/(n_a + n_b)`` (the same balancing
    :func:`msprt_ab` uses), so imbalanced allocation is reflected
    rather than silently treating the baseline arm's count as both
    arms'.  With no non-baseline rows at all, power_at_current_n is
    NULL (the experiment hasn't started).

    Returns one row: (n_a, n_b, p_base, p_target, z_alpha, z_power,
    n_required_per_arm, power_at_current_n).
    """
    if not 0 < mde_rel:
        raise ValueError(f"mde_rel must be positive, got {mde_rel}")
    z_a = norm_ppf(1 - alpha / 2)
    z_b = norm_ppf(power)
    g = F.col(group_col)
    y = F.col(success_col).cast("double")
    is_a = g == F.lit(group_a)
    m = df.filter(y.isNotNull() & g.isNotNull()).agg(
        F.count(F.when(is_a, F.lit(1))).alias("n_a"),
        F.count(F.when(~is_a, F.lit(1))).alias("n_b"),
        F.round(F.avg(F.when(is_a, y)), 6).alias("p_base"),
    )
    p1 = F.col("p_base")
    p2 = F.round(
        F.least(p1 * F.lit(1.0 + float(mde_rel)), F.lit(0.999999)), 6
    )
    staged = m.select("n_a", "n_b", "p_base", p2.alias("p_target"))
    p1 = F.col("p_base")
    p2 = F.col("p_target")
    var_sum = p1 * (1 - p1) + p2 * (1 - p2)
    delta = p2 - p1
    n_req = F.when(
        (delta != 0) & (p1 > 0) & (p1 < 1),
        F.ceil(
            F.lit((z_a + z_b) ** 2) * var_sum / (delta * delta)
        ).cast("long"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n_h = F.lit(2.0) * na * nb / (na + nb)
    se_now = F.sqrt(var_sum / n_h)
    z_now = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se_now > 0),
        F.abs(delta) / se_now - F.lit(z_a),
    )
    return staged.select(
        "n_a",
        "n_b",
        "p_base",
        "p_target",
        F.round(F.lit(z_a), 6).alias("z_alpha"),
        F.round(F.lit(z_b), 6).alias("z_power"),
        n_req.alias("n_required_per_arm"),
        F.round(normal_cdf(z_now), 6).alias("power_at_current_n"),
    )


def holm_adjust(
    df: DataFrame,
    p_col: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Holm step-down adjustment — the FWER-controlling complement of
    :func:`bh_adjust` (BH controls the false-discovery RATE; Holm
    bounds the chance of even ONE false positive, uniformly more
    powerful than plain Bonferroni): ``p̃_(i) = max_{j ≤ i}
    min(1, (m−j+1)·p_(j))``.

    Scale shape: same statistic-table discipline as bh_adjust — one
    rank window and one running-max window over the m test rows per
    family; NULL p-values excluded.

    Adds: (rank, p_holm, reject).
    """
    group_cols = group_cols or []
    base = df.filter(F.col(p_col).isNotNull())
    w_rank = Window.partitionBy(*group_cols).orderBy(
        F.col(p_col).asc(),
        *[
            F.col(c)
            for c in base.columns
            if c != p_col and c not in group_cols
        ],
    )
    w_all = Window.partitionBy(*group_cols)
    ranked = base.withColumn(
        "rank", F.row_number().over(w_rank)
    ).withColumn("__m", F.count(F.lit(1)).over(w_all))
    raw = F.least(
        F.lit(1.0),
        F.col(p_col)
        * (F.col("__m") - F.col("rank") + 1).cast("double"),
    )
    w_head = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("rank").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranked.withColumn("__raw", raw)
        .withColumn("p_holm", F.round(F.max("__raw").over(w_head), 6))
        .withColumn("reject", F.col("p_holm") <= F.lit(float(alpha)))
        .drop("__m", "__raw")
    )


def cochran_q(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    success_col: str,
    treatments: list[str],
) -> DataFrame:
    """Cochran's Q for k PAIRED binary treatments (did any of k
    models/variants differ, scored on the same items?) — the k-way
    generalization of :func:`mcnemar_test`:
    ``Q = (k−1)·[k·ΣC_j² − N²] / (k·N − ΣR_i²)`` with C_j the
    per-treatment success counts, R_i the per-item success counts,
    N total successes; Q ~ χ²(k−1) under no-difference.

    Only COMPLETE blocks count (items scored under every declared
    treatment); incomplete items are excluded and reported.
    DUPLICATE (item, treatment) rows — repeated measurements of the
    same cell — are collapsed MAX-WINS (``F.max(success)``): one
    success among the repeats scores the cell 1.  That is a
    deliberate "ever succeeded" reading; if conflicting repeats
    should instead invalidate the block, pre-filter
    ``groupBy(item, treatment).count() > 1`` before calling.

    Scale shape (r13 optimization round): ONE wide per-item pivot
    aggregate — ``max(success) FILTER (treatment = t_j)`` per declared
    arm (k is a small declared list) — collapses cells and blocks in
    a single map-side-combined pass; every moment the test needs
    (block completeness, R_i, R_i², and all k column sums C_j) then
    reduces in ONE scalar aggregate.  The previous form collapsed
    (item, treatment) cells, re-aggregated them per item, and joined
    the qualified-item set back onto the cell table — two extra
    corpus-grain passes and an item-keyed join that this pivot makes
    unnecessary (guide §2.3 "aggregate before you shuffle", §2.4
    "remove shuffles outright"); all arithmetic is exact integers, so
    the rewritten plan is bit-identical.  Degenerate denominators
    (all-success / all-failure) yield NULL Q via lazy CASE.

    Returns one row: (n_items, n_excluded, k, q_stat, dof).
    """
    if len(treatments) < 2:
        raise ValueError("treatments must declare >= 2 arms")
    k = len(treatments)
    t = F.col(treatment_col)
    y = F.col(success_col).cast("int")
    wide = (
        df.filter(
            F.col(item_col).isNotNull()
            & t.isin(treatments)
            & y.isNotNull()
        )
        .groupBy(F.col(item_col).alias("__it"))
        .agg(
            *[
                F.max(F.when(t == F.lit(tj), y)).alias(f"__y{j}")
                for j, tj in enumerate(treatments)
            ]
        )
    )
    # per-block derived terms: cells present, R_i (successes in block)
    kt = sum(
        F.col(f"__y{j}").isNotNull().cast("int") for j in range(k)
    )
    r = sum(F.coalesce(F.col(f"__y{j}"), F.lit(0)) for j in range(k))
    qual = wide.select(
        (kt == k).cast("int").alias("__ok"), r.alias("__r"), *wide.columns[1:]
    )
    m = qual.agg(
        F.sum("__ok").cast("long").alias("n_items"),
        (F.count(F.lit(1)) - F.sum("__ok")).cast("long").alias(
            "n_excluded"
        ),
        F.sum(F.when(F.col("__ok") == 1, F.col("__r"))).alias("__N"),
        F.sum(
            F.when(F.col("__ok") == 1, F.col("__r") * F.col("__r"))
        ).alias("__r2"),
        *[
            F.sum(F.when(F.col("__ok") == 1, F.col(f"__y{j}"))).alias(
                f"__cj{j}"
            )
            for j in range(k)
        ],
    ).withColumn(
        "__c2",
        sum(
            F.coalesce(F.col(f"__cj{j}"), F.lit(0))
            * F.coalesce(F.col(f"__cj{j}"), F.lit(0))
            for j in range(k)
        ),
    )
    n_tot = F.coalesce(F.col("__N"), F.lit(0)).cast("double")
    denom = F.lit(float(k)) * n_tot - F.coalesce(
        F.col("__r2"), F.lit(0)
    ).cast("double")
    q = F.when(
        denom > 0,
        (k - 1)
        * (
            F.lit(float(k))
            * F.coalesce(F.col("__c2"), F.lit(0)).cast("double")
            - n_tot * n_tot
        )
        / denom,
    )
    return m.select(
        "n_items",
        "n_excluded",
        F.lit(k).cast("long").alias("k"),
        F.round(q, 6).alias("q_stat"),
        F.lit(k - 1).cast("long").alias("dof"),
    )


def friedman_test(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    value_col: str,
    treatments: list[str],
) -> DataFrame:
    """Friedman rank test for k paired CONTINUOUS treatments (k model
    scores on the same examples, k pricing rules on the same SKUs):
    rank within each block with AVERAGE ranks for ties, then
    ``χ²_F = 12/(n·k·(k+1)) · Σ_j S_j² − 3·n·(k+1)`` (the classic
    form; no tie-correction denominator — documented, both engines
    compute identically).

    Only complete blocks count; incomplete items excluded/reported.

    Scale shape (r13 optimization round): ONE wide per-item pivot
    aggregate — ``round(avg(value), 6) FILTER (treatment = t_j)`` per
    declared arm — collapses the cells in a single map-side-combined
    pass, and because a block holds exactly the k pivoted columns,
    the within-block AVERAGE ranks are plain expressions over those
    columns (``1 + #{l: y_l < y_j} + (#{l: y_l = y_j} − 1)/2`` —
    identical to rank() + tie-average over the same rounded values),
    so the per-block rank window, the completeness re-aggregate and
    the qualified-block join of the previous form all collapse into
    the pivot + ONE scalar aggregate (guide §2.3/§2.4).  Ranks are
    multiples of 0.5 carried exactly in doubles — bit-identical to
    the window form.

    Returns one row: (n_items, n_excluded, k, chi2_f, dof).
    """
    if len(treatments) < 2:
        raise ValueError("treatments must declare >= 2 arms")
    k = len(treatments)
    t = F.col(treatment_col)
    v = F.col(value_col).cast("double")
    wide = (
        df.filter(
            F.col(item_col).isNotNull()
            & t.isin(treatments)
            & v.isNotNull()
        )
        .groupBy(F.col(item_col).alias("__it"))
        .agg(
            *[
                F.round(F.avg(F.when(t == F.lit(tj), v)), 6).alias(
                    f"__v{j}"
                )
                for j, tj in enumerate(treatments)
            ]
        )
    )
    cols = [F.col(f"__v{j}") for j in range(k)]
    ok = sum(c.isNotNull().cast("int") for c in cols) == k

    def block_rank(j: int) -> F.Column:
        below = sum(
            (cols[l] < cols[j]).cast("int") for l in range(k) if l != j
        )
        ties = sum((cols[l] == cols[j]).cast("int") for l in range(k))
        return (
            F.lit(1.0) + below.cast("double") + (ties - 1) / 2.0
        )

    qual = wide.select(
        ok.cast("int").alias("__ok"),
        *[
            F.when(ok, block_rank(j)).alias(f"__r{j}")
            for j in range(k)
        ],
    )
    m = qual.agg(
        F.sum("__ok").cast("long").alias("n_items"),
        (F.count(F.lit(1)) - F.sum("__ok")).cast("long").alias(
            "n_excluded"
        ),
        *[F.sum(F.col(f"__r{j}")).alias(f"__s{j}") for j in range(k)],
    ).withColumn(
        "__s2",
        sum(
            F.coalesce(F.col(f"__s{j}"), F.lit(0.0))
            * F.coalesce(F.col(f"__s{j}"), F.lit(0.0))
            for j in range(k)
        ),
    )
    n = F.col("n_items").cast("double")
    chi2 = F.when(
        F.col("n_items") > 0,
        12.0 / (n * k * (k + 1)) * F.col("__s2") - 3.0 * n * (k + 1),
    )
    return m.select(
        "n_items",
        "n_excluded",
        F.lit(k).cast("long").alias("k"),
        F.round(chi2, 6).alias("chi2_f"),
        F.lit(k - 1).cast("long").alias("dof"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Cliff's delta ordinal effect size between two groups —
    ``δ = P(a > b) − P(a < b)`` in [−1, 1], the magnitude that should
    accompany every :func:`mann_whitney_u` p-value (the
    distribution-free sibling of :func:`cohens_d`; |δ| < .147
    negligible / < .33 small / < .474 medium by Romano's thresholds,
    reported as a label).

    Derivation without any pair join: ``δ = 2·U_a/(n_a·n_b) − 1``
    with the tie-averaged U from the same distinct-value collapse as
    mann_whitney_u — one hash aggregate over value buckets, one
    value-cardinality-bounded cumulative window, one scalar reduce.

    Returns one row: (n_a, n_b, delta, magnitude).
    """
    v = F.col(value_col)
    g = F.col(group_col)
    buckets = (
        df.filter(v.isNotNull() & g.isin(group_a, group_b))
        .select(v.alias("__v"), g.alias("__g"))
        .groupBy("__v")
        .agg(
            F.sum((F.col("__g") == F.lit(group_a)).cast("long")).alias(
                "__a"
            ),
            F.sum((F.col("__g") == F.lit(group_b)).cast("long")).alias(
                "__b"
            ),
        )
        .withColumn("__t", F.col("__a") + F.col("__b"))
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    avg_rank = F.sum("__t").over(w) - (F.col("__t") - 1) / 2.0
    ranked = buckets.select("__a", "__b", avg_rank.alias("__r"))
    na = F.sum("__a")
    nb = F.sum("__b")
    u_a = F.sum(F.col("__a") * F.col("__r")) - na * (na + 1) / 2.0
    m = ranked.groupBy().agg(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(
            F.when(
                (na > 0) & (nb > 0),
                2.0 * u_a / (na.cast("double") * nb) - 1.0,
            ),
            6,
        ).alias("delta"),
    )
    a = F.abs(F.col("delta"))
    return m.select(
        "n_a",
        "n_b",
        "delta",
        F.when(a.isNull(), F.lit(None).cast("string"))
        .when(a < 0.147, F.lit("negligible"))
        .when(a < 0.33, F.lit("small"))
        .when(a < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


def ewma_control_chart(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.5,
    l_sigma: float = 3.0,
    baseline_frac: float = 0.5,
) -> DataFrame:
    """EWMA control chart (Roberts 1959) — the small-persistent-shift
    detector that completes the SPC triad next to the Shewhart rules
    (:func:`control_chart_violations`, big spikes) and Page–Hinkley
    (:func:`page_hinkley`, sequential alarms): smooth each series
    with the adjust-corrected EWMA and flag points outside
    ``μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t}))`` — the exact finite-horizon
    variance, so early points get their correctly TIGHTER limits.

    Center/scale come from the PHASE-I prefix of each series (the
    first ``baseline_frac`` of points, the in-control reference) —
    whole-series moments would absorb the very shift the chart is
    meant to catch.

    Scale shape: :func:`~..windows.ewma_smooth`'s one cumulative
    window per key plus a broadcast of the per-group PREFIX moments
    (rounded to 6 first); ``alpha=0.5`` keeps the smoother's
    power-of-two exactness (the ewma determinism contract).  Series
    whose baseline has zero variance emit no rows.

    INHERITED LENGTH BOUND: the smoother's closed-form weight
    ``(1/(1−α))^i`` overflows to inf past ~1020 points per key at
    α=0.5 (documented on :func:`~..windows.ewma_smooth`), silently
    yielding NaN ewma/limits — pre-aggregate (e.g. daily → weekly)
    so no key's series exceeds ~1000 points before charting.

    Returns every point: (group, time, value, ewma, ucl, lcl,
    out_of_control).
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0 < baseline_frac <= 1:
        raise ValueError(
            f"baseline_frac must be in (0, 1], got {baseline_frac}"
        )
    from ..windows import ewma_smooth

    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    w_rank = Window.partitionBy(g).orderBy(F.col(time_col).asc())
    w_grp = Window.partitionBy(g)
    base = (
        df.filter(g.isNotNull() & x.isNotNull())
        .withColumn("__r", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_grp))
    )
    phase1 = F.col("__r") <= F.ceil(
        F.col("__n") * F.lit(float(baseline_frac))
    )
    moments = (
        base.filter(phase1)
        .groupBy(g.alias("__mg"))
        .agg(
            F.round(F.avg(x), 6).alias("__mu"),
            F.round(F.stddev_samp(x), 6).alias("__sd"),
        )
    )
    smoothed = ewma_smooth(
        df.filter(g.isNotNull() & x.isNotNull()),
        [group_col],
        time_col,
        value_col,
        alpha=alpha,
        out_col="__ewma",
    )
    w_ord = Window.partitionBy(g).orderBy(F.col(time_col).asc())
    staged = (
        smoothed.withColumn("__t", F.row_number().over(w_ord))
        .join(F.broadcast(moments), g == F.col("__mg"))
        .filter(F.col("__sd") > 0)
    )
    lam = float(alpha)
    r = 1.0 - lam
    width = F.lit(float(l_sigma)) * F.col("__sd") * F.sqrt(
        F.lit(lam / (2.0 - lam))
        * (1.0 - F.pow(F.lit(r), 2 * F.col("__t")))
    )
    out = staged.select(
        group_col,
        time_col,
        value_col,
        F.round(F.col("__ewma"), 6).alias("ewma"),
        F.round(F.col("__mu") + width, 6).alias("ucl"),
        F.round(F.col("__mu") - width, 6).alias("lcl"),
    )
    return out.withColumn(
        "out_of_control",
        (F.col("ewma") > F.col("ucl")) | (F.col("ewma") < F.col("lcl")),
    )


def fisher_exact(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a: str,
    group_b: str,
    max_n: int = 20_000,
) -> DataFrame:
    """Fisher's EXACT test for a 2×2 contingency table — the
    small-count complement of :func:`two_proportion_ztest` /
    chi-square (both lean on asymptotics that fail exactly where
    rare-event A/B readouts live: expected cells < 5).  Two-sided
    p-value by the standard "sum of all tables as-or-more-extreme"
    rule: enumerate every k with the observed margins, keep those
    whose hypergeometric probability ≤ the observed table's.

    In-plan construction (no scipy): ONE conditional aggregate
    produces the four cells; a cumulative-log-factorial ARRAY
    ``lf[i] = Σ_{j≤i} ln j`` is built on a synthetic 1-row frame
    (``spark.range(1)`` — the base table is never re-scanned) from
    the driver-read total n, collapsed to one broadcast array row;
    every factorial term is an ``element_at`` lookup, so the k
    enumeration is one crossJoin, not thirteen joins.  All
    post-aggregate tables are bounded by ``n ≤ max_n`` (documented
    cap — Fisher is a SMALL-n instrument; above the cap the
    z-test/chi-square asymptotics are valid and 10⁶× cheaper, so
    exceeding it raises rather than silently hanging a
    single-partition window).

    Cross-engine determinism: both engines sum ``ln j`` in the same
    ascending order (ordered window), log-probabilities are rounded
    to 9 decimals BEFORE the ≤ comparison so a 1-ulp ``ln``
    difference cannot flip a table in or out of the tail, and the
    final p is rounded to 6.

    Returns one row: (n_a_success, n_a_fail, n_b_success, n_b_fail,
    p_value).
    """
    if max_n < 4:
        raise ValueError(f"max_n must be >= 4, got {max_n}")
    g = F.col(group_col)
    y = F.col(success_col).cast("int")
    cells = df.filter(
        y.isNotNull() & g.isin([group_a, group_b])
    ).agg(
        F.count(F.when((g == group_a) & (y == 1), 1)).alias("__a1"),
        F.count(F.when((g == group_a) & (y == 0), 1)).alias("__a0"),
        F.count(F.when((g == group_b) & (y == 1), 1)).alias("__b1"),
        F.count(F.when((g == group_b) & (y == 0), 1)).alias("__b0"),
    )
    n_expr = (
        F.col("__a1") + F.col("__a0") + F.col("__b1") + F.col("__b0")
    )
    cells = cells.withColumn("__n", n_expr)
    # runtime cap: a driver-side scalar read of ONE aggregate row —
    # control-plane, same discipline as the batching qualifier list
    n_val = cells.select("__n").first()[0]
    if n_val > max_n:
        raise ValueError(
            f"fisher_exact is capped at n <= {max_n} (got {n_val}); "
            "use two_proportion_ztest at this sample size"
        )
    # cumulative log-factorial lf[i] = sum_{j<=i} ln(j), lf[0] = 0 —
    # built on a synthetic 1-row frame from the driver-read n (already
    # in hand for the cap check), so the input is never re-scanned;
    # collapsed to ONE broadcast array row for element_at lookups
    spark = df.sparkSession
    lf = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(0), F.lit(int(n_val)))
            ).alias("__i")
        )
        .withColumn(
            "__lnj",
            F.when(F.col("__i") > 0, F.log(F.col("__i"))).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "__lf",
            F.sum("__lnj").over(
                Window.orderBy("__i").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__i", "__lf"))
            ).alias("__pairs")
        )
        .select(
            F.transform(
                F.col("__pairs"), lambda s: s["__lf"]
            ).alias("__lf_arr")
        )
    )

    r1 = F.col("__a1") + F.col("__a0")
    r2 = F.col("__b1") + F.col("__b0")
    c1 = F.col("__a1") + F.col("__b1")
    ks = cells.select(
        "__a1", "__a0", "__b1", "__b0", "__n",
        r1.alias("__r1"), r2.alias("__r2"), c1.alias("__c1"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("__c1") - F.col("__r2")),
                F.least(F.col("__r1"), F.col("__c1")),
            )
        ).alias("__k"),
    )
    j = ks.crossJoin(F.broadcast(lf))

    def _lf(idx):
        # lf array is 1-indexed via element_at; lf[i] sits at i+1
        return F.element_at(F.col("__lf_arr"), (idx + 1).cast("int"))

    log_margin = (
        _lf(F.col("__r1")) + _lf(F.col("__r2")) + _lf(F.col("__c1"))
        + _lf(F.col("__n") - F.col("__c1")) - _lf(F.col("__n"))
    )
    logp_k = F.round(
        log_margin
        - _lf(F.col("__k"))
        - _lf(F.col("__r1") - F.col("__k"))
        - _lf(F.col("__c1") - F.col("__k"))
        - _lf(F.col("__r2") - F.col("__c1") + F.col("__k")),
        9,
    )
    logp_obs = F.round(
        log_margin
        - _lf(F.col("__a1")) - _lf(F.col("__a0"))
        - _lf(F.col("__b1")) - _lf(F.col("__b0")),
        9,
    )
    return (
        j.withColumn("__logp", logp_k)
        .withColumn("__logobs", logp_obs)
        .groupBy("__a1", "__a0", "__b1", "__b0")
        .agg(
            F.round(
                F.least(
                    F.sum(
                        F.when(
                            F.col("__logp") <= F.col("__logobs"),
                            F.exp(F.col("__logp")),
                        ).otherwise(F.lit(0.0))
                    ),
                    F.lit(1.0),
                ),
                6,
            ).alias("p_value")
        )
        .select(
            F.col("__a1").alias("n_a_success"),
            F.col("__a0").alias("n_a_fail"),
            F.col("__b1").alias("n_b_success"),
            F.col("__b0").alias("n_b_fail"),
            "p_value",
        )
    )


def gumbel_return_levels(
    df: DataFrame,
    time_col: str,
    value_col: str,
    block: str = "month",
    periods: list[int] = (10, 50, 100),
) -> DataFrame:
    """Extreme-value return levels by BLOCK MAXIMA + method-of-moments
    Gumbel fit — "what peak should we provision for once per T
    blocks?" (peak QPS, max daily spend, flood-style tail planning):
    take per-block maxima, fit Gumbel(μ, β) from their mean m and
    sample std s (``β = s·√6/π``, ``μ = m − γβ``, γ the
    Euler–Mascheroni constant), and report
    ``x_T = μ − β·ln(−ln(1 − 1/T))`` per requested return period.

    Method-of-moments (not MLE) is deliberate: it is closed-form, one
    aggregate, and engine-deterministic — no iterative solver in-plan.

    Scale shape: one ``date_trunc`` group-by for the maxima (map-side
    combined), one moments aggregate over the block-count-sized
    table, then a literal periods array exploded against the single
    moments row.  Blocks with no rows simply don't exist (Gumbel fit
    is over OBSERVED blocks).

    Returns one row per period: (period, n_blocks, mu, beta,
    return_level), NULL-guarded when fewer than 2 blocks or zero
    variance.
    """
    if not periods or any(p < 2 for p in periods):
        raise ValueError(f"periods must all be >= 2, got {periods}")
    euler_gamma = 0.5772156649015329
    x = F.col(value_col).cast("double")
    maxima = (
        df.filter(x.isNotNull() & F.col(time_col).isNotNull())
        .groupBy(
            F.date_trunc(block, F.col(time_col)).alias("__blk")
        )
        .agg(F.max(x).alias("__mx"))
    )
    mom = maxima.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.round(F.avg("__mx"), 6).alias("__m"),
        F.round(F.stddev_samp("__mx"), 6).alias("__s"),
    )
    beta = F.when(
        (F.col("n_blocks") >= 2) & (F.col("__s") > 0),
        F.round(F.col("__s") * F.lit(6.0**0.5 / 3.141592653589793), 6),
    )
    staged = mom.select("n_blocks", "__m", beta.alias("beta"))
    mu = F.round(
        F.col("__m") - F.lit(euler_gamma) * F.col("beta"), 6
    )
    staged = staged.select("n_blocks", mu.alias("mu"), "beta")
    per = staged.select(
        "*",
        F.explode(
            F.array(*[F.lit(int(p)) for p in periods])
        ).alias("period"),
    )
    level = F.round(
        F.col("mu")
        - F.col("beta")
        * F.log(-F.log(1.0 - 1.0 / F.col("period"))),
        6,
    )
    return per.select(
        "period", "n_blocks", "mu", "beta", level.alias("return_level")
    ).orderBy("period")


def bartlett_variance(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Bartlett's test of variance homogeneity — the HIGH-POWER
    complement of :func:`levene_variance` (Brown–Forsythe): Bartlett
    is exact-χ² under normality and markedly more sensitive, Levene is
    the robust fallback when normality is doubtful; emitting both is
    the standard pre-ANOVA audit.

    ``T = [(N−k)·ln S_p² − Σ(n_i−1)·ln S_i²] / C`` with
    ``C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1))``; T ~ χ²(k−1).
    Groups with fewer than 2 rows or zero variance are EXCLUDED (their
    ln S² is undefined) and counted.

    Scale shape: one per-group moments aggregate (map-side combined),
    one k-sized reduce, scalar arithmetic; statistic emitted with its
    dof (the family convention — no χ² CDF in-plan).

    Returns one row: (k, n_excluded_groups, n, dof, t_stat).
    """
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    per = (
        df.filter(g.isNotNull() & x.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.round(F.var_samp(x), 6).alias("__v"),
        )
    )
    ok = (F.col("__n") >= 2) & (F.col("__v") > 0)
    red = per.agg(
        F.sum(ok.cast("int")).cast("long").alias("k"),
        (F.count(F.lit(1)) - F.sum(ok.cast("int")))
        .cast("long")
        .alias("n_excluded_groups"),
        F.sum(F.when(ok, F.col("__n"))).cast("long").alias("n"),
        F.sum(
            F.when(ok, (F.col("__n") - 1) * F.col("__v"))
        ).alias("__ssw"),
        F.sum(
            F.when(ok, (F.col("__n") - 1) * F.log(F.col("__v")))
        ).alias("__sumlog"),
        F.sum(
            F.when(ok, 1.0 / (F.col("__n") - 1))
        ).alias("__suminv"),
    )
    nk = (F.col("n") - F.col("k")).cast("double")
    sp2 = F.col("__ssw") / nk
    c = 1.0 + (F.col("__suminv") - 1.0 / nk) / (
        3.0 * (F.col("k") - 1).cast("double")
    )
    t = F.when(
        (F.col("k") >= 2) & (nk > 0),
        F.round((nk * F.log(sp2) - F.col("__sumlog")) / c, 6),
    )
    return red.select(
        "k",
        "n_excluded_groups",
        "n",
        (F.col("k") - 1).cast("long").alias("dof"),
        t.alias("t_stat"),
    )


def icc_oneway(
    df: DataFrame, item_col: str, value_col: str, n_raters: int
) -> DataFrame:
    """Intraclass correlation ICC(1,1) — CONTINUOUS-score multi-rater
    reliability, the missing member next to :func:`fleiss_kappa`
    (categorical) and :func:`cohens_kappa` (two raters): one-way
    random-effects ANOVA decomposition,
    ``ICC = (MS_B − MS_W) / (MS_B + (k−1)·MS_W)``.

    Input grain: one row per (item, score); items must carry exactly
    ``n_raters`` scores — others are EXCLUDED and counted (the same
    constant-panel rule as Fleiss).

    Scale shape: per-item moments (one hash aggregate), one reduce for
    the grand mean + sums of squares, scalar arithmetic; negative
    ICC is reported as computed (it is evidence AGAINST reliability,
    not an error), NULL when denominators degenerate.

    Returns one row: (n_items, n_excluded_items, n_raters, ms_between,
    ms_within, icc).
    """
    if n_raters < 2:
        raise ValueError(f"n_raters must be >= 2, got {n_raters}")
    k = int(n_raters)
    it = F.col(item_col)
    x = F.col(value_col).cast("double")
    per = (
        df.filter(it.isNotNull() & x.isNotNull())
        .groupBy(it.alias("__it"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x).alias("__s"),
            F.sum(x * x).alias("__ss"),
        )
    )
    ok = F.col("__n") == k
    red = per.agg(
        F.sum(ok.cast("int")).cast("long").alias("n_items"),
        (F.count(F.lit(1)) - F.sum(ok.cast("int")))
        .cast("long")
        .alias("n_excluded_items"),
        F.sum(F.when(ok, F.col("__s"))).alias("__ts"),
        F.sum(F.when(ok, F.col("__ss"))).alias("__tss"),
        F.sum(
            F.when(ok, F.col("__s") * F.col("__s") / F.lit(float(k)))
        ).alias("__sgrp"),
    )
    n_items = F.col("n_items").cast("double")
    total_n = n_items * k
    grand = F.col("__ts") * F.col("__ts") / total_n
    ssb = F.col("__sgrp") - grand
    ssw = F.col("__tss") - F.col("__sgrp")
    msb = F.round(ssb / (n_items - 1), 6)
    msw = F.round(ssw / (n_items * (k - 1)), 6)
    staged = red.select(
        "n_items",
        "n_excluded_items",
        F.lit(k).cast("long").alias("n_raters"),
        F.when(F.col("n_items") >= 2, msb).alias("ms_between"),
        F.when(F.col("n_items") >= 1, msw).alias("ms_within"),
    )
    denom = F.col("ms_between") + F.lit(float(k - 1)) * F.col("ms_within")
    icc = F.when(
        denom > 0,
        F.round(
            (F.col("ms_between") - F.col("ms_within")) / denom, 6
        ),
    )
    return staged.select("*", icc.alias("icc"))


def by_adjust(
    df: DataFrame,
    p_col: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Yekutieli FDR adjustment — :func:`bh_adjust` made
    valid under ARBITRARY dependence between the tests (BH assumes
    independence/PRDS; overlapping segments, correlated metrics, and
    shared denominators violate it): the same step-up rule with every
    q inflated by the harmonic factor ``c(m) = Σ_{i≤m} 1/i``.

    Implementation: delegate to :func:`bh_adjust`, then multiply
    q-values by c(m) computed IN-PLAN from the family size (a
    per-family aggregate — no driver-side m), re-cap at 1 and re-flag.

    Adds: (rank, q_value, reject) with BY semantics.
    """
    group_cols = group_cols or []
    base = bh_adjust(df, p_col, group_cols=group_cols, alpha=alpha)
    w_all = Window.partitionBy(*group_cols)
    m = F.max("rank").over(w_all)
    # c(m) = sum_{i<=m} 1/i via one bounded higher-order aggregate
    # over sequence(1, m) — m is the family's test count (small)
    cm = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / i.cast("double"),
    )
    q = F.round(F.least(F.col("q_value") * cm, F.lit(1.0)), 6)
    return (
        base.withColumn("q_value", q)
        .withColumn("reject", F.col("q_value") <= F.lit(float(alpha)))
    )


def erlang_c_wait(
    df: DataFrame,
    group_col: str,
    time_col: str,
    service_rate_per_min: float,
    servers: int,
) -> DataFrame:
    """Erlang-C queueing readout per stream — "will c agents hold the
    queue?": arrival rate λ from the observed event stream (count over
    the observed span), offered load ``a = λ/μ``, utilization
    ``ρ = a/c``, the Erlang-C waiting probability
    ``P_wait = (aᶜ/c!) / ((1−ρ)·Σ_{k<c} aᵏ/k! + aᶜ/c!)`` and the mean
    queue wait ``W_q = P_wait / (cμ − λ)`` — the capacity-planning
    formula behind every support-staffing sheet.

    The factorial series is UNROLLED with driver-side ``ln k!``
    literals (``servers`` is a parameter, so the c terms are plan
    constants — no in-plan table at all); λ and a are rounded to 6
    FIRST so both engines exponentiate identical doubles.  Unstable
    queues (ρ ≥ 1) report NULL wait metrics via lazy CASE — the
    formula diverges there by construction.

    Returns one row per group: (group, n_arrivals, span_min, lam, a,
    rho, p_wait, avg_wait_min).
    """
    if servers < 1:
        raise ValueError(f"servers must be >= 1, got {servers}")
    if service_rate_per_min <= 0:
        raise ValueError(
            f"service_rate_per_min must be > 0, got {service_rate_per_min}"
        )
    import math as _m

    c = int(servers)
    mu = float(service_rate_per_min)
    lfact = [_m.lgamma(k + 1) for k in range(c + 1)]
    g = F.col(group_col)
    t = F.col(time_col)
    # whole-second span (unix_timestamp truncates; the oracle mirrors
    # with floor(epoch()) — sub-second span precision is noise at
    # staffing granularity and this keeps both engines integer-exact)
    agg = (
        df.filter(g.isNotNull() & t.isNotNull())
        .groupBy(g)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrivals"),
            F.round(
                (
                    F.unix_timestamp(F.max(t))
                    - F.unix_timestamp(F.min(t))
                )
                / 60.0,
                6,
            ).alias("span_min"),
        )
    )
    lam = F.round(
        F.when(F.col("span_min") > 0, F.col("n_arrivals") / F.col("span_min")),
        6,
    )
    staged = agg.select(g.alias(group_col), "n_arrivals", "span_min", lam.alias("lam"))
    a = F.round(F.col("lam") / F.lit(mu), 6)
    staged = staged.select("*", a.alias("a"))
    rho = F.round(F.col("a") / F.lit(float(c)), 6)
    staged = staged.select("*", rho.alias("rho"))
    la = F.log(F.col("a"))
    # sum_{k<c} a^k/k!  +  tail term a^c/c! / (1-rho), unrolled
    series = None
    for k in range(c):
        term = F.exp(F.lit(float(k)) * la - F.lit(lfact[k]))
        series = term if series is None else series + term
    tail = F.exp(F.lit(float(c)) * la - F.lit(lfact[c]))
    stable = (F.col("rho") < 1.0) & (F.col("a") > 0)
    p_wait = F.when(
        stable,
        F.round(
            tail / ((1.0 - F.col("rho")) * series + tail), 6
        ),
    )
    staged = staged.select("*", p_wait.alias("p_wait"))
    avg_wait = F.when(
        stable,
        F.round(
            F.col("p_wait")
            / (F.lit(float(c) * mu) - F.col("lam")),
            6,
        ),
    )
    return staged.select("*", avg_wait.alias("avg_wait_min"))


def mh_odds_ratio(
    df: DataFrame,
    stratum_col: str,
    group_col: str,
    success_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across strata — the
    confounder-controlled complement of :func:`odds_ratio`: when the
    exposure mix differs by stratum (Simpson's-paradox territory), the
    crude OR misleads and ``OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i)``
    is the standard fixed-effect pool.

    Scale shape: ONE conditional aggregate to stratum-sized 2×2 rows,
    one reduce; per-stratum terms rounded to 9 first (the repo's
    cross-engine float discipline), crude OR emitted alongside so the
    confounding direction is visible in one row.

    Returns one row: (k_strata, or_crude, or_mh), NULL-guarded when a
    denominator sum is 0.
    """
    st = F.col(stratum_col)
    g = F.col(group_col)
    y = F.col(success_col).cast("int")
    cells = (
        df.filter(st.isNotNull() & y.isNotNull() & g.isin([group_a, group_b]))
        .groupBy(st.alias("__s"))
        .agg(
            F.count(F.when((g == group_a) & (y == 1), 1)).alias("__a"),
            F.count(F.when((g == group_a) & (y == 0), 1)).alias("__b"),
            F.count(F.when((g == group_b) & (y == 1), 1)).alias("__c"),
            F.count(F.when((g == group_b) & (y == 0), 1)).alias("__d"),
        )
    )
    n = (F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")).cast(
        "double"
    )
    num_t = F.round(F.col("__a") * F.col("__d") / n, 9)
    den_t = F.round(F.col("__b") * F.col("__c") / n, 9)
    red = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        F.sum("__a").alias("__sa"),
        F.sum("__b").alias("__sb"),
        F.sum("__c").alias("__sc"),
        F.sum("__d").alias("__sd"),
        F.sum(num_t).alias("__num"),
        F.sum(den_t).alias("__den"),
    )
    crude = F.when(
        (F.col("__sb") > 0) & (F.col("__sc") > 0) & (F.col("__sd") > 0),
        F.round(
            (F.col("__sa") * F.col("__sd")).cast("double")
            / (F.col("__sb") * F.col("__sc")),
            6,
        ),
    )
    pooled = F.when(
        F.col("__den") > 0, F.round(F.col("__num") / F.col("__den"), 6)
    )
    return red.select(
        "k_strata", crude.alias("or_crude"), pooled.alias("or_mh")
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
    n_items: int,
) -> DataFrame:
    """Cronbach's α internal-consistency reliability — the
    CONTINUOUS-item companion of :func:`icc_oneway` for fixed item
    batteries (k scored rubric dimensions, k probe questions per
    model): ``α = k/(k−1) · (1 − Σᵢ var(itemᵢ) / var(total))``.

    Subjects must carry exactly ``n_items`` distinct items — others
    are EXCLUDED and counted (constant-battery rule, as Fleiss/ICC).

    Scale shape: one qualification aggregate, one per-item variance
    aggregate over qualified subjects, one subject-total variance
    aggregate, a 3-way scalar combine — all map-side-combined hash
    aggregates; denominator-degenerate batteries yield NULL α.

    Returns one row: (n_subjects, n_excluded_subjects, k, sum_item_var,
    total_var, alpha).
    """
    if n_items < 2:
        raise ValueError(f"n_items must be >= 2, got {n_items}")
    k = int(n_items)
    s = F.col(subject_col)
    it = F.col(item_col)
    x = F.col(value_col).cast("double")
    base = df.filter(s.isNotNull() & it.isNotNull() & x.isNotNull())
    qual = base.groupBy(s.alias("__subj")).agg(
        F.countDistinct(it).alias("__ki"),
        F.count(F.lit(1)).alias("__ni"),
    )
    # r13 optimization round: the qualified-rows join feeds TWO
    # aggregates (per-item variances, per-subject totals) — eagerly
    # checkpoint it ONCE instead of re-running scan+qualify+join per
    # aggregate, and let the total-subject count ride the same job as
    # an Observation on the qualification aggregate (was a separate
    # qual.count() job re-deriving the corpus).
    from pyspark.sql import Observation

    obs = Observation()
    ok = (
        qual.observe(obs, F.count(F.lit(1)).alias("__n_total"))
        .filter((F.col("__ki") == k) & (F.col("__ni") == k))
        .select("__subj")
    )
    scored = checkpoint(base.join(ok, s == F.col("__subj"), "inner"))
    n_total = int(obs.get["__n_total"] or 0)
    item_var = (
        scored.groupBy(it.alias("__item"))
        .agg(F.round(F.var_samp(x), 6).alias("__v"))
        .agg(
            F.round(F.sum("__v"), 6).alias("sum_item_var"),
        )
    )
    totals = (
        scored.groupBy("__subj")
        .agg(F.sum(x).alias("__tot"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_subjects"),
            F.round(F.var_samp("__tot"), 6).alias("total_var"),
        )
    )
    combined = totals.crossJoin(F.broadcast(item_var)).select(
        "n_subjects", "sum_item_var", "total_var"
    )
    alpha = F.when(
        F.col("total_var") > 0,
        F.round(
            F.lit(float(k) / (k - 1))
            * (1.0 - F.col("sum_item_var") / F.col("total_var")),
            6,
        ),
    )
    return combined.select(
        "n_subjects",
        (F.lit(int(n_total)) - F.col("n_subjects"))
        .cast("long")
        .alias("n_excluded_subjects"),
        F.lit(k).cast("long").alias("k"),
        "sum_item_var",
        "total_var",
        alpha.alias("alpha"),
    )


def wilcoxon_signed_rank(
    df: DataFrame, before_col: str, after_col: str
) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED nonparametric
    counterpart of :func:`mann_whitney_u` (that one compares
    independent samples; this one compares before/after on the SAME
    units, the A/A′ and pre/post-deploy readout): rank |d| with
    midranks, ``W⁺ = Σ ranks of positive d``, normal approximation
    with the exact tie correction
    ``σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48``.

    Zero differences are DROPPED and counted (the standard Wilcoxon
    rule); no continuity correction (documented — both engines then
    share one exact formula).

    Scale shape: differences collapse to a |d|-valued histogram
    (shuffle = distinct |d|, not rows), midranks come from one ordered
    cumsum over that histogram, W⁺ is one reduce — rows never sort
    globally.  |d| is rounded to 9 first so tie GROUPS are identical
    cross-engine.

    Returns one row: (n_pairs, n_zeros, w_plus, mean_w, sigma_w, z).
    """
    b = F.col(before_col).cast("double")
    a = F.col(after_col).cast("double")
    d = F.round(a - b, 9)
    base = df.filter(b.isNotNull() & a.isNotNull()).select(
        d.alias("__d")
    )
    nz = base.filter(F.col("__d") != 0).select(
        F.abs(F.col("__d")).alias("__ad"),
        (F.col("__d") > 0).cast("int").alias("__pos"),
    )
    hist = nz.groupBy("__ad").agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum("__pos").alias("__tp"),
    )
    w = Window.orderBy("__ad").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("__cum", F.sum("__t").over(w))
    avg_rank = (
        F.col("__cum") - F.col("__t") + (F.col("__t") + 1) / 2.0
    )
    zeros = base.filter(F.col("__d") == 0).count()
    red = cum.agg(
        F.sum("__t").cast("long").alias("n_pairs"),
        F.round(F.sum(avg_rank * F.col("__tp")), 6).alias("w_plus"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__ties"),
    )
    n = F.col("n_pairs").cast("double")
    mean_w = F.round(n * (n + 1) / 4.0, 6)
    var_w = n * (n + 1) * (2 * n + 1) / 24.0 - F.col("__ties") / 48.0
    staged = red.select(
        "n_pairs",
        F.lit(int(zeros)).cast("long").alias("n_zeros"),
        "w_plus",
        mean_w.alias("mean_w"),
        F.round(F.sqrt(var_w), 6).alias("sigma_w"),
    )
    z = F.when(
        F.col("sigma_w") > 0,
        F.round(
            (F.col("w_plus") - F.col("mean_w")) / F.col("sigma_w"), 6
        ),
    )
    return staged.select("*", z.alias("z"))


def cramer_von_mises(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Cramér–von Mises criterion — the WHOLE-distribution
    complement of the KS statistic (KS sees the single worst gap; CvM
    integrates the squared gap everywhere, far more sensitive to
    spread/tail differences that never produce one big deviation):
    Anderson's rank form ``U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)²``,
    ``T = U/(N·n·m) − (4nm−1)/(6N)``.

    Ties take pooled MIDRANKS; within a tie block the per-sample
    order indices i are consecutive regardless of row order, so the
    statistic is deterministic under ties (documented).

    Scale shape: one pooled midrank via the histogram-cumsum trick
    (shuffle = distinct values), one per-sample ordered index window,
    two reduces — the value column never sorts as raw rows beyond the
    per-sample index window over each sample's rows.

    Returns one row: (n_a, n_b, u_stat, t_stat).
    """
    g = F.col(group_col)
    x = F.round(F.col(value_col).cast("double"), 9)
    base = df.filter(
        x.isNotNull() & g.isin([group_a, group_b])
    ).select(
        (g == group_a).cast("int").alias("__is_a"), x.alias("__x")
    )
    hist = base.groupBy("__x").agg(F.count(F.lit(1)).alias("__t"))
    w = Window.orderBy("__x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranks = hist.withColumn("__cum", F.sum("__t").over(w)).select(
        "__x",
        (
            F.col("__cum") - F.col("__t") + (F.col("__t") + 1) / 2.0
        ).alias("__r"),
    )
    w_samp = Window.partitionBy("__is_a").orderBy("__x")
    idx = (
        base.join(ranks, "__x")
        .withColumn("__i", F.row_number().over(w_samp))
        .select(
            "__is_a",
            ((F.col("__r") - F.col("__i"))
             * (F.col("__r") - F.col("__i"))).alias("__sq"),
        )
    )
    red = idx.agg(
        F.sum(F.when(F.col("__is_a") == 1, F.lit(1))).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__is_a") == 0, F.lit(1))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__is_a") == 1, F.col("__sq"))).alias("__sa"),
        F.sum(F.when(F.col("__is_a") == 0, F.col("__sq"))).alias("__sb"),
    )
    n = F.col("n_a").cast("double")
    m = F.col("n_b").cast("double")
    big_n = n + m
    u = F.round(n * F.col("__sa") + m * F.col("__sb"), 6)
    staged = red.select("n_a", "n_b", u.alias("u_stat"))
    n = F.col("n_a").cast("double")
    m = F.col("n_b").cast("double")
    big_n = n + m
    t = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.round(
            F.col("u_stat") / (big_n * n * m)
            - (4 * n * m - 1) / (6 * big_n),
            6,
        ),
    )
    return staged.select("*", t.alias("t_stat"))


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_order: list[str],
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative — "does the
    response rise across dose/priority/tier levels?" — strictly more
    powerful than Kruskal–Wallis when the groups carry a known order
    (KW only asks "any difference"): ``JT = Σ_{i<j} U_ij`` with
    ``U_ij`` the Mann–Whitney count of pairs where the higher-ordered
    group wins (ties count ½), z-scored with the FULL tie-corrected
    variance (Lehmann's three-term form), since real business measures
    are tie-heavy.

    Scale shape: ONE (group × distinct-value) pivoted histogram —
    shuffle = distinct values, never row pairs (the naive JT is
    O(N²)); strictly-below prefix counts come from one ordered window
    over the value histogram with the k group columns unrolled
    (``group_order`` is a parameter, so the Σ_{i<j} expansion is plan
    constants); moments reduce from group sizes + pooled tie counts.

    Returns one row: (n, k, jt_stat, mean_jt, sigma_jt, z).
    """
    k = len(group_order)
    if k < 3:
        raise ValueError(
            f"group_order needs >= 3 ordered groups, got {k}"
        )
    g = F.col(group_col)
    x = F.round(F.col(value_col).cast("double"), 9)
    base = df.filter(x.isNotNull() & g.isin(list(group_order))).select(
        g.alias("__g"), x.alias("__x")
    )
    hist = base.groupBy("__x").pivot("__g", list(group_order)).count()
    cols = [F.coalesce(F.col(f"`{gv}`"), F.lit(0)).alias(f"__c{i}")
            for i, gv in enumerate(group_order)]
    hist = hist.select("__x", *cols)
    w_lt = Window.orderBy("__x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_cum = hist.select(
        "__x",
        *[F.col(f"__c{i}") for i in range(k)],
        *[
            F.coalesce(F.sum(f"__c{i}").over(w_lt), F.lit(0)).alias(
                f"__lt{i}"
            )
            for i in range(k)
        ],
    )
    # JT contribution at value v: sum over ordered pairs i<j of
    # c_j(v) * (below_i(v) + c_i(v)/2)
    jt_term = None
    for i in range(k):
        for j in range(i + 1, k):
            term = F.col(f"__c{j}") * (
                F.col(f"__lt{i}") + F.col(f"__c{i}") / 2.0
            )
            jt_term = term if jt_term is None else jt_term + term
    pooled_t = None
    for i in range(k):
        pooled_t = (
            F.col(f"__c{i}")
            if pooled_t is None
            else pooled_t + F.col(f"__c{i}")
        )
    red = with_cum.agg(
        F.round(F.sum(jt_term), 6).alias("jt_stat"),
        *[
            F.sum(F.col(f"__c{i}")).alias(f"__n{i}")
            for i in range(k)
        ],
        F.sum(pooled_t * (pooled_t - 1) * (2 * pooled_t + 5)).alias(
            "__t2535"
        ),
        F.sum(pooled_t * (pooled_t - 1) * (pooled_t - 2)).alias(
            "__t012"
        ),
        F.sum(pooled_t * (pooled_t - 1)).alias("__t01"),
    )
    n_total = None
    sum_sq = None
    sum_2535 = None
    sum_012 = None
    sum_01 = None
    for i in range(k):
        ni = F.col(f"__n{i}").cast("double")
        n_total = ni if n_total is None else n_total + ni
        sq = ni * ni
        sum_sq = sq if sum_sq is None else sum_sq + sq
        a = ni * (ni - 1) * (2 * ni + 5)
        sum_2535 = a if sum_2535 is None else sum_2535 + a
        b = ni * (ni - 1) * (ni - 2)
        sum_012 = b if sum_012 is None else sum_012 + b
        c01 = ni * (ni - 1)
        sum_01 = c01 if sum_01 is None else sum_01 + c01
    nn = n_total
    mean_jt = F.round((nn * nn - sum_sq) / 4.0, 6)
    term1 = (
        nn * (nn - 1) * (2 * nn + 5) - sum_2535 - F.col("__t2535")
    ) / 72.0
    term2 = (sum_012 * F.col("__t012")) / (
        36.0 * nn * (nn - 1) * (nn - 2)
    )
    term3 = (sum_01 * F.col("__t01")) / (8.0 * nn * (nn - 1))
    var_jt = term1 + term2 + term3
    staged = red.select(
        nn.cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        "jt_stat",
        mean_jt.alias("mean_jt"),
        F.round(F.sqrt(var_jt), 6).alias("sigma_jt"),
    )
    z = F.when(
        F.col("sigma_jt") > 0,
        F.round(
            (F.col("jt_stat") - F.col("mean_jt")) / F.col("sigma_jt"),
            6,
        ),
    )
    return staged.select("*", z.alias("z"))


def cochran_armitage(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_order: list[str],
    scores: list[float] | None = None,
) -> DataFrame:
    """Cochran–Armitage trend test — the BINARY-outcome counterpart of
    :func:`jonckheere_terpstra` (that one needs a continuous response;
    this is the dose-response standard for proportions — "does the
    conversion RATE rise across tiers?"):
    ``z = Σ sᵢ(aᵢ − nᵢp̄) / √(p̄(1−p̄)·(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N))``
    with aᵢ the per-level successes and sᵢ the level scores
    (default 0..k−1; pass real doses when levels are quantitative).

    Scale shape: ONE conditional aggregate to k level rows (the
    scores are plan literals keyed by level), one reduce, scalar
    arithmetic — degenerate pools (p̄ ∈ {0,1}) or zero score spread
    yield NULL z via lazy CASE.

    Returns one row: (n, k, p_pool, t_stat, z) where t_stat is the
    score-weighted deviation Σ sᵢ(aᵢ − nᵢp̄).
    """
    k = len(group_order)
    if k < 3:
        raise ValueError(
            f"group_order needs >= 3 ordered levels, got {k}"
        )
    if scores is None:
        scores = [float(i) for i in range(k)]
    if len(scores) != k:
        raise ValueError(
            f"scores must match group_order length {k}, got {len(scores)}"
        )
    g = F.col(group_col)
    y = F.col(success_col).cast("double")
    score = F.create_map(
        *[
            lit
            for gv, s in zip(group_order, scores)
            for lit in (F.lit(gv), F.lit(float(s)))
        ]
    )[g]
    per = (
        df.filter(y.isNotNull() & g.isin(list(group_order)))
        .groupBy(g.alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(y).alias("__a"),
            F.max(score).alias("__s"),
        )
    )
    red = per.agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__a").alias("__sa"),
        F.sum(F.col("__s") * F.col("__a")).alias("__ssa"),
        F.sum(F.col("__s") * F.col("__n")).alias("__ssn"),
        F.sum(F.col("__s") * F.col("__s") * F.col("__n")).alias(
            "__ss2n"
        ),
    )
    nn = F.col("n").cast("double")
    p = F.round(F.col("__sa") / nn, 9)
    t = F.round(F.col("__ssa") - p * F.col("__ssn"), 6)
    var = p * (1.0 - p) * (
        F.col("__ss2n") - F.col("__ssn") * F.col("__ssn") / nn
    )
    staged = red.select(
        "n",
        "k",
        F.round(p, 6).alias("p_pool"),
        t.alias("t_stat"),
        F.round(F.sqrt(var), 6).alias("__sd"),
    )
    z = F.when(
        F.col("__sd") > 0,
        F.round(F.col("t_stat") / F.col("__sd"), 6),
    )
    return staged.select("n", "k", "p_pool", "t_stat", z.alias("z"))


def ordinal_association(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_order: list[str],
    col_order: list[str],
) -> DataFrame:
    """EXACT ordinal association for two categorical ordinal
    variables — Goodman–Kruskal gamma and both Somers' D directions —
    from concordant/discordant pair counts over the contingency grid
    (the ordinal complement of :func:`~.descriptive.kendall_tau`,
    which ranks continuous columns):
    ``γ = (C−D)/(C+D)``; ``D_{Y|X} = (C−D)/(C+D+T_Y)`` with T_Y the
    pairs tied on Y only (and symmetrically for ``D_{X|Y}``).

    Scale shape: the corpus collapses to the (k_r × k_c) cell grid in
    ONE hash aggregate; C/D/ties are dimension-bounded sums over
    grid-cell pairs UNROLLED as plan constants (both orders are
    parameters) — at most (k_r·k_c)² literal terms, no join and no
    shuffle beyond the first aggregate.

    Returns one row: (n, n_concordant, n_discordant, ties_row,
    ties_col, gamma, somers_d_col_given_row, somers_d_row_given_col),
    each ratio NULL-guarded on a zero denominator.
    """
    kr, kc = len(row_order), len(col_order)
    if kr < 2 or kc < 2:
        raise ValueError("row_order and col_order each need >= 2 levels")
    r = F.col(row_col)
    c = F.col(col_col)
    per = (
        df.filter(r.isin(list(row_order)) & c.isin(list(col_order)))
        .groupBy(r.alias("__r"), c.alias("__c"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # one row per observed cell -> pivot to a single row of kr*kc
    # literal cell counts via conditional sums
    cells = per.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("__r") == rv) & (F.col("__c") == cv),
                        F.col("__n"),
                    )
                ),
                F.lit(0),
            ).alias(f"__x_{i}_{j}")
            for i, rv in enumerate(row_order)
            for j, cv in enumerate(col_order)
        ]
    )

    def cell(i, j):
        return F.col(f"__x_{i}_{j}")

    conc = None
    disc = None
    ties_r = None
    ties_c = None
    total = None
    for i in range(kr):
        for j in range(kc):
            total = cell(i, j) if total is None else total + cell(i, j)
            for i2 in range(kr):
                for j2 in range(kc):
                    if i2 > i and j2 > j:
                        t = cell(i, j) * cell(i2, j2)
                        conc = t if conc is None else conc + t
                    elif i2 > i and j2 < j:
                        t = cell(i, j) * cell(i2, j2)
                        disc = t if disc is None else disc + t
            # ties on row (same row, different col), each pair once
            for j2 in range(j + 1, kc):
                t = cell(i, j) * cell(i, j2)
                ties_r = t if ties_r is None else ties_r + t
            for i2 in range(i + 1, kr):
                t = cell(i, j) * cell(i2, j)
                ties_c = t if ties_c is None else ties_c + t
    staged = cells.select(
        total.cast("long").alias("n"),
        conc.cast("long").alias("n_concordant"),
        disc.cast("long").alias("n_discordant"),
        ties_r.cast("long").alias("ties_row"),
        ties_c.cast("long").alias("ties_col"),
    )
    cd = (F.col("n_concordant") + F.col("n_discordant")).cast("double")
    diff = (F.col("n_concordant") - F.col("n_discordant")).cast(
        "double"
    )
    gamma = F.when(cd > 0, F.round(diff / cd, 6))
    # D_{col|row}: ties on the ROW variable (col differs) stay in the
    # denominator? No — Somers' D_{Y|X} adds pairs tied on Y ONLY.
    # Here Y = col: pairs tied on col only = ties_col.
    d_col = F.when(
        cd + F.col("ties_col") > 0,
        F.round(diff / (cd + F.col("ties_col")), 6),
    )
    d_row = F.when(
        cd + F.col("ties_row") > 0,
        F.round(diff / (cd + F.col("ties_row")), 6),
    )
    return staged.select(
        "*",
        gamma.alias("gamma"),
        d_col.alias("somers_d_col_given_row"),
        d_row.alias("somers_d_row_given_col"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """SEASONAL Mann–Kendall (Hirsch–Slack) — the :func:`mann_kendall`
    variant that doesn't mistake seasonality for trend: compare only
    like-with-like months (S and its variance computed per calendar
    month, then SUMMED), so a sawtooth annual cycle contributes
    nothing and a genuine multi-year drift accumulates across all 12
    strata.

    Implementation: one composite-key delegation to
    :func:`mann_kendall` (group ⊗ month — the within-season pair join
    shuffles once on that key), then a per-group reduce of the
    seasonal S and Var(S); z applies the same ±1 continuity
    correction.

    Returns one row per group: (group, n, n_seasons, s_stat, var_s, z).
    """
    sep = "\x1f"
    staged = df.filter(
        F.col(group_col).isNotNull() & F.col(time_col).isNotNull()
    ).withColumn(
        "__gs",
        F.concat_ws(
            sep,
            F.col(group_col),
            F.month(F.col(time_col)).cast("string"),
        ),
    )
    per_season = mann_kendall(staged, "__gs", time_col, value_col)
    parts = F.split(F.col("__gs"), sep)
    red = (
        per_season.select(
            parts.getItem(0).alias("__grp"),
            "n",
            "s_stat",
            "var_s",
        )
        .groupBy(F.col("__grp").alias(group_col))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_seasons"),
            F.sum("s_stat").cast("long").alias("s_stat"),
            F.round(F.sum("var_s"), 6).alias("var_s"),
        )
    )
    s = F.col("s_stat")
    sd = F.sqrt(F.col("var_s"))
    z = F.when(F.col("var_s") <= 0, None).otherwise(
        F.when(s > 0, F.round((s - 1) / sd, 6))
        .when(s < 0, F.round((s + 1) / sd, 6))
        .otherwise(F.lit(0.0))
    )
    return red.select(
        group_col, "n", "n_seasons", "s_stat", "var_s", z.alias("z")
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman-optimal sample allocation — "how should a labeling
    budget split across sources?": stratum i gets
    ``n_i ∝ N_i·σ_i`` (big AND internally-diverse strata deserve more
    labels; a huge but homogeneous stratum needs few), integerized by
    LARGEST REMAINDER so the allocations sum to ``total_n`` exactly,
    then capped at the stratum's population (a saturated stratum
    undershoots the total — reallocation is an iterative waterfall,
    deliberately out of scope and documented).

    Scale shape: one per-stratum moments aggregate, one
    dimension-bounded window for the remainder ranking — the corpus
    is scanned once.  Zero-variance / single-row strata carry weight
    0 (they need one look, not a sample — cap-aware callers add it).

    Returns one row per stratum: (stratum, n_pop, sd, weight, ideal,
    n_alloc).
    """
    if total_n < 1:
        raise ValueError(f"total_n must be >= 1, got {total_n}")
    st = F.col(stratum_col)
    x = F.col(value_col).cast("double")
    per = (
        df.filter(st.isNotNull() & x.isNotNull())
        .groupBy(st.alias(stratum_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pop"),
            F.round(
                F.coalesce(F.stddev_samp(x), F.lit(0.0)), 6
            ).alias("sd"),
        )
    )
    w = F.round(F.col("n_pop") * F.col("sd"), 6)
    staged = per.select("*", w.alias("weight"))
    w_all = Window.partitionBy()
    tot_w = F.sum("weight").over(w_all)
    ideal = F.when(
        tot_w > 0,
        F.round(F.lit(float(total_n)) * F.col("weight") / tot_w, 6),
    ).otherwise(F.lit(0.0))
    staged = staged.select("*", ideal.alias("ideal"))
    base = F.floor(F.col("ideal")).cast("long")
    frac = F.col("ideal") - base
    staged = staged.select(
        "*", base.alias("__base"), frac.alias("__frac")
    )
    rem = F.lit(int(total_n)) - F.sum("__base").over(w_all)
    rank = F.row_number().over(
        Window.orderBy(F.col("__frac").desc(), F.col(stratum_col).asc())
    )
    alloc = F.col("__base") + (rank <= rem).cast("long")
    return staged.select(
        stratum_col,
        "n_pop",
        "sd",
        "weight",
        "ideal",
        F.least(alloc, F.col("n_pop")).alias("n_alloc"),
    )


def kupiec_pof(
    df: DataFrame,
    violation_col: str,
    p_expected: float,
) -> DataFrame:
    """Kupiec proportion-of-failures VaR backtest — "is the risk model
    honest?": given a breach indicator series (loss exceeded the
    stated VaR) and the model's claimed exceedance probability p, the
    likelihood ratio
    ``LR = −2·ln[(1−p)^{n−x} p^x] + 2·ln[(1−x/n)^{n−x} (x/n)^x]``
    is χ²(1) under a correctly calibrated model — too MANY breaches
    means understated risk, too FEW means capital wasted.

    The statistic is computed in log space throughout (no underflow at
    production n); the boundary cases x=0 and x=n use the exact limit
    (the x·ln(x/n) term vanishes).  Statistic+dof convention — no χ²
    CDF in-plan.

    Scale shape: ONE aggregate (n, x), scalar arithmetic after.

    Returns one row: (n, n_breaches, rate, p_expected, lr_pof, dof).
    """
    if not 0 < p_expected < 1:
        raise ValueError(
            f"p_expected must be in (0, 1), got {p_expected}"
        )
    p = float(p_expected)
    import math as _m

    v = F.col(violation_col).cast("int")
    agg = df.filter(v.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("n_breaches"),
    )
    n = F.col("n").cast("double")
    x = F.col("n_breaches").cast("double")
    rate = F.round(x / n, 6)
    # null log-likelihood: (n-x)ln(1-p) + x ln p
    ll0 = (n - x) * F.lit(_m.log(1.0 - p)) + x * F.lit(_m.log(p))
    # alternative at the MLE x/n, with 0*ln(0) = 0 at the boundaries
    ll1 = (
        F.when(x < n, (n - x) * F.log(1.0 - x / n)).otherwise(F.lit(0.0))
        + F.when(x > 0, x * F.log(x / n)).otherwise(F.lit(0.0))
    )
    lr = F.when(n > 0, F.round(-2.0 * (ll0 - ll1), 6))
    return agg.select(
        "n",
        "n_breaches",
        rate.alias("rate"),
        F.round(F.lit(p), 6).alias("p_expected"),
        lr.alias("lr_pof"),
        F.lit(1).cast("long").alias("dof"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score —
    ``Brier = RELIABILITY − RESOLUTION + UNCERTAINTY`` — the readout
    that says WHY a probabilistic model scores what it scores:
    reliability (calibration gap, lower better), resolution (how much
    the forecasts actually separate outcomes, higher better), and
    uncertainty (the base rate's irreducible floor).  The
    decomposition view of the same bins :func:`ece_calibration`
    summarizes.

    Bins are equal-width on [0,1] (``floor(p·k)`` clamped, the
    standard Murphy binning); the identity holds exactly for BINNED
    forecasts, and the residual within-bin variance term (the
    within-bin forecast spread) is emitted so the audit can verify
    ``brier = rel − res + unc + wb`` to rounding.

    Scale shape: one (bin)-keyed aggregate (k rows), one reduce.

    Returns one row: (n, base_rate, brier, reliability, resolution,
    uncertainty, within_bin_var).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    k = int(n_bins)
    pr = F.col(prob_col).cast("double")
    y = F.col(outcome_col).cast("double")
    base = df.filter(
        pr.isNotNull() & y.isNotNull() & (pr >= 0) & (pr <= 1)
    ).select(
        F.least(F.floor(pr * k).cast("int"), F.lit(k - 1)).alias(
            "__b"
        ),
        pr.alias("__p"),
        y.alias("__y"),
    )
    # Every sum is exact: each row's and each bin's term is cast to a
    # decimal before it is summed, so no output depends on the order in
    # which partitions merge.  Double sums do: on the lineitem fixture
    # at sf0.01 the Brier score is exactly 0.3332215, a rounding tie,
    # and a double sum lands on either side of it.
    def exact(c):
        return c.cast("decimal(38,18)")

    p, yy = F.col("__p"), F.col("__y")
    bins = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(exact(p)).alias("__sp"),
        F.sum(exact(yy)).alias("__sy"),
        F.sum(exact(p * p)).alias("__spp"),
        F.sum(exact((p - yy) * (p - yy))).alias("__sbs"),
    )
    n = F.col("__n")
    fp = F.col("__sp").cast("double") / n
    oy = F.col("__sy").cast("double") / n
    fp2 = F.col("__spp").cast("double") / n
    red = bins.agg(
        F.sum(n).cast("long").alias("n"),
        F.sum("__sy").alias("__so"),
        F.sum("__sbs").alias("__sbs"),
        F.sum(exact(n * (fp - oy) * (fp - oy))).alias("__srel"),
        F.sum(exact(n * (fp2 - fp * fp))).alias("__swb"),
        F.sum(exact(n * oy * oy)).alias("__so2w"),
    )

    def mean(total, digits):
        return F.round(F.col(total) / F.col("n"), digits)

    obar = mean("__so", 9).cast("double")
    res = F.round(
        F.col("__so2w").cast("double") / F.col("n")
        - 2 * obar * F.col("__so").cast("double") / F.col("n")
        + obar * obar,
        6,
    )
    return red.select(
        "n",
        F.round(obar, 6).alias("base_rate"),
        mean("__sbs", 6).cast("double").alias("brier"),
        mean("__srel", 6).cast("double").alias("reliability"),
        res.alias("resolution"),
        F.round(obar * (1.0 - obar), 6).alias("uncertainty"),
        mean("__swb", 6).cast("double").alias("within_bin_var"),
    )


def bradley_terry(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    iters: int = 20,
    max_items: int = 200,
) -> DataFrame:
    """Bradley–Terry preference strengths from pairwise outcomes — the
    model behind RLHF preference data, ranker A/B duels, and matchup
    tables: item i beats j with probability ``πᵢ/(πᵢ+πⱼ)``; strengths
    come from the standard MM update
    ``πᵢ ← Wᵢ / Σ_j N_ij/(πᵢ+πⱼ)`` (Hunter 2004), normalized to mean 1
    each round.

    Determinism discipline (the PCA-power-iteration precedent,
    ``similarity.pca_power_component``): the corpus collapses IN-PLAN
    to the k×k win-count cell table (one hash aggregate — the only
    thing that touches data scale); the k²-bounded cell table is a
    control-plane collect (``max_items`` cap raises rather than
    pulling an unbounded item set); a FIXED iteration count with every
    πᵢ re-rounded to 9 decimals per round keeps the unrolled SQL twin
    walking the identical sequence; final strengths rounded to 6.
    Items with zero wins converge to strength → 0 (reported, not
    dropped); win counts are integers so both engines start exact.

    Returns one row per item: (item, n_wins, n_games, strength),
    strengths mean-1 normalized.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w = F.col(winner_col).cast("string")
    l_ = F.col(loser_col).cast("string")
    valid = df.filter(w.isNotNull() & l_.isNotNull() & (w != l_))
    cells = (
        valid.groupBy(w.alias("__w"), l_.alias("__l"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # Cap check runs IN-PLAN before anything is collected: a
    # high-cardinality item column must raise here, never reach the
    # driver.  The probe derives from the already-aggregated cell
    # table (persisted, so the corpus is scanned exactly once —
    # previously the probe re-executed the raw `valid` plan, doubling
    # the upstream cost per call); limit(max_items+1) bounds the
    # distinct output so the probe adds O(max_items) work on top of
    # the one materialization.  MEMORY_AND_DISK: on a cap violation
    # the cell table can approach the pair cardinality, which must
    # spill rather than OOM before the raise fires.
    from pyspark import StorageLevel

    cells = persist(cells, StorageLevel.MEMORY_AND_DISK)
    try:
        probe = (
            cells.select(F.col("__w").alias("__it"))
            .union(cells.select(F.col("__l").alias("__it")))
            .distinct()
            .limit(max_items + 1)
            .count()
        )
        if probe > max_items:
            raise ValueError(
                f"bradley_terry is capped at {max_items} items "
                f"(got >{max_items}); aggregate items first"
            )
        rows = cells.collect()
    finally:
        release(cells)
    items = sorted({r["__w"] for r in rows} | {r["__l"] for r in rows})
    idx = {it: i for i, it in enumerate(items)}
    k = len(items)
    wins = [[0] * k for _ in range(k)]  # wins[i][j]: i beat j
    for r in rows:
        wins[idx[r["__w"]]][idx[r["__l"]]] += int(r["__n"])
    n_games = [
        [wins[i][j] + wins[j][i] for j in range(k)] for i in range(k)
    ]
    w_tot = [sum(wins[i]) for i in range(k)]
    g_tot = [sum(n_games[i]) for i in range(k)]
    pi = [1.0] * k
    for _ in range(int(iters)):
        new = []
        for i in range(k):
            den = sum(
                n_games[i][j] / (pi[i] + pi[j])
                for j in range(k)
                if j != i and n_games[i][j] > 0
            )
            new.append(w_tot[i] / den if den > 0 else 0.0)
        mean = sum(new) / k if k else 1.0
        pi = [round(v / mean, 9) if mean > 0 else 0.0 for v in new]
    spark = df.sparkSession
    out = [
        (items[i], w_tot[i], g_tot[i], round(pi[i], 6))
        for i in range(k)
    ]
    return spark.createDataFrame(
        out, "item string, n_wins long, n_games long, strength double"
    )


def weibull_fit_mrr(
    df: DataFrame, group_col: str, life_col: str
) -> DataFrame:
    """Weibull (shape, scale) fit by MEDIAN-RANK REGRESSION — the
    reliability engineer's standard for complete failure data
    (component lifetimes, time-to-churn, job-runtime tails): plot
    ``ln(−ln(1−F̂))`` against ``ln t`` with Benard's median ranks
    ``F̂ᵢ = (i−0.3)/(n+0.4)`` and read shape k off the slope
    (k < 1 infant mortality, k ≈ 1 memoryless, k > 1 wear-out) and
    scale λ = exp(−intercept/k).

    Median-rank regression (not MLE) is deliberate: closed-form OLS,
    no iterative solver, engine-deterministic — the same reasoning as
    :func:`gumbel_return_levels`.

    Scale shape: one rank window per group (series grain — lifetimes
    are per-entity aggregates, thousands per group) + one OLS moments
    aggregate; groups need ≥ 3 positive lifetimes (else NULL fit).

    Returns one row per group: (group, n, shape, scale, r2).
    """
    g = F.col(group_col)
    t = F.col(life_col).cast("double")
    base = df.filter(g.isNotNull() & t.isNotNull() & (t > 0)).select(
        g.alias("__g"), t.alias("__t")
    )
    w_rank = Window.partitionBy("__g").orderBy(
        F.col("__t").asc()
    )
    w_grp = Window.partitionBy("__g")
    staged = (
        base.withColumn("__i", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_grp))
        .select(
            "__g",
            F.log("__t").alias("__x"),
            F.log(
                -F.log(
                    1.0
                    - (F.col("__i") - 0.3) / (F.col("__n") + 0.4)
                )
            ).alias("__y"),
        )
    )
    mom = staged.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("__x").alias("__mx"),
        F.avg("__y").alias("__my"),
        F.avg(F.col("__x") * F.col("__y")).alias("__mxy"),
        F.avg(F.col("__x") * F.col("__x")).alias("__mx2"),
        F.avg(F.col("__y") * F.col("__y")).alias("__my2"),
    )
    vx = F.col("__mx2") - F.col("__mx") * F.col("__mx")
    vy = F.col("__my2") - F.col("__my") * F.col("__my")
    cov = F.col("__mxy") - F.col("__mx") * F.col("__my")
    shape = F.when((F.col("n") >= 3) & (vx > 0), F.round(cov / vx, 6))
    staged2 = mom.select(group_col, "n", shape.alias("shape"),
                         "__mx", "__my", cov.alias("__cov"),
                         vx.alias("__vx"), vy.alias("__vy"))
    scale = F.when(
        F.col("shape").isNotNull() & (F.col("shape") > 0),
        F.round(
            F.exp(
                -(F.col("__my") - F.col("shape") * F.col("__mx"))
                / F.col("shape")
            ),
            6,
        ),
    )
    r2 = F.when(
        F.col("shape").isNotNull() & (F.col("__vy") > 0),
        F.round(
            F.col("__cov") * F.col("__cov")
            / (F.col("__vx") * F.col("__vy")),
            6,
        ),
    )
    return staged2.select(
        group_col, "n", "shape", scale.alias("scale"), r2.alias("r2")
    )


def chao1_richness(
    df: DataFrame, group_col: str, token_col: str
) -> DataFrame:
    """Chao1 richness estimator — "how much vocabulary haven't we
    crawled yet?": from the observed type count V and the singleton/
    doubleton counts F1/F2, the asymptotic vocabulary size is
    ``Chao1 = V + F1²/(2·F2)`` (bias-corrected form
    ``V + F1(F1−1)/2`` when F2 = 0) — the capture-recapture
    complement of the Good–Turing ``unseen_mass`` row: unseen mass
    says what PROBABILITY is missing, Chao1 says how many TYPES.

    Scale shape: one (group, token) count, one frequency-of-frequency
    collapse, one reduce — the classic two-stack histogram.

    Returns one row per group: (group, n_tokens, v_observed, f1, f2,
    chao1, coverage) where coverage = V / Chao1.
    """
    g = F.col(group_col)
    t = F.col(token_col)
    counts = (
        df.filter(g.isNotNull() & t.isNotNull())
        .groupBy(g.alias("__g"), t.alias("__t"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    red = counts.groupBy(F.col("__g").alias(group_col)).agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("v_observed"),
        F.sum((F.col("__c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    v = F.col("v_observed").cast("double")
    chao = F.round(
        F.when(F.col("f2") > 0, v + f1 * f1 / (2.0 * f2)).otherwise(
            v + f1 * (f1 - 1.0) / 2.0
        ),
        6,
    )
    staged = red.select("*", chao.alias("chao1"))
    cov = F.when(
        F.col("chao1") > 0,
        F.round(F.col("v_observed") / F.col("chao1"), 6),
    )
    return staged.select("*", cov.alias("coverage"))


def storey_qvalue(
    df: DataFrame,
    p_col: str,
    group_cols: list[str] | None = None,
    lambda_: float = 0.5,
    alpha: float = 0.05,
) -> DataFrame:
    """Storey's q-values — :func:`bh_adjust` with the null proportion
    ESTIMATED instead of assumed 1: ``π̂₀ = #{p > λ} / ((1−λ)·m)``
    (capped at 1), then ``q = π̂₀ · q_BH``.  When many tests are
    genuinely non-null, BH is conservative by exactly the 1/π₀ factor
    this recovers — more discoveries at the same FDR.

    Scale shape: one extra per-family conditional aggregate (the
    p > λ count) riding a window over :func:`bh_adjust`'s output —
    still statistic-table-sized.

    Adds: (rank, pi0, q_value, reject) with Storey semantics.
    """
    if not 0 < lambda_ < 1:
        raise ValueError(f"lambda_ must be in (0, 1), got {lambda_}")
    group_cols = group_cols or []
    base = bh_adjust(df, p_col, group_cols=group_cols, alpha=alpha)
    w_all = Window.partitionBy(*group_cols)
    m = F.max("rank").over(w_all).cast("double")
    tail = F.sum(
        (F.col(p_col) > F.lit(float(lambda_))).cast("long")
    ).over(w_all)
    pi0 = F.round(
        F.least(
            tail.cast("double") / (F.lit(1.0 - float(lambda_)) * m),
            F.lit(1.0),
        ),
        6,
    )
    staged = base.withColumn("pi0", pi0)
    q = F.round(
        F.least(F.col("q_value") * F.col("pi0"), F.lit(1.0)), 6
    )
    return (
        staged.withColumn("q_value", q)
        .withColumn("reject", F.col("q_value") <= F.lit(float(alpha)))
    )


def moods_median(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Mood's median test across k groups — the bluntest, most
    assumption-free location test (only the ABOVE/BELOW-pooled-median
    dichotomy is used, so extreme outliers and wild distributional
    differences can't corrupt it; Kruskal–Wallis is more powerful
    when its assumptions hold, this is the robustness floor):
    ``χ² = Σ_i (aᵢ − nᵢ·A/N)² / (nᵢ·A/N·(1−A/N))``-style contingency
    χ² on the k×2 above/at-or-below table, χ²(k−1).

    The pooled median is the exact lower-median order statistic
    (``quantile_disc`` semantics) via the histogram cumsum — shuffle
    = distinct values; values EQUAL to the median count as "below"
    (documented; the standard grand-median convention).

    Scale shape: one value-histogram cumsum for the median, one
    conditional group aggregate, one reduce.

    Returns one row: (n, k, grand_median, chi2, dof).
    """
    g = F.col(group_col)
    x = F.round(F.col(value_col).cast("double"), 9)
    # NOTE (r13 optimization round): an eager checkpoint of base was
    # tried here (it feeds both the histogram and the flagging pass)
    # and measured 1.3x SLOWER in two independent full-bench samples —
    # the "second pass" is a cheap column-pruned parquet re-scan,
    # while materializing the row-grain projection is real work.
    # Keep the lazy double reference.
    base = df.filter(g.isNotNull() & x.isNotNull()).select(
        g.alias("__g"), x.alias("__x")
    )
    hist = base.groupBy("__x").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(Window.partitionBy())
    )
    med = cum.filter(
        F.col("__cum") >= F.ceil(F.col("__n") / 2.0)
    ).agg(F.min("__x").alias("__med"))
    flagged = base.crossJoin(F.broadcast(med)).select(
        "__g", (F.col("__x") > F.col("__med")).cast("int").alias("__ab"),
        F.col("__med"),
    )
    per = flagged.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__ni"),
        F.sum("__ab").alias("__ai"),
        F.max("__med").alias("__med"),
    )
    red = per.agg(
        F.sum("__ni").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ai").alias("__a"),
        F.max("__med").alias("__medv"),
        F.sum(
            F.col("__ai").cast("double") * F.col("__ai")
            / F.col("__ni")
        ).alias("__sq"),
    )
    nn = F.col("n").cast("double")
    p = F.col("__a") / nn
    chi2 = F.when(
        (p > 0) & (p < 1),
        F.round(
            (F.col("__sq") - F.col("__a") * p) / (p * (1.0 - p)),
            6,
        ),
    )
    return red.select(
        "n",
        "k",
        F.round(F.col("__medv"), 6).alias("grand_median"),
        chi2.alias("chi2"),
        (F.col("k") - 1).cast("long").alias("dof"),
    )


def page_trend(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    value_col: str,
    treatment_order: list[str],
) -> DataFrame:
    """Page's L trend test — :func:`friedman_test` with a DIRECTION:
    when the k paired treatments carry a known order (model versions,
    dose tiers scored on the same blocks), Page's
    ``L = Σ_j s_j·R_j`` (s_j = 1..k, R_j the Friedman rank sums) is
    strictly more powerful than Friedman's any-difference χ².
    Normal approximation:
    ``μ_L = n·k(k+1)²/4``, ``σ²_L = n·k²(k+1)²(k−1)/144``.

    Blocks rank with AVERAGE ranks for ties (the Friedman
    convention); only complete blocks count, excluded ones reported.

    Scale shape (r13 optimization round): identical pivot shape to
    :func:`friedman_test` — ONE wide per-item aggregate
    (``round(avg(value), 6)`` per ordered arm), average ranks as
    plain expressions over the k pivoted columns, and ONE scalar
    reduce producing n_items / n_excluded / L together.  The previous
    form ran the cell collapse plus TWO driver-side count() jobs plus
    a qualified-block join plus two rank windows; the pivot removes
    all of them (guide §2.3/§2.4) with bit-identical arithmetic
    (ranks are exact half-integers; μ_L/σ_L move in-plan unchanged —
    same IEEE ops on the same integers).

    Returns one row: (n_items, n_excluded, k, l_stat, mean_l,
    sigma_l, z).
    """
    k = len(treatment_order)
    if k < 3:
        raise ValueError(
            f"treatment_order needs >= 3 ordered treatments, got {k}"
        )
    t = F.col(treatment_col)
    v = F.col(value_col).cast("double")
    wide = (
        df.filter(
            F.col(item_col).isNotNull()
            & t.isin(list(treatment_order))
            & v.isNotNull()
        )
        .groupBy(F.col(item_col).alias("__it"))
        .agg(
            *[
                F.round(F.avg(F.when(t == F.lit(tv), v)), 6).alias(
                    f"__v{j}"
                )
                for j, tv in enumerate(treatment_order)
            ]
        )
    )
    cols = [F.col(f"__v{j}") for j in range(k)]
    ok = sum(c.isNotNull().cast("int") for c in cols) == k

    def block_rank(j: int) -> F.Column:
        below = sum(
            (cols[l] < cols[j]).cast("int") for l in range(k) if l != j
        )
        ties = sum((cols[l] == cols[j]).cast("int") for l in range(k))
        return F.lit(1.0) + below.cast("double") + (ties - 1) / 2.0

    # L contribution of one complete block: Σ_j s_j · avg_rank_j
    l_term = sum(
        F.lit(float(j + 1)) * block_rank(j) for j in range(k)
    )
    red = wide.select(
        ok.cast("int").alias("__ok"),
        F.when(ok, l_term).alias("__l"),
    ).agg(
        F.sum("__ok").cast("long").alias("n_items"),
        (F.count(F.lit(1)) - F.sum("__ok")).cast("long").alias(
            "n_excluded"
        ),
        F.round(F.sum("__l"), 6).alias("l_stat"),
    )
    n_d = F.col("n_items").cast("double")
    mean_l = n_d * k * (k + 1) ** 2 / 4.0
    var_l = n_d * k**2 * (k + 1) ** 2 * (k - 1) / 144.0
    staged = red.select(
        "n_items",
        "n_excluded",
        F.lit(k).cast("long").alias("k"),
        "l_stat",
        F.round(mean_l, 6).alias("mean_l"),
        F.round(F.sqrt(var_l), 6).alias("sigma_l"),
    )
    z = F.when(
        F.col("sigma_l") > 0,
        F.round(
            (F.col("l_stat") - F.col("mean_l")) / F.col("sigma_l"), 6
        ),
    )
    return staged.select("*", z.alias("z"))


def g_test(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """G-test (log-likelihood ratio) of independence — the χ²'s
    information-theoretic twin: ``G = 2·Σ O·ln(O/E)``; additive
    across partitions of the table (χ² is not), equal to
    ``2N·MI(nats)`` — the bridge between the contingency-test family
    and the `mutual_information` row.  Zero cells contribute 0 (the
    O·ln O limit).

    Scale shape: identical to ``chi_square_assoc`` — one contingency
    aggregate, margins derived from the cell table, scalar reduce.

    Returns one row: (n, k_a, k_b, g_stat, dof).
    """
    a = F.col(a_col)
    b = F.col(b_col)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    w_all = Window.partitionBy()
    staged = cells.select(
        "__a",
        "__b",
        "__o",
        F.sum("__o").over(wa).alias("__ra"),
        F.sum("__o").over(wb).alias("__cb"),
        F.sum("__o").over(w_all).alias("__n"),
    )
    e = (
        F.col("__ra").cast("double")
        * F.col("__cb")
        / F.col("__n")
    )
    term = F.col("__o") * F.log(F.col("__o") / e)
    red = staged.agg(
        F.max("__n").cast("long").alias("n"),
        F.countDistinct("__a").cast("long").alias("k_a"),
        F.countDistinct("__b").cast("long").alias("k_b"),
        F.round(2.0 * F.sum(term), 6).alias("g_stat"),
    )
    return red.select(
        "n",
        "k_a",
        "k_b",
        "g_stat",
        ((F.col("k_a") - 1) * (F.col("k_b") - 1))
        .cast("long")
        .alias("dof"),
    )


def cohens_h(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Cohen's h — the EFFECT SIZE for two proportions (the
    :func:`two_proportion_ztest` says whether rates differ; h says
    whether anyone should CARE): ``h = 2·arcsin√p₁ − 2·arcsin√p₂``,
    the variance-stabilized difference, with the conventional
    small/medium/large bands 0.2/0.5/0.8.

    Scale shape: ONE conditional aggregate, arcsine arithmetic after;
    empty arms yield NULL via lazy CASE.

    Returns one row: (n_a, n_b, p_a, p_b, h, magnitude).
    """
    g = F.col(group_col)
    y = F.col(success_col).cast("double")
    agg = df.filter(
        y.isNotNull() & g.isin([group_a, group_b])
    ).agg(
        F.count(F.when(g == group_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(g == group_b, 1)).cast("long").alias("n_b"),
        F.round(F.avg(F.when(g == group_a, y)), 6).alias("p_a"),
        F.round(F.avg(F.when(g == group_b, y)), 6).alias("p_b"),
    )
    h = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.round(
            2.0 * F.asin(F.sqrt(F.col("p_a")))
            - 2.0 * F.asin(F.sqrt(F.col("p_b"))),
            6,
        ),
    )
    staged = agg.select("*", h.alias("h"))
    mag = F.when(F.col("h").isNull(), None).otherwise(
        F.when(F.abs(F.col("h")) < 0.2, "negligible")
        .when(F.abs(F.col("h")) < 0.5, "small")
        .when(F.abs(F.col("h")) < 0.8, "medium")
        .otherwise("large")
    )
    return staged.select("*", mag.alias("magnitude"))
