"""Distributed statistics operators.

Exact percentiles at scale without object-hash aggregation: Spark's
built-in ``percentile`` (exact) and ``approx_percentile`` both run as
TypedImperativeAggregate — per-row JVM-object buffer updates outside
whole-stage codegen, which is the dominant cost on wide scans.  For
grouped percentiles over columns whose distinct-value count is far
below the row count (quantities, prices, scores — the common case),
the histogram formulation is both exact and codegen-friendly:

1. ``groupBy(group, value).count()`` — a codegen hash aggregate with
   map-side partial combine; shuffle volume = distinct values, not
   rows;
2. a per-group window over the (small) histogram accumulates ranks;
3. the interpolated percentile is two conditional aggregates
   (the values bracketing rank ``1 + (n-1)p``) + arithmetic.

Semantics match SQL ``percentile_cont`` / DuckDB ``quantile_cont`` /
Spark ``percentile`` exactly: linear interpolation at fractional rank
``(n-1) * p``.

Scale note: step 2 sorts each group's DISTINCT values through one
partition.  That is the right trade when distinct values per group are
bounded (enumerable measures); for unbounded high-cardinality measures
at extreme scale, the mergeable-sketch path (``approx_percentile`` with
an accuracy picked for rank error ``n / accuracy``) is the swap — same
output columns, documented per-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ...scope import checkpoint


def group_percentiles_exact(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: dict[str, float],
) -> DataFrame:
    """Exact interpolated percentiles per group via the histogram
    formulation (module docstring).  ``percentiles`` maps output column
    name -> p in [0, 1].  Returns one row per group.

    NULLs in ``value_col`` are excluded, matching the aggregate
    functions this replaces.
    """
    for name, p in percentiles.items():
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {name}={p} outside [0, 1]")
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*group_cols)
    hist = hist.withColumn("__cum", F.sum("__cnt").over(w_cum)).withColumn(
        "__n", F.sum("__cnt").over(w_all)
    )

    aggs = []
    v = F.col(value_col).cast("double")
    lo_rank_of = lambda k: F.floor(k) + 1  # noqa: E731 — 1-based ranks
    for name, p in percentiles.items():
        # fractional rank k = (n-1)*p; the histogram row holding rank r
        # is the one with cum-cnt < r <= cum
        k = (F.col("__n") - 1) * F.lit(float(p))
        lo_r = lo_rank_of(k)
        hi_r = F.ceil(k) + 1
        covers = lambda r: (F.col("__cum") - F.col("__cnt") < r) & (  # noqa: E731
            F.col("__cum") >= r
        )
        lo_val = F.max(F.when(covers(lo_r), v))
        hi_val = F.max(F.when(covers(hi_r), v))
        frac = F.max(k - F.floor(k))
        aggs.append((lo_val + frac * (hi_val - lo_val)).alias(name))
    return hist.groupBy(*group_cols).agg(*aggs)


def mad_filter(
    df: DataFrame,
    value_col: str,
    n_sigmas: float = 3.0,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust outlier filter by Median Absolute Deviation: keep rows
    with ``|x - median(x)| <= n_sigmas * 1.4826 * MAD`` (1.4826 scales
    MAD to the stddev of a normal distribution), the standard
    length/score outlier gate that, unlike mean±k·stddev, is not
    itself dragged by the outliers it is removing.

    Adds ``robust_z`` (rounded, 6 dp) to the surviving rows.

    Scale shape: two tiny scalar aggregates (median, then MAD of the
    broadcast median) cross-joined back as single-row broadcasts — the
    corpus itself is scanned narrow and never shuffled.  Exact
    ``percentile`` is interpolation-identical to DuckDB
    ``quantile_cont``; over integer-valued columns every intermediate
    (median, deviations, MAD) is an exact half-integer, so the filter
    boundary cannot drift across engines.  At extreme scale swap the
    two medians for ``approx_percentile`` (mergeable sketch), same
    shape.
    """
    med = df.select(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    dev = df.crossJoin(F.broadcast(med)).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = dev.select(F.expr("percentile(__dev, 0.5)").alias("__mad"))
    scaled = dev.crossJoin(F.broadcast(mad))
    # degenerate MAD == 0 (a majority-constant column) disables the
    # gate entirely: there is no robust scale to measure against, and
    # "drop everything off the median" would silently discard data on
    # exactly the columns least likely to have outliers
    keep = (F.col("__mad") == 0) | (
        F.col("__dev") <= F.lit(n_sigmas) * F.lit(consistency) * F.col("__mad")
    )
    robust_z = F.when(
        F.col("__mad") > 0, F.col("__dev") / (F.lit(consistency) * F.col("__mad"))
    ).otherwise(F.lit(0.0))
    return (
        scaled.filter(keep)
        .withColumn("robust_z", F.round(robust_z, 6))
        .drop("__med", "__dev", "__mad")
    )


def group_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (OLS of y on x): slope,
    intercept, R², and the pair count — trend extraction over a fact
    table as ONE codegen hash aggregate.

    Uses the SQL-standard ``regr_*`` aggregate family (Spark ≥ 3.4,
    also in DuckDB/Postgres/Trino), which runs map-side partial
    aggregation like any sum — shuffle volume is groups × constant
    state, never rows, so the shape is identical to a group-by count
    at 100 TB.  Rows where either coordinate is NULL are excluded per
    the standard.  Results are rounded in-plan so cross-engine float
    summation order can't flip a digest.
    """
    return df.groupBy(*group_cols).agg(
        F.round(F.regr_slope(F.col(y_col), F.col(x_col)), round_to).alias("slope"),
        F.round(F.regr_intercept(F.col(y_col), F.col(x_col)), round_to).alias(
            "intercept"
        ),
        F.round(F.regr_r2(F.col(y_col), F.col(x_col)), round_to).alias("r2"),
        F.regr_count(F.col(y_col), F.col(x_col)).alias("n_pairs"),
    )


def chi_square_assoc(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V effect size — the drift/association check
    run between e.g. language and source when composing a corpus mix.

    Scale shape: ONE contingency aggregate on (a, b) — map-side
    combined to at most |A|x|B| cells — then margins derived FROM the
    cell table (category-count sized, broadcast back), so the raw data
    is scanned exactly once and everything after is dimension-sized.
    The statistic is assembled from plain integer counts in double
    arithmetic, so an oracle reproduces it exactly.

    Returns one row: (n, dof, chi2, cramers_v).
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("a").alias("ka"),
        F.count_distinct("b").alias("kb"),
    )
    joined = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
    )
    expected = F.col("ra").cast("double") * F.col("cb") / F.col("n")
    term = F.pow(F.col("o") - expected, 2) / expected
    return joined.groupBy("n", "ka", "kb").agg(
        F.round(F.sum(term), 6).alias("chi2")
    ).select(
        "n",
        ((F.col("ka") - 1) * (F.col("kb") - 1)).alias("dof"),
        "chi2",
        F.round(
            F.when(
                F.least(F.col("ka") - 1, F.col("kb") - 1) > 0,
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * F.least(F.col("ka") - 1, F.col("kb") - 1))
                ),
            ),
            6,
        ).alias("cramers_v"),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
) -> DataFrame:
    """Equi-width histogram of a numeric column: data-derived [min,
    max] split into ``bins`` buckets, the top edge inclusive (the
    max lands in the last bin, standard histogram convention).

    Scale shape: one scalar min/max aggregate broadcast back, then one
    |bins|-keyed count aggregate with map-side partials — two scans,
    no sort, no window; empty bins are absent (callers needing dense
    axes join a sequence).  Bin edges are computed with the same
    double arithmetic on any engine, so bucket assignment is
    reproducible.  Returns (bin, lo, hi, n).
    """
    v = F.col(value_col).cast("double")
    bounds = df.agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / bins
    bin_id = F.least(
        F.floor((v - F.col("__lo")) / width).cast("int"), F.lit(bins - 1)
    )
    return (
        df.select(v.alias(value_col))
        .filter(v.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            # guard the computed width, not hi == lo: a subnormal range
            # divided by bins underflows to 0.0 (ANSI: DIVIDE_BY_ZERO)
            F.when(width == 0, F.lit(0))
            .otherwise(bin_id)
            .alias("bin"),
            "__lo",
            "__hi",
        )
        .groupBy("bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.col("__lo") + F.col("bin") * (F.col("__hi") - F.col("__lo")) / bins, 6).alias("lo"),
            F.round(F.col("__lo") + (F.col("bin") + 1) * (F.col("__hi") - F.col("__lo")) / bins, 6).alias("hi"),
            "n",
        )
    )


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` as tidy (col_a,
    col_b, corr) rows for a < b — ONE aggregate pass computes every
    pair (k(k-1)/2 corr expressions fused into a single scan; never a
    job per pair), then the scalar row unpivots via stack.
    """
    if len(cols) < 2:
        raise ValueError(
            f"corr_matrix needs at least 2 columns, got {len(cols)}"
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    agg_row = df.agg(
        *[
            F.round(F.corr(F.col(a).cast("double"), F.col(b).cast("double")), 6).alias(
                f"__c_{i}"
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', __c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return agg_row.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Winsorization: clamp ``value_col`` to its per-group exact
    [lo_q, hi_q] quantiles — the standard heavy-tail taming step
    before means/regressions on skewed measures.

    Scale shape: the quantile table comes from
    :func:`group_percentiles_exact` (histogram formulation — the
    shuffle carries distinct values, not rows) and is GROUP-COUNT
    sized, so it broadcasts back onto a narrow clamp projection; the
    raw data is scanned twice (quantiles, clamp) and never fully
    sorted — only each group's distinct-value histogram is.  Returns
    the input columns plus ``{value_col}_w`` (clamped) and the bounds.
    """
    qs = group_percentiles_exact(
        df, group_cols, value_col, {"__qlo": lo_q, "__qhi": hi_q}
    )
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(qs), group_cols)
        .select(
            *df.columns,
            F.col("__qlo").alias("lo_bound"),
            F.col("__qhi").alias("hi_bound"),
            F.least(F.greatest(v, F.col("__qlo")), F.col("__qhi")).alias(
                f"{value_col}_w"
            ),
        )
    )


def benford_first_digit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive measure vs
    Benford's law — the classic fabricated-data / unit-mixing smell
    test for financial and count columns.

    Scale shape: the digit is pure arithmetic (floor(v / 10^floor(
    log10 v)) — no string casts), then ONE 9-row count aggregate;
    expected Benford mass is a literal.  Returns per digit (digit, n,
    observed_p, expected_p, chi2_term); sum(chi2_term) is the test
    statistic.
    """
    v = F.col(value_col).cast("double")
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    counts = (
        df.filter(v > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__t"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__t"), 6).alias("observed_p"),
            F.round(expected, 6).alias("expected_p"),
            F.round(
                F.pow(F.col("n") - expected * F.col("__t"), 2)
                / (expected * F.col("__t")),
                6,
            ).alias("chi2_term"),
        )
    )


def gini_concentration(
    counts: DataFrame, count_col: str = "cnt"
) -> DataFrame:
    """Gini coefficient of a count distribution (0 = perfectly even,
    →1 = all mass on one item) — the one-number summary of vocabulary
    or domain concentration that decides whether capping/mixing is
    needed.

    Scale shape: the input is an already-COLLAPSED count table (one
    row per item — vocabulary/domain sized, not corpus sized), so the
    rank window over ascending counts is bounded by the item count;
    the Gini identity G = (2·Σ(i·cᵢ))/(n·Σcᵢ) − (n+1)/n needs exactly
    that one ordered pass.  Ties are ordered deterministically by
    count (the identity is tie-order invariant: swapping equal counts
    leaves Σ(i·cᵢ) unchanged).  Returns one row (n_items, total,
    gini).
    """
    ranked = counts.select(
        F.col(count_col).cast("double").alias("__c")
    ).withColumn(
        "__i", F.row_number().over(Window.orderBy(F.col("__c").asc()))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("__c").cast("long").alias("total"),
        F.round(
            2.0 * F.sum(F.col("__i") * F.col("__c"))
            / (F.count(F.lit(1)) * F.sum("__c"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


def cusum_drift(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """CUSUM-style drift summary per key: the running sum of
    deviations from the key's own mean, reported as the maximum
    absolute excursion in sigma·sqrt(n) units plus when it peaked —
    a level-shift detector for metric streams (the no-reset Page
    statistic; under a stable mean the normalized excursion stays
    O(1), a sustained shift grows it linearly).

    Scale shape: one (key → mean/std/n) aggregate broadcast back,
    one running-sum window per key (the engine's running_sum shape),
    one max-by aggregate — no self-joins, no per-key collect.
    Keys with fewer than 2 observations or zero variance are excluded
    (the statistic is undefined).  Returns (key, n, mean, sigma,
    max_drift_sigmas, peak_ts).
    """
    v = F.col(value_col).cast("double")
    stats_tbl = (
        df.groupBy(F.col(key_col).alias("__k"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg(v).alias("__mu"),
            F.stddev_pop(v).alias("__sd"),
        )
        .filter((F.col("__n") >= 2) & (F.col("__sd") > 0))
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = (
        df.select(
            F.col(key_col).alias("__k"),
            F.col(ts_col),
            F.col(id_col),
            v.alias("__v"),
        )
        .join(F.broadcast(stats_tbl), "__k")
        .withColumn("__s", F.sum(F.col("__v") - F.col("__mu")).over(w))
        .withColumn(
            "__drift",
            F.abs("__s") / (F.col("__sd") * F.sqrt(F.col("__n"))),
        )
    )
    peak = F.struct(
        F.col("__drift"), F.col(ts_col), F.col(id_col)
    )
    return staged.groupBy(F.col("__k").alias(key_col)).agg(
        F.max("__n").alias("n"),
        F.round(F.max("__mu"), 6).alias("mean"),
        F.round(F.max("__sd"), 6).alias("sigma"),
        F.round(F.max("__drift"), 6).alias("max_drift_sigmas"),
        F.max_by(F.col(ts_col), peak).alias("peak_ts"),
    )


def pr_threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    decimals: int = 2,
) -> DataFrame:
    """Precision/recall/F1 at every candidate decision threshold —
    the calibration sweep run before fixing a quality-classifier
    cutoff (e.g. choosing where ``model_quality_filter``'s gate
    goes).  Thresholds are the DISTINCT scores rounded to
    ``decimals``; at each threshold t the classifier is
    ``score >= t``.

    Scale shape: the corpus collapses to a (bucket, n_pos, n_neg)
    table FIRST — one hash aggregate with map-side partials; the
    cumulative TP/FP window then runs over at most
    ``10^decimals``-ish rows (score-bucket cardinality, not corpus
    rows), so the unpartitioned ORDER BY window is bounded by
    construction, never corpus-sized.  Returns one row per threshold:
    (threshold, tp, fp, fn, precision, recall, f1), descending-
    cumulative semantics (tp at t counts every positive scoring
    >= t).
    """
    # floor-based bucketing (lower edge), not round(): Spark rounds
    # HALF_UP while other engines round half-away-from-zero on
    # doubles — a .005-boundary score must not land in different
    # buckets under the oracle
    scale = float(10 ** decimals)
    b = F.floor(F.col(score_col).cast("double") * scale) / scale
    lab = F.col(label_col).cast("boolean")
    buckets = (
        df.filter(b.isNotNull() & lab.isNotNull())
        .select(b.alias("threshold"), lab.alias("__y"))
        .groupBy("threshold")
        .agg(
            F.sum(F.col("__y").cast("long")).alias("__pos"),
            F.sum((~F.col("__y")).cast("long")).alias("__neg"),
        )
    )
    # bounded window: |buckets| rows, not corpus rows
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    tp = F.sum("__pos").over(w)
    fp = F.sum("__neg").over(w)
    all_pos = F.sum("__pos").over(tot)
    return buckets.select(
        "threshold",
        tp.alias("tp"),
        fp.alias("fp"),
        (all_pos - tp).alias("fn"),
        F.round(tp / (tp + fp), 6).alias("precision"),
        F.round(tp / all_pos, 6).alias("recall"),
        F.round(2 * tp / (tp + fp + all_pos), 6).alias("f1"),
    )


def ks_2sample(
    df: DataFrame,
    split_col: str,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the rows
    where ``split_col`` is true and the rest: D = max |CDF_a - CDF_b|
    over the observed values — the standard distribution-drift check
    between corpus slices (a new crawl vs the corpus, one source vs
    the rest) that a mean/variance comparison misses entirely.

    Returns one row: (n_a, n_b, ks_stat, ks_at, ks_lambda) — the
    statistic, the value where the gap peaks (smallest such value on
    ties), and the sample-size-scaled ``D * sqrt(n_a n_b / (n_a+n_b))``
    that significance tables index.

    Scale shape: the corpus collapses to a (value, n_a, n_b) table
    FIRST — one hash aggregate with map-side partials; the CDF window
    and the final max then run over DISTINCT values, never rows, so
    the unpartitioned ORDER BY window is bounded by value cardinality
    (enumerable measures — lengths, scores, counts — by construction).
    All arithmetic is exact integer counts until the final division,
    so an oracle reproduces D bit-for-bit.
    """
    s = F.col(split_col).cast("boolean")
    buckets = (
        df.filter(s.isNotNull() & F.col(value_col).isNotNull())
        .select(F.col(value_col).alias("__v"), s.alias("__s"))
        .groupBy("__v")
        .agg(
            F.sum(F.col("__s").cast("long")).alias("__a"),
            F.sum((~F.col("__s")).cast("long")).alias("__b"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = buckets.select(
        "__v",
        F.sum("__a").over(w).alias("__ca"),
        F.sum("__b").over(w).alias("__cb"),
        F.sum("__a").over(tot).alias("__na"),
        F.sum("__b").over(tot).alias("__nb"),
    )
    gap = F.abs(
        F.col("__ca") / F.col("__na") - F.col("__cb") / F.col("__nb")
    )
    peak = cum.select(
        "__na",
        "__nb",
        gap.alias("__gap"),
        F.col("__v").alias("__at"),
    )
    d = F.max("__gap")
    return peak.groupBy("__na", "__nb").agg(
        F.round(d, 6).alias("ks_stat"),
        # min over (-gap, at): the highest gap, smallest value on ties
        F.min_by(
            "__at", F.struct((-F.col("__gap")).alias("ng"), F.col("__at"))
        ).alias("ks_at"),
        F.round(
            d
            * F.sqrt(
                F.col("__na").cast("double")
                * F.col("__nb")
                / (F.col("__na") + F.col("__nb"))
            ),
            6,
        ).alias("ks_lambda"),
    ).select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        "ks_stat",
        "ks_at",
        "ks_lambda",
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC of ``score_col`` against boolean ``label_col``
    via the rank-sum (Mann–Whitney U) identity, with standard
    average-rank tie handling (ties credit 0.5) — the
    threshold-independent companion of :func:`pr_threshold_sweep`
    when judging a quality classifier before picking a cutoff.

    Scale shape: one hash aggregate collapses the corpus to
    (score, n_pos, n_neg); average ranks come from a cumulative
    window over DISTINCT scores (bounded by score cardinality, never
    rows); the AUC is one more tiny aggregate.  Integer-exact until
    the final division.  Returns one row: (n_pos, n_neg, auc).
    """
    lab = F.col(label_col).cast("boolean")
    buckets = (
        df.filter(lab.isNotNull() & F.col(score_col).isNotNull())
        .select(F.col(score_col).alias("__v"), lab.alias("__y"))
        .groupBy("__v")
        .agg(
            F.sum(F.col("__y").cast("long")).alias("__a"),
            F.sum((~F.col("__y")).cast("long")).alias("__b"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    c = F.sum(F.col("__a") + F.col("__b")).over(w)
    avg_rank = c - (F.col("__a") + F.col("__b") - 1) / 2.0
    ranked = buckets.select(
        F.col("__a"),
        avg_rank.alias("__r"),
        F.sum("__a").over(tot).alias("__na"),
        F.sum("__b").over(tot).alias("__nb"),
    )
    u = F.sum(F.col("__a") * F.col("__r")) - F.max("__na") * (
        F.max("__na") + 1
    ) / 2.0
    return ranked.groupBy().agg(
        F.max("__na").alias("n_pos"),
        F.max("__nb").alias("n_neg"),
        F.round(u / (F.max("__na") * F.max("__nb")), 6).alias("auc"),
    )


def roc_auc_distributed(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """:func:`roc_auc` with the cumulative-rank window replaced by the
    distributed two-phase prefix sum (``windows.global_cumsum``) —
    bit-identical AUC, but no single-task stage.

    :func:`roc_auc`'s unpartitioned window is bounded by score
    CARDINALITY, which is fine for bucketed/rounded scores but becomes
    a one-core bottleneck when scores are near-continuous (cardinality
    ~ corpus rows — e.g. a float model score at full precision).  This
    form range-partitions the distinct-score table, computes
    per-partition running totals, and stitches with broadcast offsets;
    every stage is parallel.  Same integer-exact arithmetic, same
    one-row result, same oracle.
    """
    from ..windows import global_cumsum

    lab = F.col(label_col).cast("boolean")
    buckets = (
        df.filter(lab.isNotNull() & F.col(score_col).isNotNull())
        .select(F.col(score_col).alias("__v"), lab.alias("__y"))
        .groupBy("__v")
        .agg(
            F.sum(F.col("__y").cast("long")).alias("__a"),
            F.sum((~F.col("__y")).cast("long")).alias("__b"),
        )
        .withColumn("__t", F.col("__a") + F.col("__b"))
    )
    cum = global_cumsum(buckets, [F.col("__v").asc()], {"__t": "__c"})
    totals = buckets.agg(
        F.sum("__a").alias("__na"), F.sum("__b").alias("__nb")
    )
    ranked = cum.crossJoin(F.broadcast(totals)).select(
        "__a",
        (F.col("__c") - (F.col("__a") + F.col("__b") - 1) / 2.0).alias("__r"),
        "__na",
        "__nb",
    )
    u = F.sum(F.col("__a") * F.col("__r")) - F.max("__na") * (
        F.max("__na") + 1
    ) / 2.0
    return ranked.groupBy().agg(
        F.max("__na").alias("n_pos"),
        F.max("__nb").alias("n_neg"),
        F.round(u / (F.max("__na") * F.max("__nb")), 6).alias("auc"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between two named
    groups — the standard A/B significance check when variances (and
    sizes) differ, which they always do in practice.

    Scale shape: ONE conditional hash aggregate over the corpus
    (count/mean/sample-variance per arm via ``when`` columns, map-side
    partial combine), then pure arithmetic on the one-row result —
    no shuffle beyond the final single-row reduce, no window, no
    second scan.

    Cross-engine determinism: the per-arm moments are rounded to 6
    decimals FIRST, then t and the Welch–Satterthwaite dof are
    computed from the rounded moments — so an oracle computing the
    same way agrees exactly despite engine-order-dependent double
    summation.  Returns one row: (n_a, n_b, mean_a, mean_b, t_stat,
    dof).
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
    sa = F.col("__va") / F.col("n_a")
    sb = F.col("__vb") / F.col("n_b")
    se2 = sa + sb
    dof = (se2 * se2) / (
        (sa * sa) / (F.col("n_a") - 1) + (sb * sb) / (F.col("n_b") - 1)
    )
    return m.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2), 4
        ).alias("t_stat"),
        F.round(dof, 2).alias("dof"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann–Whitney U rank-sum test between two named groups — the
    distribution-free sibling of :func:`welch_t_test` (no normality
    assumption; what you reach for on heavy-tailed engagement or
    latency metrics).  Average-rank tie handling and the
    tie-corrected normal approximation for the z statistic.

    Scale shape: the same distinct-value collapse as :func:`roc_auc`
    — one hash aggregate to (value, n_a, n_b) buckets, a cumulative
    window bounded by VALUE CARDINALITY (never rows) for average
    ranks, then one tiny aggregate.  Integer-exact (ranks are
    multiples of 0.5) until the final z division, so any engine
    agrees.  Returns one row: (n_a, n_b, u_stat, z_score).
    """
    v = F.col(value_col)
    g = F.col(group_col)
    buckets = (
        df.filter(v.isNotNull() & g.isin(group_a, group_b))
        .select(v.alias("__v"), g.alias("__g"))
        .groupBy("__v")
        .agg(
            F.sum((F.col("__g") == F.lit(group_a)).cast("long")).alias("__a"),
            F.sum((F.col("__g") == F.lit(group_b)).cast("long")).alias("__b"),
        )
        .withColumn("__t", F.col("__a") + F.col("__b"))
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    avg_rank = F.sum("__t").over(w) - (F.col("__t") - 1) / 2.0
    ranked = buckets.select(
        "__a", "__b", "__t", avg_rank.alias("__r")
    )
    na = F.sum("__a")
    nb = F.sum("__b")
    n = na + nb
    r_a = F.sum(F.col("__a") * F.col("__r"))
    tie = F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
    u_a = r_a - na * (na + 1) / 2.0
    var = (
        na.cast("double") * nb / 12.0
        * ((n + 1) - tie / (n.cast("double") * (n - 1)))
    )
    return ranked.groupBy().agg(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(u_a, 1).alias("u_stat"),
        F.round((u_a - na.cast("double") * nb / 2.0) / F.sqrt(var), 6).alias(
            "z_score"
        ),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error: scores in
    [0, 1] bucket into ``bins`` equal-width bins; each bin reports its
    count, mean predicted score, observed positive rate, and gap —
    completing the classifier triad (threshold sweep, AUC, and now
    "are the scores themselves honest probabilities").  Every row also
    carries ``ece`` (Σ n_b/N · |avg − frac|), the scalar a model
    monitor alerts on.

    Scale shape: ONE hash aggregate collapses the corpus to ≤ bins
    rows; everything after (the totals window, ECE) is bin-table
    sized.  Bin ids come from ``floor(score · bins)`` clamped to the
    top bin — exact integer arithmetic, so the oracle lands on the
    same bins.
    """
    lab = F.col(label_col).cast("boolean")
    s = F.col(score_col).cast("double")
    bin_id = F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    bk = (
        df.filter(lab.isNotNull() & s.isNotNull())
        .select(
            bin_id.alias("bin"),
            # micro-unit integers: scores arrive 6-dp rounded, so the
            # bin mean sums EXACT integers — double summation order
            # differs across engines and flipped a 6-dp round at the
            # .5 ulp boundary in testing
            F.round(s * 1_000_000).cast("long").alias("__su"),
            lab.alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("__su") / F.count(F.lit(1)) / 1e6).alias("__avg"),
            F.avg(F.col("__y").cast("double")).alias("__frac"),
        )
    )
    tot = Window.partitionBy()
    gap = F.abs(F.col("__avg") - F.col("__frac"))
    return bk.select(
        "bin",
        "n",
        F.round("__avg", 6).alias("avg_score"),
        F.round("__frac", 6).alias("frac_pos"),
        F.round(gap, 6).alias("gap"),
        F.round(
            F.sum(F.col("n") * gap).over(tot) / F.sum("n").over(tot), 6
        ).alias("ece"),
    )


def confusion_metrics(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 from (actual, predicted)
    label pairs — the classifier-QC summary layer over a confusion
    matrix (language-ID audits, quality-gate model checks).

    Scale shape: the corpus collapses to |classes|² confusion cells
    in ONE hash aggregate; every per-class total then derives from
    the CELLS table — each cell explodes into its actual-side and
    predicted-side contribution and ONE more tiny aggregate sums
    them, so the corpus is scanned exactly once and no branch
    re-reads it.  Classes that only ever appear on one side still get
    a row (the other side's counts are 0).  Ratios guard their zero
    denominators explicitly (NULL, identically on any engine — never
    an engine-specific inf).  Returns (cls, n_actual, n_pred,
    n_correct, precision, recall, f1).
    """
    cells = (
        df.filter(
            F.col(actual_col).isNotNull() & F.col(pred_col).isNotNull()
        )
        .groupBy(
            F.col(actual_col).alias("__a"), F.col(pred_col).alias("__p")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    hit = F.when(F.col("__a") == F.col("__p"), F.col("__n")).otherwise(
        F.lit(0)
    )
    contrib = cells.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("__a").alias("cls"),
                    F.col("__n").alias("__na"),
                    F.lit(0).cast("long").alias("__np"),
                    hit.alias("__nc"),
                ),
                F.struct(
                    F.col("__p").alias("cls"),
                    F.lit(0).cast("long").alias("__na"),
                    F.col("__n").alias("__np"),
                    F.lit(0).cast("long").alias("__nc"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    per = contrib.groupBy("cls").agg(
        F.sum("__na").alias("n_actual"),
        F.sum("__np").alias("n_pred"),
        F.sum("__nc").alias("n_correct"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("n_correct") / F.col("n_pred")
    )
    rec = F.when(
        F.col("n_actual") > 0, F.col("n_correct") / F.col("n_actual")
    )
    return per.select(
        "cls",
        "n_actual",
        "n_pred",
        "n_correct",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(
                prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
                2 * prec * rec / (prec + rec),
            ),
            6,
        ).alias("f1"),
    )


def per_group_ks(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov sweep: each group's
    value distribution against the REST of the corpus — the grouped
    form of :func:`ks_2sample` (one row per source/domain/batch
    instead of one split), the standard "which corpus slice drifted"
    audit.

    Scale shape: ONE (group, value) hash aggregate collapses the
    corpus; the dense |groups|×|values| grid derives from that cell
    table (the same dense-grid construction as the per-source KL
    operator — CDFs must be comparable at every observed value, so
    missing cells materialize as zeros); CDFs are cumulative windows
    partitioned per group over the bounded value axis; the rest-side
    CDF comes from (total − group) counts, so no second corpus pass.
    All CDW fractions are single divisions of exact longs — identical
    on any IEEE engine.  Returns (group, n_group, n_rest, ks_stat,
    ks_at).
    """
    cells = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    vals = cells.groupBy("__v").agg(F.sum("__n").alias("__t"))
    groups = cells.groupBy("__g").agg(F.sum("__n").alias("__ng"))
    dense = (
        vals.crossJoin(groups)
        .join(cells, ["__g", "__v"], "left")
        .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0)))
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("__g")
    # total corpus count: sum of __t across the value axis (each group
    # partition sees every value exactly once)
    n_all = F.sum("__t").over(tot)
    cum = dense.select(
        "__g",
        "__v",
        "__ng",
        F.sum("__n").over(w).alias("__cg"),
        F.sum("__t").over(w).alias("__ct"),
        n_all.alias("__nall"),
    )
    gap = F.abs(
        F.col("__cg") / F.col("__ng")
        - (F.col("__ct") - F.col("__cg"))
        / (F.col("__nall") - F.col("__ng"))
    )
    peaked = cum.select(
        F.col("__g"),
        F.col("__ng"),
        (F.col("__nall") - F.col("__ng")).alias("__nr"),
        gap.alias("__gap"),
        F.col("__v").alias("__at"),
    )
    return peaked.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("__ng").alias("n_group"),
        F.max("__nr").alias("n_rest"),
        F.round(F.max("__gap"), 6).alias("ks_stat"),
        F.min_by(
            "__at", F.struct((-F.col("__gap")).alias("ng"), F.col("__at"))
        ).alias("ks_at"),
    )


def weighted_percentile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str],
    num: int = 1,
    den: int = 2,
) -> DataFrame:
    """Per-group weighted percentile with EXACT integer selection: the
    smallest value whose cumulative weight reaches ``num/den`` of the
    group's total weight (defaults = weighted median).  Token-weighted
    median document quality, order-volume-weighted price medians —
    anywhere rows represent unequal masses.

    Weights must be integral (cast upstream): the pick condition is
    ``den * cum_weight >= num * total_weight`` in long arithmetic, so
    there is no floating-point threshold anywhere and every engine
    agrees on the selected row bit-for-bit.

    Scale shape: duplicate values collapse FIRST (groupBy value —
    cumulative cardinality is bounded by distinct values per group,
    not rows), then one key-partitioned window for the running weight
    and a single min over the qualifying values.  Two shuffles on the
    group key, no global sort.
    """
    v, w = F.col(value_col), F.col(weight_col).cast("long")
    per_value = df.groupBy(*group_cols, v.alias("__v")).agg(
        F.sum(w).alias("__w")
    )
    win = Window.partitionBy(*group_cols).orderBy(F.col("__v").asc())
    tot = Window.partitionBy(*group_cols)
    cum = per_value.select(
        *group_cols,
        "__v",
        F.sum("__w").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "__cum"
        ),
        F.sum("__w").over(tot).alias("__tot"),
    )
    return (
        cum.filter(F.lit(den) * F.col("__cum") >= F.lit(num) * F.col("__tot"))
        .groupBy(*group_cols)
        .agg(F.min("__v").alias(f"p{num}_{den}_{value_col}"))
    )


def cuped(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    arm_col: str,
) -> DataFrame:
    """CUPED variance reduction for A/B experiments (Deng et al.,
    WSDM'13, public method): adjust each arm's metric mean by the
    pooled regression of metric on a PRE-experiment covariate,
    ``mean_adj = mean_y - theta * (mean_x - mean_x_pooled)`` with
    ``theta = cov(X, Y) / var(X)`` pooled across arms.  Removes
    pre-existing user-level variance from the treatment comparison
    without biasing it (the covariate predates assignment).

    Returns one row per arm: ``(arm, n, mean_y, mean_y_adj,
    theta, var_reduction_pct)`` — the adjusted means are what a
    significance test should compare; var_reduction_pct =
    ``100 * rho²`` estimates how much metric variance the covariate
    explains (population moments).

    Scale + determinism shape: ONE hash aggregate over the corpus
    (per-arm counts and first/second moments, map-side combined);
    every moment is rounded to 6 decimals BEFORE any derivation (the
    welch_t_test discipline), so pooled theta and the adjustments are
    pure deterministic arithmetic on rounded inputs and a SQL oracle
    agrees exactly despite engine-order-dependent double summation.
    """
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    arms = df.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(x), 6).alias("__mx"),
        F.round(F.avg(y), 6).alias("__my"),
        F.round(F.avg(x * y), 6).alias("__mxy"),
        F.round(F.avg(x * x), 6).alias("__mxx"),
        F.round(F.avg(y * y), 6).alias("__myy"),
    )
    # pooled moments recombine deterministically from the rounded
    # per-arm moments (weighted by exact long counts)
    tot = Window.partitionBy()
    p = arms.select(
        "*",
        (F.sum(F.col("n") * F.col("__mx")).over(tot) / F.sum("n").over(tot)).alias(
            "__px"
        ),
        (F.sum(F.col("n") * F.col("__my")).over(tot) / F.sum("n").over(tot)).alias(
            "__py"
        ),
        (F.sum(F.col("n") * F.col("__mxy")).over(tot) / F.sum("n").over(tot)).alias(
            "__pxy"
        ),
        (F.sum(F.col("n") * F.col("__mxx")).over(tot) / F.sum("n").over(tot)).alias(
            "__pxx"
        ),
        (F.sum(F.col("n") * F.col("__myy")).over(tot) / F.sum("n").over(tot)).alias(
            "__pyy"
        ),
    )
    cov_xy = F.col("__pxy") - F.col("__px") * F.col("__py")
    var_x = F.col("__pxx") - F.col("__px") * F.col("__px")
    var_y = F.col("__pyy") - F.col("__py") * F.col("__py")
    # a constant covariate (var_x == 0 after the 6-decimal moment
    # rounding) carries no adjustment information: theta/rho2 go NULL
    # and the adjusted mean falls back to the raw mean, instead of an
    # ANSI DIVIDE_BY_ZERO.  Lazy CASE keeps the division unevaluated.
    theta = F.when(var_x > 0, cov_xy / var_x)
    rho2 = F.when(
        (var_x > 0) & (var_y > 0), (cov_xy * cov_xy) / (var_x * var_y)
    )
    return p.select(
        "arm",
        "n",
        F.col("__my").alias("mean_y"),
        F.round(
            F.col("__my")
            - F.coalesce(theta, F.lit(0.0))
            * (F.col("__mx") - F.col("__px")),
            6,
        ).alias("mean_y_adj"),
        F.round(theta, 6).alias("theta"),
        F.round(F.lit(100.0) * rho2, 4).alias("var_reduction_pct"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
) -> DataFrame:
    """Privacy audit for quasi-identifier release: every combination
    of ``quasi_cols`` whose group holds FEWER than ``k`` rows — the
    records a k-anonymity release would have to suppress or
    generalize (Sweeney's model; public method).  Empty result =
    the projection is k-anonymous.

    One hash aggregate on the quasi-identifier tuple (map-side
    combined) and a count filter; returns ``(quasi..., n)`` for the
    violating combinations.  At 100 TB the aggregate is the only
    corpus pass and its output is bounded by combination cardinality,
    which a sane quasi-identifier set keeps far below row count.
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < k)
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    split_col: str,
    base_value,
    cmp_value,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a BASE and a COMPARISON
    population of ``value_col`` — the standard scorecard drift metric:
    bin by the base population's quantiles, then
    ``PSI = Σ (p_i − q_i) · ln(p_i / q_i)``.  Returns one row per bin
    ``(bin, n_base, n_cmp, psi_term)``; total PSI = sum of terms
    (rule of thumb: < 0.1 stable, > 0.25 shifted).

    Determinism and scale come from the same move: the corpus
    collapses FIRST to per-distinct-value (base, cmp) counts — one
    hash aggregate, output bounded by value cardinality — and the bin
    index needs NO boundary join at all: with ``cum_prev`` the
    cumulative base count STRICTLY BELOW a value, the type-1 decile
    boundary identity gives
    ``bin(v) = min(bins − 1, floor(bins · cum_prev / n_base))`` —
    exact long arithmetic, tied values land wholly in one bin, no
    engine-dependent tie splitting (and no BroadcastNestedLoopJoin).
    Counts get +0.5 Laplace smoothing before the log so empty bins
    stay finite; ``psi_term`` rounds to 6 decimals for cross-engine
    hash stability.  The value-ordered window runs over the DISTINCT
    value table only — document that cardinality bound when adopting
    this on unbounded-domain columns (swap in the two-phase
    global_cumsum recipe if distinct values ever rival row count).
    """
    v = F.col(value_col)
    s = F.col(split_col)
    per_value = (
        df.filter(s.isin(base_value, cmp_value) & v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(
            F.count(F.when(s == F.lit(base_value), 1)).alias("__nb"),
            F.count(F.when(s == F.lit(cmp_value), 1)).alias("__nc"),
        )
    )
    w = Window.orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = Window.partitionBy()
    staged = per_value.select(
        "__nb",
        "__nc",
        F.coalesce(F.sum("__nb").over(w), F.lit(0)).alias("__cum_prev"),
        F.sum("__nb").over(tot).alias("__n"),
    )
    # long DIV, not floor(double /): an exact multiple must not round
    # across the integer from below.  __n = 0 (base split value matches
    # no rows — wrong label / renamed split) must not DIVIDE_BY_ZERO
    # under ANSI: the lazy CASE routes such rows to bin 0, and the
    # result is then all-zero n_base bins rather than a crashed job.
    bin_ix = F.least(
        F.lit(bins - 1).cast("long"),
        F.when(
            F.col("__n") > 0, F.expr(f"({bins} * __cum_prev) DIV __n")
        ).otherwise(F.lit(0).cast("long")),
    )
    binned = staged.groupBy(bin_ix.alias("bin")).agg(
        F.sum("__nb").alias("n_base"), F.sum("__nc").alias("n_cmp")
    )
    tb = F.sum("n_base").over(tot) + F.lit(bins) * F.lit(0.5)
    tc = F.sum("n_cmp").over(tot) + F.lit(bins) * F.lit(0.5)
    p = (F.col("n_base") + F.lit(0.5)) / tb
    q = (F.col("n_cmp") + F.lit(0.5)) / tc
    return binned.select(
        "bin",
        "n_base",
        "n_cmp",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Kaplan–Meier survival-curve estimate — the standard censoring-
    aware time-to-event summary (time-to-conversion, time-to-churn,
    hardware time-to-failure): at each distinct event time ``t_i``,
    ``S(t_i) = Π_{j ≤ i} (1 − d_j / n_j)`` where ``d_j`` counts events
    at ``t_j`` and ``n_j`` counts subjects still AT RISK (duration ≥
    ``t_j``, events and right-censored alike).

    Input is one row per subject: ``duration_col`` (numeric time on
    study) and ``event_col`` (1 = event observed, 0 = right-censored
    at that duration).  Output rows only at event times (d > 0) — the
    curve is flat elsewhere — but censored subjects still deplete the
    risk set between steps, which the cumulative-removal window
    accounts for.

    Scale shape — the psi_drift/percentiles discipline: collapse to
    the DISTINCT (group, duration) table first (one codegen hash
    aggregate with map-side combine; shuffle volume = distinct
    durations, not subjects), then run the per-group cumulative
    windows over that small table.  The cumulative product is
    ``exp(Σ ln(1 − d/n))`` — a running SUM, the only distributed-
    friendly product formulation; survival is rounded to 6 decimals
    (cross-engine ulp discipline used by source_kl).  ``d = n`` at
    the last time (everyone remaining fails) yields S = 0 exactly,
    guarded before the log.

    Returns ``(group..., duration, n_risk, n_events, survival)``.
    """
    g = list(group_cols or [])
    t = F.col(duration_col)
    collapsed = (
        df.groupBy(*g, t.alias("duration"))
        .agg(
            F.sum(F.col(event_col).cast("long")).alias("n_events"),
            F.count(F.lit(1)).alias("__removed"),
        )
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
    # running log-sum over ALL times (censoring-only rows add ln(1)=0
    # implicitly by contributing d=0), then keep only event times
    log_term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double") / F.col("n_risk")
        ),
    ).otherwise(F.lit(None))  # d == n: survival hits exactly 0
    hit_zero = F.max(
        (F.col("n_events") == F.col("n_risk")).cast("int")
    ).over(w_cum)
    return (
        staged.withColumn("__lt", log_term)
        .withColumn(
            "survival",
            F.when(hit_zero == 1, F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum("__lt").over(w_cum)), 6)
            ),
        )
        .filter(F.col("n_events") > 0)
        .select(*g, "duration", "n_risk", "n_events", "survival")
    )


def interarrival_stats(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str | None = None,
    min_gaps: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Per-key inter-arrival-time statistics — the burstiness
    fingerprint of an event stream (bot-vs-human traffic, machine
    health, purchase cadence): consecutive-event gaps in seconds,
    summarized as mean, coefficient of variation, and the Goh–
    Barabási burstiness ``B = (σ − μ)/(σ + μ)`` (−1 = perfectly
    periodic, 0 = Poisson, → 1 = extreme bursts).

    Scale shape: ONE shuffle on the key for the lag window (gaps are
    computed in-partition after the sort), then a key-keyed hash
    aggregate with map-side combine — state per key is constant.
    Keys with fewer than ``min_gaps`` gaps are dropped (σ of a single
    gap is 0/NULL noise).  Sample (n−1) standard deviation — the SQL
    standard both engines share.  Returns ``(key..., n_gaps,
    mean_gap_s, cv, burstiness)`` rounded to ``round_to``.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # TIMESTAMP_NTZ won't cast straight to double (Spark 4); hop via
    # TimestampType — the session timezone is pinned UTC by load_table,
    # and a fixed offset cancels in the subtraction anyway
    sec = F.col(ts_col).cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    gaps = df.withColumn("__gap", gap).filter(F.col("__gap").isNotNull())
    agg = gaps.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("__gap").alias("__mu"),
        F.stddev_samp("__gap").alias("__sd"),
    )
    mu, sd = F.col("__mu"), F.col("__sd")
    # a key whose events all share one timestamp has mu = sd = 0;
    # CASE branches evaluate lazily, so the ratios never divide by
    # zero under ANSI mode — such keys report NULL cv/burstiness
    defined = mu > 0
    return (
        agg.filter(F.col("n_gaps") >= min_gaps)
        .select(
            *key_cols,
            "n_gaps",
            F.round(mu, round_to).alias("mean_gap_s"),
            F.when(defined, F.round(sd / mu, round_to)).alias("cv"),
            F.when(
                defined, F.round((sd - mu) / (sd + mu), round_to)
            ).alias("burstiness"),
        )
    )


def diff_in_diff(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Difference-in-differences estimator — the workhorse quasi-
    experimental readout (feature rollout, pricing change, market
    entry): ``DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post −
    ȳ_ctrl,pre)``, i.e. the treated group's change net of the
    control group's secular trend.

    Input is one row per observation with boolean/int ``treated_col``
    and ``post_col`` flags.  ONE conditional aggregate computes all
    four cell means and counts (map-side combined, constant state) —
    never four scans.  Cell means are rounded BEFORE the DiD
    arithmetic (the cuped/welch determinism discipline) so
    cross-engine float summation order can't flip a digest.  Returns
    a single row ``(mean_treat_pre, mean_treat_post, mean_ctrl_pre,
    mean_ctrl_post, n_treat_pre, n_treat_post, n_ctrl_pre,
    n_ctrl_post, did)``.
    """
    t = F.col(treated_col).cast("boolean")
    p = F.col(post_col).cast("boolean")
    y = F.col(outcome_col).cast("double")

    def cell(tv: bool, pv: bool):
        cond = (t == tv) & (p == pv)
        return (
            F.round(F.avg(F.when(cond, y)), round_to),
            F.count(F.when(cond, F.lit(1))),
        )

    tp_m, tp_n = cell(True, False)
    tq_m, tq_n = cell(True, True)
    cp_m, cp_n = cell(False, False)
    cq_m, cq_n = cell(False, True)
    agg = df.agg(
        tp_m.alias("mean_treat_pre"),
        tq_m.alias("mean_treat_post"),
        cp_m.alias("mean_ctrl_pre"),
        cq_m.alias("mean_ctrl_post"),
        tp_n.alias("n_treat_pre"),
        tq_n.alias("n_treat_post"),
        cp_n.alias("n_ctrl_pre"),
        cq_n.alias("n_ctrl_post"),
    )
    return agg.select(
        "*",
        F.round(
            (F.col("mean_treat_post") - F.col("mean_treat_pre"))
            - (F.col("mean_ctrl_post") - F.col("mean_ctrl_pre")),
            round_to,
        ).alias("did"),
    )


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a: str,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample log-rank test — the standard "do these survival
    curves differ" readout that pairs with :func:`kaplan_meier`
    (conversion-speed A/B, churn-intervention lift): at each distinct
    event time, compare group A's OBSERVED event count with the count
    EXPECTED if both groups shared one hazard, ``E_a = n_a·d/n``;
    the statistic ``(Σ(O_a − E_a))² / ΣV`` with hypergeometric
    variance ``V = d·(n_a/n)·(n_b/n)·(n−d)/(n−1)`` is χ²(1) under
    the null.

    Scale shape — the kaplan_meier discipline: ONE collapse to the
    distinct (duration) grid carrying per-group event/removal counts
    (conditional aggregates — never a pivot shuffle), the two
    at-risk series from cumulative windows over that small grid, and
    one scalar rollup.  ``n = 1`` grid rows CASE-guard the variance
    denominator (ANSI-safe).  Returns one row ``(observed_a,
    expected_a, variance, chi2)`` with doubles rounded to
    ``round_to``; chi2 is NULL when every subject shares one
    duration-and-fate (zero variance — the test is undefined, not
    infinitely significant).
    """
    is_a = F.col(group_col) == group_a
    ev = F.col(event_col).cast("long")
    grid = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(is_a, ev).otherwise(F.lit(0))).alias("d_a"),
        F.sum(F.when(~is_a, ev).otherwise(F.lit(0))).alias("d_b"),
        F.count(F.when(is_a, F.lit(1))).alias("r_a"),
        F.count(F.when(~is_a, F.lit(1))).alias("r_b"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.partitionBy().orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )

    def at_risk(rem: str) -> F.Column:
        return F.sum(rem).over(w_all) - F.coalesce(
            F.sum(rem).over(w_prev), F.lit(0)
        )

    staged = grid.select(
        "t",
        "d_a",
        (F.col("d_a") + F.col("d_b")).alias("d"),
        at_risk("r_a").alias("n_a"),
        at_risk("r_b").alias("n_b"),
    ).withColumn("n", F.col("n_a") + F.col("n_b"))
    na, nb, n, d = (
        F.col("n_a").cast("double"),
        F.col("n_b").cast("double"),
        F.col("n").cast("double"),
        F.col("d").cast("double"),
    )
    terms = staged.filter(F.col("d") > 0).select(
        F.col("d_a").cast("double").alias("o_a"),
        (na * d / n).alias("e_a"),
        F.when(
            F.col("n") > 1,
            d * (na / n) * (nb / n) * (n - d) / (n - 1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    agg = terms.agg(
        F.round(F.sum("o_a"), round_to).alias("observed_a"),
        F.round(F.sum("e_a"), round_to).alias("expected_a"),
        F.round(F.sum("v"), round_to).alias("variance"),
    )
    return agg.select(
        "*",
        F.when(
            F.col("variance") > 0,
            F.round(
                F.pow(F.col("observed_a") - F.col("expected_a"), 2)
                / F.col("variance"),
                round_to,
            ),
        ).alias("chi2"),
    )


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    group_a: str,
    success_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Two-proportion z-test — the conversion-rate A/B readout:
    ``z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))`` with the
    pooled rate ``p̂`` under the null of equal proportions.

    ONE conditional aggregate (map-side combined, constant state)
    computes both cells; rates are rounded before the z arithmetic
    (the cuped/diff_in_diff determinism discipline).  Degenerate
    pooled rates (p̂ ∈ {0, 1} — nobody or everybody converts) yield
    NULL z via a lazy CASE, never a zero division (ANSI-safe).
    Returns one row ``(n_a, n_b, conv_a, conv_b, rate_a, rate_b,
    z)``.
    """
    is_a = F.col(group_col) == group_a
    s = F.col(success_col).cast("long")
    agg = df.agg(
        F.count(F.when(is_a, F.lit(1))).alias("n_a"),
        F.count(F.when(~is_a, F.lit(1))).alias("n_b"),
        F.coalesce(F.sum(F.when(is_a, s)), F.lit(0)).alias("conv_a"),
        F.coalesce(F.sum(F.when(~is_a, s)), F.lit(0)).alias("conv_b"),
    )
    # empty arms must yield NULL rates, not an ANSI DIVIDE_BY_ZERO —
    # the division only evaluates inside the lazy CASE branch
    with_rates = agg.select(
        "*",
        F.when(
            F.col("n_a") > 0,
            F.round(F.col("conv_a") / F.col("n_a"), round_to),
        ).alias("rate_a"),
        F.when(
            F.col("n_b") > 0,
            F.round(F.col("conv_b") / F.col("n_b"), round_to),
        ).alias("rate_b"),
    )
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se2 = pooled * (1.0 - pooled) * (
        1.0 / F.col("n_a") + 1.0 / F.col("n_b")
    )
    return with_rates.select(
        "*",
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") > 0)
            & (
                F.col("conv_a") + F.col("conv_b")
                < F.col("n_a") + F.col("n_b")
            ),
            F.round(
                (F.col("rate_a") - F.col("rate_b")) / F.sqrt(se2),
                round_to,
            ),
        ).alias("z"),
    )


def theil_index(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Theil T inequality index per group over POSITIVE values —
    ``T = (1/N) Σ (xᵢ/μ) ln(xᵢ/μ)`` (0 = perfect equality, ln N =
    maximal).  The additive-decomposability inequality measure
    (Theil 1967, public method) that complements the Gini already in
    this module.

    Scale + determinism shape: rows with ``x ≤ 0`` are excluded (the
    index is defined on positive incomes); ONE hash aggregate per
    group computes the two moments ``avg(x)`` and ``avg(x·ln x)``
    (map-side combined), each rounded to 6 decimals BEFORE deriving
    (the cuped discipline — averages stay near data magnitude, so the
    rounding is engine-order safe where raw sums are not), then
    ``T = m_xlnx/μ − ln μ`` is pure arithmetic.  A degenerate group
    (μ rounds to 0) yields NULL via a lazy CASE, never a zero
    division under ANSI.  Returns ``(group..., n, mean_value,
    theil_t)`` with theil_t rounded to 6.
    """
    gcols = group_cols or []
    x = F.col(value_col).cast("double")
    pos = df.filter(x > 0)
    agg = pos.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(x), 6).alias("__mx"),
        F.round(F.avg(x * F.log(x)), 6).alias("__mxlnx"),
    )
    t = F.when(
        F.col("__mx") > 0,
        F.col("__mxlnx") / F.col("__mx") - F.log(F.col("__mx")),
    )
    return agg.select(
        *gcols,
        "n",
        F.col("__mx").alias("mean_value"),
        F.round(t, 6).alias("theil_t"),
    )


def herfindahl_index(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group:
    ``HHI = Σ sᵢ²`` over member shares ``sᵢ = xᵢ/Σx`` (1/n = perfectly
    even, 1 = monopoly).  Input is a MEMBER-level table (one row per
    member with its total) — collapse first, the way gini_concentration
    takes a count table.

    Scale + determinism shape: two hash aggregates (group totals, then
    Σ s² after a broadcast-joinable group-total join — group count ≪
    member count by construction).  The group total is rounded to 2
    decimals before the share division (a single aggregate value;
    engine summation-order noise is orders of magnitude below the
    rounding step), and shares are O(1), so the final Σ s² rounds to 6
    safely.  A zero-total group yields NULL HHI via a lazy CASE.
    Returns ``(group..., n_members, total, hhi, equiv_n)`` where
    ``equiv_n = 1/HHI`` is the equivalent number of equal-share
    members.
    """
    gcols = group_cols or []
    x = F.col(value_col).cast("double")
    member = df.select(*gcols, x.alias("__x"))
    totals = member.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("__x"), 2).alias("total"),
    )
    joined = (
        member.join(F.broadcast(totals), gcols)
        if gcols
        else member.crossJoin(F.broadcast(totals))
    )
    s = F.when(F.col("total") > 0, F.col("__x") / F.col("total"))
    agg = joined.groupBy(*gcols).agg(
        F.max("n_members").alias("n_members"),
        F.max("total").alias("total"),
        F.round(F.sum(s * s), 6).alias("hhi"),
    )
    return agg.select(
        *gcols,
        "n_members",
        "total",
        "hhi",
        F.round(
            F.when(F.col("hhi") > 0, F.lit(1.0) / F.col("hhi")), 6
        ).alias("equiv_n"),
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    value_col: str,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
    value_round: int = 2,
) -> DataFrame:
    """Pareto / ABC inventory classification: rank keys by value
    descending, take the running share of the grand total, and label
    A (first ``a_cut`` of value), B (to ``b_cut``), C (tail) — the
    classic 80/15/5 revenue split.

    Scale shape: the running total over the GLOBAL value-descending
    order uses :func:`..windows.global_cumsum` (two-phase range
    prefix sum — every stage parallel), NOT an unpartitioned rank
    window, so the plan survives a catalog with hundreds of millions
    of keys.  The grand total is one scalar broadcast back.  Order is
    total (value DESC, key ASC) for deterministic shares on ties.

    Determinism: per-key values are rounded to ``value_round`` before
    ranking — pick the EXACT decimal precision of the metric (4 for a
    2-decimal price × 2-decimal discount factor), never coarser: the
    exact value then sits ON a rounding point, not at a half-up
    midpoint where engines disagree; cum_share rounds to 6 —
    the share is O(1) so prefix-sum float noise (≪1e-9 relative) is
    far below the rounding step.  Returns ``(key, value, cum_share,
    abc_class)``.  Zero grand total yields NULL shares / class 'C'
    via lazy CASE.
    """
    from ..windows import global_cumsum

    vals = df.select(
        F.col(key_col).alias("key"),
        F.round(F.col(value_col).cast("double"), value_round).alias("value"),
    )
    order = [F.col("value").desc(), F.col("key").asc()]
    run = global_cumsum(vals, order, {"value": "__cum"})
    total = vals.agg(F.sum("value").alias("__total"))
    out = run.crossJoin(F.broadcast(total))
    share = F.when(
        F.col("__total") > 0, F.col("__cum") / F.col("__total")
    )
    return out.select(
        "key",
        "value",
        F.round(share, 6).alias("cum_share"),
        F.when(share <= a_cut, F.lit("A"))
        .when(share <= b_cut, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def robust_zscore_anomalies(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    z_cut: float = 3.5,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Robust (median/MAD) outlier detection per group — the
    Iglewicz–Hoaglin modified z-score ``M = 0.6745·(x − med)/MAD``
    with the conventional ``|M| > 3.5`` cut.  Median-based, so a few
    extreme points cannot mask themselves the way they inflate a
    mean/stddev z-score.

    Scale shape: two grouped exact percentiles (median of x, then
    median of ``|x − med|``) — each ONE hash aggregate with Spark's
    exact ``percentile`` — joined back broadcast (group count ≪ row
    count).  A zero-MAD group (over half the values identical) yields
    no flags via lazy CASE rather than a zero division.  Returns the
    flagged rows only: ``(group..., carry..., value, median, mad,
    modified_z)`` with modified_z rounded to 6 (``carry_cols`` ride
    along unexamined — the row identifier the caller wants back).
    """
    gcols = group_cols or []
    carry = carry_cols or []
    x = F.col(value_col).cast("double")
    base = df.select(*gcols, *carry, x.alias("__x"))
    med = base.groupBy(*gcols).agg(
        F.round(F.percentile(F.col("__x"), F.lit(0.5)), 6).alias("median")
    )
    j1 = (
        base.join(F.broadcast(med), gcols)
        if gcols
        else base.crossJoin(F.broadcast(med))
    )
    mad = j1.groupBy(*gcols).agg(
        F.max("median").alias("median"),
        F.round(
            F.percentile(F.abs(F.col("__x") - F.col("median")), F.lit(0.5)),
            6,
        ).alias("mad"),
    )
    j2 = (
        base.join(F.broadcast(mad), gcols)
        if gcols
        else base.crossJoin(F.broadcast(mad))
    )
    mz = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (F.col("__x") - F.col("median")) / F.col("mad"),
    )
    return (
        j2.select(
            *gcols,
            *carry,
            F.col("__x").alias("value"),
            "median",
            "mad",
            F.round(mz, 6).alias("modified_z"),
        )
        .filter(F.abs(F.col("modified_z")) > z_cut)
    )


def autocorrelation(
    series: DataFrame,
    time_col: str,
    value_col: str,
    max_lag: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Sample autocorrelation function (ACF) at lags 1..``max_lag``
    over a REGULARLY-SPACED series (one row per group per period —
    pre-aggregate first): ``r_k = (1/n) Σ z_t·z_{t+k}`` with
    ``z = (x − μ)/σ`` standardized on the full-series population
    moments — the standard biased ACF estimator every textbook/statsm
    package uses (denominator n, not n−k).

    Scale + determinism shape: per-group moments are ONE hash
    aggregate with μ and σ rounded to 6 before standardizing (the
    cuped discipline); the lag alignment is an equi-join on
    ``(group, period + k)`` — lag-k pairs meet by key, no window sort
    over the whole series — and the z-products are O(1) so their sum
    rounds to 6 safely.  A constant series (σ = 0) yields NULL acf
    via lazy CASE.  ``time_col`` must be integer-like period numbers
    (days since epoch, hour index); gaps simply drop the straddling
    pairs.  Returns ``(group..., lag, n_pairs, acf)``.
    """
    gcols = group_cols or []
    t = F.col(time_col).cast("long")
    x = F.col(value_col).cast("double")
    base = series.select(*gcols, t.alias("__t"), x.alias("__x"))
    mom = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(F.avg("__x"), 6).alias("__mu"),
        F.round(F.stddev_pop("__x"), 6).alias("__sd"),
    )
    z = (
        base.join(F.broadcast(mom), gcols)
        if gcols
        else base.crossJoin(F.broadcast(mom))
    ).select(
        *gcols,
        "__t",
        "__n",
        F.when(
            F.col("__sd") > 0,
            (F.col("__x") - F.col("__mu")) / F.col("__sd"),
        ).alias("__z"),
    )
    lag = F.explode(
        F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
    ).alias("lag")
    # self-join disambiguation: the lagged side renames every column
    # before the join, so no lineage-shared references survive
    a = z.select(*gcols, "__t", "__z", "__n", lag).withColumn(
        "__tk", F.col("__t") + F.col("lag")
    )
    b = z.select(
        *[F.col(g).alias(f"__g_{g}") for g in gcols],
        F.col("__t").alias("__tk"),
        F.col("__z").alias("__zb"),
    )
    cond = [a["__tk"] == b["__tk"]] + [
        a[g] == b[f"__g_{g}"] for g in gcols
    ]
    paired = a.join(b, cond)
    agg = paired.groupBy(*gcols, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("__n").alias("__nn"),
        F.sum(F.col("__z") * F.col("__zb")).alias("__szz"),
    )
    return agg.select(
        *gcols,
        "lag",
        "n_pairs",
        F.round(F.col("__szz") / F.col("__nn"), 6).alias("acf"),
    )


# Poisson(1) inverse-CDF thresholds (cumulative probabilities) — the
# standard scalable-bootstrap weight distribution: at corpus scale a
# multinomial resample needs coordination, Poisson(1) weights are
# independent per row (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google TR 2012 — public method).
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)
_LEHMER_M = 2147483647  # 2^31 − 1 (Park–Miller modulus)
_LEHMER_A = 48271


def _lehmer_uniform(key: Column) -> Column:
    """Deterministic uniform in [0, 1) from an integer key — three
    rounds of the Park–Miller Lehmer LCG in plain modular BIGINT
    arithmetic.  Every step keeps intermediates ≤ a·m ≈ 1.04e14, far
    under the ANSI bigint overflow line, and the SAME expression is
    reproducible verbatim in any SQL engine (the DuckDB oracle runs
    it literally) — unlike hash built-ins, which differ per engine."""
    s = F.pmod(key, F.lit(_LEHMER_M))
    for _ in range(3):
        s = F.pmod(s * _LEHMER_A, F.lit(_LEHMER_M))
    return s.cast("double") / F.lit(float(_LEHMER_M))


def poisson_bootstrap_mean(
    df: DataFrame,
    value_col: str,
    key_col: str,
    replicates: int = 100,
    lo: float = 0.025,
    hi: float = 0.975,
) -> DataFrame:
    """Bootstrap confidence interval for the mean of an INTEGER-VALUED
    column via the Poisson bootstrap — the one bootstrap that scales:
    instead of B coordinated resamples, each row independently draws a
    Poisson(1) weight per replicate (multinomial(n, 1/n) → Poisson(1)
    as n grows), so the whole thing is one explode + one hash
    aggregate with map-side combine, no shuffle of the corpus per
    replicate.

    Weights are DETERMINISTIC: replicate b's weight for row k is the
    Poisson(1) inverse CDF at a Lehmer-LCG uniform seeded by
    ``k·B + b`` — reproducible run-to-run and engine-to-engine
    (no rand(), which would break resume and the oracle).

    Determinism note: with an integer metric every per-replicate
    ``Σ w·x`` and ``Σ w`` is an exactly-representable integer, so the
    replicate means are bit-identical across engines and the
    percentile interpolation agrees exactly — this is why the operator
    pins ``value_col`` to integral semantics (cast long).  Float
    metrics work, but cross-engine sum-order noise then limits oracle
    precision.

    Returns one row ``(n_rows, replicates, point_mean, ci_lo, ci_hi)``
    (point = mean of replicate means, CI = percentile interval),
    rounded to 6.
    """
    x = F.col(value_col).cast("long")
    k = F.col(key_col).cast("long")
    b = F.explode(
        F.array(*[F.lit(i) for i in range(replicates)])
    ).alias("__b")
    staged = df.select(x.alias("__x"), k.alias("__k"), b)
    u = _lehmer_uniform(F.col("__k") * replicates + F.col("__b"))
    w = F.when(u < _POISSON1_CDF[0], F.lit(0))
    for i in range(1, len(_POISSON1_CDF)):
        w = w.when(u < _POISSON1_CDF[i], F.lit(i))
    w = w.otherwise(F.lit(len(_POISSON1_CDF))).cast("long")
    per_rep = staged.select("__b", w.alias("__w"), "__x").groupBy(
        "__b"
    ).agg(
        F.sum(F.col("__w") * F.col("__x")).alias("__swx"),
        F.sum("__w").alias("__sw"),
        (F.count(F.lit(1))).alias("__n"),
    )
    mean_b = F.when(
        F.col("__sw") > 0,
        F.col("__swx").cast("double") / F.col("__sw"),
    )
    reps = per_rep.select(
        F.col("__n").alias("__n"), mean_b.alias("__m")
    )
    return reps.agg(
        F.max("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("replicates"),
        F.round(F.avg("__m"), 6).alias("point_mean"),
        F.round(F.percentile(F.col("__m"), F.lit(lo)), 6).alias("ci_lo"),
        F.round(F.percentile(F.col("__m"), F.lit(hi)), 6).alias("ci_hi"),
    )


def theil_sen_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Theil–Sen robust trend per group: the MEDIAN of all pairwise
    slopes ``(y_j - y_i) / (x_j - x_i)`` over points with distinct x,
    plus the Siegel-style intercept ``median(y - slope*x)`` — up to
    ~29% outlier breakdown where OLS (``group_ols``) has zero.

    Scale contract: the estimator is O(m²) in the POINTS PER GROUP, so
    ``df`` must be the already-collapsed series (daily rollups,
    per-bucket aggregates — m bounded by the calendar, the repo's
    series discipline), never raw rows.  The pair join is equi-keyed
    on the group columns and each group's pairs stay inside one
    shuffle partition; a grouped size assertion is the caller's job
    (the query rolls up to ≤ a few hundred points per group).

    Determinism: slopes derive from already-aggregated values; the
    median is Spark's exact ``percentile`` (linear interpolation,
    matching DuckDB ``quantile_cont``).  Returns
    ``(group..., n_points, slope, intercept)``, rounded; groups with
    no distinct-x pair yield NULL slope via lazy CASE (ANSI-safe).
    """
    groups = group_cols or []
    pts = df.select(
        *groups,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    a = pts.alias("a")
    b = pts.alias("b")
    cond = F.lit(True)
    for g in groups:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    pairs = a.join(b, cond & (F.col("a.__x") < F.col("b.__x"))).select(
        *[F.col(f"a.{g}") for g in groups],
        (
            (F.col("b.__y") - F.col("a.__y"))
            / (F.col("b.__x") - F.col("a.__x"))
        ).alias("__slope"),
    )
    slope = pairs.groupBy(*groups).agg(
        F.round(F.percentile(F.col("__slope"), F.lit(0.5)), round_to).alias(
            "slope"
        )
    )
    # LEFT join: a group with no distinct-x pair (single point) still
    # reports its row with NULL slope/intercept instead of vanishing
    joined = pts.join(slope, groups, "left") if groups else pts.crossJoin(
        F.broadcast(slope)
    )
    return joined.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.max("slope").alias("slope"),
        F.round(
            F.percentile(
                F.col("__y") - F.col("slope") * F.col("__x"), F.lit(0.5)
            ),
            round_to,
        ).alias("intercept"),
    )


def lorenz_deciles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 10,
    value_round: int = 2,
) -> DataFrame:
    """Lorenz-curve decile table: rank members by value ASCENDING,
    split into ``k`` equal-count tiles, and report each tile's share
    of the grand total plus the running (Lorenz) cumulative share —
    the table behind 'the bottom 50% of customers carry 8% of
    revenue'.  Complements :func:`gini_concentration` (the scalar
    area) and :func:`abc_classification` (value-threshold classes).

    Scale shape: the global ascending order uses
    ``windows.global_ntile_pct`` (two-phase range prefix sum — no
    single-task window); the per-tile collapse is a k-row aggregate
    and the final running share is a window over k rows.  Values are
    rounded to ``value_round`` (the metric's exact decimal precision)
    before ranking for deterministic tie order; shares round to 6.
    Returns ``(tile, n_members, tile_value, tile_share, cum_share)``.
    """
    from ..windows import global_ntile_pct

    vals = df.select(
        F.col(key_col).alias("__k"),
        F.round(F.col(value_col).cast("double"), value_round).alias("__v"),
    )
    tiled = global_ntile_pct(
        vals,
        [F.col("__v").asc(), F.col("__k").asc()],
        k,
        tile_col="tile",
    )
    per_tile = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("__v"), value_round).alias("tile_value"),
    )
    total = F.sum("tile_value").over(Window.partitionBy())
    w_cum = Window.orderBy("tile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    share = F.when(
        F.col("__total") > 0, F.col("tile_value") / F.col("__total")
    )
    cum = F.when(
        F.col("__total") > 0, F.col("__cum") / F.col("__total")
    )
    return (
        per_tile.withColumn("__total", total)
        .withColumn("__cum", F.sum("tile_value").over(w_cum))
        .select(
            "tile",
            "n_members",
            "tile_value",
            F.round(share, 6).alias("tile_share"),
            F.round(cum, 6).alias("cum_share"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: list[str],
    n_bins: int = 100,
) -> DataFrame:
    """Rank-based quantile normalization across groups (the batch-
    effect corrector: force every group's value distribution onto the
    pooled one).  Each row is assigned its within-group ntile, and the
    normalized value is the POOLED mean of ``value_col`` in that
    ntile across all groups.

    Scale shape: ONE window shuffle on ``group_col`` for the ntile
    (ties broken by ``id_cols`` so both engines rank identically),
    then the bin-target table is ``n_bins`` rows — broadcast back, no
    second corpus shuffle.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col), *[F.col(c) for c in id_cols]
    )
    binned = df.withColumn("__q", F.ntile(n_bins).over(w))
    targets = binned.groupBy("__q").agg(
        F.round(F.avg(value_col), 6).alias("normalized")
    )
    return binned.join(F.broadcast(targets), "__q").select(
        *id_cols,
        group_col,
        F.col(value_col),
        F.col("__q").alias("qbin"),
        "normalized",
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col,
    k: int = 10,
    l_min: int = 3,
) -> DataFrame:
    """l-diversity audit — the k-anonymity extension that catches the
    homogeneous-group leak: a quasi-identifier group can be large
    enough (k) yet expose its members because every row shares one
    sensitive value.  Returns the groups a release must suppress or
    generalize: size below ``k`` OR fewer than ``l_min`` distinct
    sensitive values.  One hash aggregate over the quasi columns.
    """
    g = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(sensitive_col).alias("l_distinct"),
    )
    return g.filter((F.col("n") < k) | (F.col("l_distinct") < l_min))


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Spearman rank correlation of two measures within each group —
    the monotonic-association check (does y rise with x at all, not
    just linearly) run per segment before trusting a Pearson number
    on skewed business measures.  Average-rank tie handling, the
    standard Spearman-with-ties definition (Pearson correlation of
    the average ranks).

    Scale shape: each axis collapses to (group, value, tie-count)
    buckets — hash aggregates with map-side partials, shuffle volume
    = per-group distinct values, never rows — then a window
    PARTITIONED BY GROUP over the collapsed buckets yields average
    ranks (sort size = per-group value cardinality), and two joins on
    (group, value) put both ranks back on the rows.  Ranks are
    multiples of 0.5, carried as doubled-rank integers and summed as
    DECIMAL(38,0), so every moment is exact until the one final
    division — any engine lands on the identical 6-dp value.

    Returns one row per group: (group, n, rho).
    """
    g = F.col(group_col)
    # The filtered 3-column base feeds THREE consumers (both rank-
    # bucket aggregates and the rank-attach join): materialize it once
    # (eager localCheckpoint) instead of re-scanning + re-repartition-
    # ing the source per consumer — the r13 before-plan showed 3 full
    # parquet scans each behind its own round-robin Exchange (guide
    # §1.2: don't compute things twice).  Narrow projection first so
    # the checkpoint holds 3 columns, not the row.
    base = checkpoint(
        df.filter(
            g.isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .select(
            g.alias("__g"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
        )
    )

    def _ranks(col: str, out: str) -> DataFrame:
        buckets = base.groupBy("__g", col).agg(
            F.count(F.lit(1)).alias("__t")
        )
        w = (
            Window.partitionBy("__g")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # doubled average rank = 2*cum - (t - 1) -> always an integer
        dbl = 2 * F.sum("__t").over(w) - (F.col("__t") - 1)
        return buckets.select("__g", col, dbl.alias(out))

    ranked = base.join(_ranks("__x", "__rx"), ["__g", "__x"]).join(
        _ranks("__y", "__ry"), ["__g", "__y"]
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 - local alias
    moments = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("__rx"))).alias("__sx"),
        F.sum(dec(F.col("__ry"))).alias("__sy"),
        F.sum(dec(F.col("__rx") * F.col("__rx"))).alias("__sxx"),
        F.sum(dec(F.col("__ry") * F.col("__ry"))).alias("__syy"),
        F.sum(dec(F.col("__rx") * F.col("__ry"))).alias("__sxy"),
    )
    # every exact decimal sum casts to double FIRST, then all
    # arithmetic runs in IEEE doubles — the oracle does literally the
    # same ops, so both engines round identically above 2^53
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return moments.select(
        F.col("__g").alias(group_col),
        "n",
        F.round(rho, 6).alias("rho"),
    )


def anova_f(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """One-way ANOVA F test: does the measure's mean differ across k
    groups at all — the one-shot replacement for running k² pairwise
    t-tests when comparing segments.  Also reports eta² (the share of
    total variance the grouping explains), the effect size a
    significant F needs before anyone acts on it.

    Scale shape: ONE hash aggregate collapses the corpus to k group
    rows (map-side combined); the grand moments, SSB and SSW derive
    from that k-row table.  Values are carried as exact micro-unit
    integers (round(value*1e6), summed as DECIMAL(38,0)) so the sums
    of squares are engine-exact until the final divisions.

    Returns one row: (k, n, f_stat, eta_sq, dof_between, dof_within).
    """
    v = F.col(value_col)
    g = F.col(group_col)
    micro = F.round(v * 1_000_000).cast("decimal(38,0)")
    per = (
        df.filter(v.isNotNull() & g.isNotNull())
        .select(g.alias("__g"), micro.alias("__m"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__m").alias("__s"),
            F.sum(F.col("__m") * F.col("__m")).alias("__s2"),
        )
    )
    nd = F.col("__n").cast("double")
    # per-group: mean (micro) and within-group sum of squares
    group_terms = per.select(
        "__n",
        (F.col("__s").cast("double") / nd).alias("__mean"),
        (
            F.col("__s2").cast("double")
            - F.col("__s").cast("double") * F.col("__s").cast("double") / nd
        ).alias("__ssw"),
        F.col("__s").cast("double").alias("__sd"),
    )
    tot = group_terms.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__n").alias("n"),
        F.sum("__sd").alias("__gs"),
        F.sum(F.col("__n") * F.col("__mean") * F.col("__mean")).alias(
            "__snm2"
        ),
        F.sum("__ssw").alias("__ssw_t"),
    )
    nn = F.col("n").cast("double")
    ssb = F.col("__snm2") - F.col("__gs") * F.col("__gs") / nn
    ssw = F.col("__ssw_t")
    dofb = (F.col("k") - 1).cast("double")
    dofw = (F.col("n") - F.col("k")).cast("double")
    f_stat = F.when(
        (dofb > 0) & (dofw > 0) & (ssw > 0),
        (ssb / dofb) / (ssw / dofw),
    )
    eta = F.when(ssb + ssw > 0, ssb / (ssb + ssw))
    # micro-unit scaling cancels in both ratios
    return tot.select(
        "k",
        "n",
        F.round(f_stat, 6).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
        (F.col("k") - 1).alias("dof_between"),
        (F.col("n") - F.col("k")).alias("dof_within"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Kruskal–Wallis H test — the k-group extension of
    :func:`mann_whitney_u`: do the k distributions differ in location,
    with no normality assumption.  Average-rank ties and the standard
    tie-correction divisor.

    Scale shape: the distinct-value collapse again — one hash
    aggregate to (value, group, count) cells, a value-level table
    (bounded by VALUE CARDINALITY) whose cumulative window yields the
    global average ranks, a broadcast-sized join back onto the cells,
    and one k-row aggregate.  Doubled ranks are integers summed as
    DECIMAL(38,0): exact until the final H division.

    Returns one row: (k, n, h_stat, dof) with h_stat tie-corrected.
    """
    v = F.col(value_col)
    g = F.col(group_col)
    cells = (
        df.filter(v.isNotNull() & g.isNotNull())
        .select(v.alias("__v"), g.alias("__g"))
        .groupBy("__v", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vals = cells.groupBy("__v").agg(F.sum("__c").alias("__t"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    dbl_rank = 2 * F.sum("__t").over(w) - (F.col("__t") - 1)
    ranked_vals = vals.select(
        "__v", "__t", dbl_rank.alias("__r2")
    )
    joined = cells.join(ranked_vals, "__v")
    per_group = joined.groupBy("__g").agg(
        F.sum("__c").alias("__n"),
        F.sum(
            F.col("__c").cast("decimal(38,0)") * F.col("__r2")
        ).alias("__r2sum"),
    )
    ties = ranked_vals.groupBy().agg(
        F.sum(
            (
                F.col("__t").cast("decimal(38,0)")
                * F.col("__t")
                * F.col("__t")
                - F.col("__t")
            )
        ).alias("__tie")
    )
    tot = per_group.crossJoin(F.broadcast(ties)).groupBy("__tie").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__n").alias("n"),
        # sum over groups of R_i^2 / n_i with doubled ranks:
        # (r2sum/2)^2 / n  ->  r2sum^2 / (4 n)
        F.sum(
            F.col("__r2sum").cast("double")
            * F.col("__r2sum").cast("double")
            / (4.0 * F.col("__n").cast("double"))
        ).alias("__sr2"),
    )
    nn = F.col("n").cast("double")
    h_raw = 12.0 / (nn * (nn + 1)) * F.col("__sr2") - 3.0 * (nn + 1)
    corr = 1.0 - F.col("__tie").cast("double") / (nn * nn * nn - nn)
    h = F.when((nn > 1) & (corr > 0), h_raw / corr)
    return tot.select(
        "k",
        "n",
        F.round(h, 6).alias("h_stat"),
        (F.col("k") - 1).alias("dof"),
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    band_col: str,
    t_max: float = 0.25,
) -> DataFrame:
    """t-closeness audit — the distributional extension of
    :func:`l_diversity_audit`: a quasi-identifier group can be large
    AND diverse yet still leak, because its sensitive-attribute
    DISTRIBUTION differs sharply from the table's (e.g. one segment
    is overwhelmingly in the top balance band).  Computes, per QI
    group, the Earth Mover's Distance between the group's and the
    global distribution over the ORDERED sensitive bands (the
    standard ordered-attribute EMD: mean absolute CDF gap), and flags
    groups with EMD > ``t_max``.

    Scale shape: one hash aggregate to (QI, band) cells; a
    dimension-sized zero-filled grid (distinct QI groups × distinct
    bands, both cross-joined AFTER collapsing — never the raw rows);
    per-group cumulative windows over the ≤|bands| grid rows.  The
    CDF gap is carried as the exact integer |cum_g·n_all − cum_all·n_g|
    over the constant denominator n_g·n_all, summed exactly and
    divided ONCE — engines agree to the last bit before the 6-dp
    round.

    Returns flagged groups: (*quasi_cols, n, emd).
    """
    qi = [F.col(c) for c in quasi_cols]
    cells = (
        df.filter(
            F.col(band_col).isNotNull()
            & qi[0].isNotNull()  # guards compose below for the rest
        )
        .select(*[c.alias(f"__q{i}") for i, c in enumerate(qi)], F.col(band_col).alias("__b"))
    )
    for i in range(1, len(quasi_cols)):
        cells = cells.filter(F.col(f"__q{i}").isNotNull())
    qcols = [f"__q{i}" for i in range(len(quasi_cols))]
    counts = cells.groupBy(*qcols, "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    groups = counts.groupBy(*qcols).agg(F.sum("__c").alias("__ng"))
    bands = counts.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    grid = groups.crossJoin(F.broadcast(bands.select("__b")))
    filled = grid.join(counts, [*qcols, "__b"], "left").select(
        *qcols,
        "__b",
        "__ng",
        F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
    )
    wg = (
        Window.partitionBy(*qcols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wa = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    with_glob = filled.join(F.broadcast(bands), "__b").withColumn(
        "__cum_g", F.sum("__c").over(wg)
    )
    # global cumulative per band derives from the band dimension table;
    # the global scalars (n_all, band count m) stay IN-PLANE as a
    # broadcast one-row table rather than eager driver count() jobs
    band_cum = bands.select(
        "__b", F.sum("__cb").over(wa).alias("__cum_all")
    )
    tot = bands.groupBy().agg(
        F.sum("__cb").alias("__n_all"), F.count(F.lit(1)).alias("__m")
    )
    joined = with_glob.join(F.broadcast(band_cum), "__b").crossJoin(
        F.broadcast(tot)
    )
    num = F.abs(
        F.col("__cum_g").cast("decimal(38,0)") * F.col("__n_all")
        - F.col("__cum_all").cast("decimal(38,0)") * F.col("__ng")
    )
    per_group = joined.groupBy(*qcols, "__ng", "__n_all", "__m").agg(
        F.sum(num).alias("__num")
    )
    emd = F.col("__num").cast("double") / (
        F.col("__ng").cast("double")
        * F.col("__n_all")
        * F.greatest(F.col("__m") - 1, F.lit(1))
    )
    out = per_group.select(
        *[
            F.col(f"__q{i}").alias(c)
            for i, c in enumerate(quasi_cols)
        ],
        F.col("__ng").alias("n"),
        F.round(emd, 6).alias("emd"),
    )
    return out.filter(F.col("emd") > t_max)


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns,
    plus both marginal entropies and the sqrt-normalized NMI — the
    information-theoretic sibling of :func:`chi_square_assoc`: chi²
    answers "is there ANY association", MI answers "how many nats
    does knowing x buy about y", which is comparable across column
    pairs and is what a feature-selection or leakage sweep ranks by.

    Scale shape: identical to chi_square_assoc — ONE contingency
    aggregate to |X|×|Y| cells (map-side combined), margins derived
    FROM the cell table and broadcast back; the corpus is scanned
    once and everything after is dimension-sized.  MI terms are
    ``(c/n)·ln(c·n/(rx·cy))`` with integer counts cast to double —
    the ln/round-6 discipline every entropy row in this repo already
    uses.

    Returns one row: (n, h_x, h_y, mi_nats, nmi).
    """
    cells = (
        df.select(F.col(x_col).alias("a"), F.col(y_col).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.groupBy().agg(F.sum("o").alias("n"))
    joined = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("o").cast("double")
    nn = F.col("n").cast("double")
    mi_term = o / nn * F.log(
        o * nn / (F.col("ra").cast("double") * F.col("cb").cast("double"))
    )
    # marginal entropies from the margins of the SAME cell table; the
    # derivation H = ln(n) - sum(r·ln r)/n avoids a second margin join
    hx_term = F.col("ra").cast("double") * F.log(F.col("ra").cast("double"))
    hy_term = F.col("cb").cast("double") * F.log(F.col("cb").cast("double"))
    hx = (
        ra.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg((F.log(F.col("n").cast("double"))
              - F.sum(hx_term) / F.col("n").cast("double")).alias("h_x"))
    )
    hy = (
        cb.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg((F.log(F.col("n").cast("double"))
              - F.sum(hy_term) / F.col("n").cast("double")).alias("h_y"))
    )
    mi = joined.groupBy("n").agg(F.sum(mi_term).alias("mi"))
    out = mi.join(hx, "n").join(hy, "n")
    nmi = F.when(
        (F.col("h_x") > 0) & (F.col("h_y") > 0),
        F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")),
    )
    return out.select(
        "n",
        F.round("h_x", 6).alias("h_x"),
        F.round("h_y", 6).alias("h_y"),
        F.round("mi", 6).alias("mi_nats"),
        F.round(nmi, 6).alias("nmi"),
    )


def feature_info_gain(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    bins: int = 8,
) -> DataFrame:
    """Information gain of each (equi-width-binned) numeric feature
    about a categorical label — the one-pass feature-relevance sweep:
    IG = H(label) − H(label | feature bin), plus the gain ratio
    (IG / feature-bin entropy) that penalizes features that cheat by
    splitting into many tiny bins.

    Scale shape: the features MELT into (feature, value, label) rows
    — k× the row count but ONE scan and one shuffle for all features
    instead of k scans; per-feature [min, max] is a k-row aggregate
    broadcast back for binning; then one (feature, bin, label) hash
    aggregate, after which everything is dimension-sized.  Rows where
    a feature is NULL drop from THAT feature's accounting only.

    Returns one row per feature: (feature, n, h_label, info_gain,
    gain_ratio), ordered by info_gain descending.
    """
    pairs: list = []
    for c in feature_cols:
        pairs.extend([F.lit(c), F.col(c).cast("double")])
    melted = df.select(
        F.col(label_col).alias("__y"),
        F.stack(F.lit(len(feature_cols)), *pairs).alias("__f", "__v"),
    ).filter(F.col("__y").isNotNull() & F.col("__v").isNotNull())
    # r13 optimization round: per-feature [min, max] no longer re-runs
    # the k× melt — ONE narrow column-pruned aggregate over the
    # original frame computes all k ranges in a single row (same
    # NULL accounting: a row counts for a feature iff label and that
    # feature are non-NULL), which the same stack() reshapes to the
    # k-row table the binning join expects (guide §2.3 "project
    # before the exchange" / §1.2 "don't compute things twice").
    ylit = F.col(label_col).isNotNull()
    range_row = df.agg(
        *[
            agg.alias(f"__{kind}{i}")
            for i, c in enumerate(feature_cols)
            for kind, agg in (
                ("lo", F.min(F.when(ylit, F.col(c).cast("double")))),
                ("hi", F.max(F.when(ylit, F.col(c).cast("double")))),
            )
        ]
    )
    rpairs: list = []
    for i, c in enumerate(feature_cols):
        rpairs.extend(
            [F.lit(c), F.col(f"__lo{i}"), F.col(f"__hi{i}")]
        )
    ranges = range_row.select(
        F.stack(F.lit(len(feature_cols)), *rpairs).alias(
            "__f", "__lo", "__hi"
        )
    ).filter(F.col("__lo").isNotNull())
    # guard the computed width, not hi > lo: a subnormal range divided
    # by bins underflows to 0.0 (ANSI: DIVIDE_BY_ZERO)
    width = (F.col("__hi") - F.col("__lo")) / bins
    binned = melted.join(F.broadcast(ranges), "__f").select(
        "__f",
        "__y",
        F.when(
            width > 0,
            F.least(
                F.floor((F.col("__v") - F.col("__lo")) / width).cast("int"),
                F.lit(bins - 1),
            ),
        )
        .otherwise(F.lit(0))
        .alias("__b"),
    )
    cells = binned.groupBy("__f", "__b", "__y").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_bin = cells.groupBy("__f", "__b").agg(
        F.sum("__c").alias("__nb"),
        F.sum(
            F.col("__c").cast("double")
            * F.log(F.col("__c").cast("double"))
        ).alias("__clnc"),
    )
    per_label = cells.groupBy("__f", "__y").agg(F.sum("__c").alias("__nl"))
    per_feat = per_bin.groupBy("__f").agg(F.sum("__nb").alias("n"))
    nb = F.col("__nb").cast("double")
    # H(label | bin) = sum_b (nb/n)·(ln nb − clnc/nb)
    #               = ( sum_b nb·ln nb − sum_b clnc ) / n
    cond = per_bin.groupBy("__f").agg(
        F.sum(nb * F.log(nb)).alias("__nblnnb"),
        F.sum("__clnc").alias("__sclnc"),
    )
    nl = F.col("__nl").cast("double")
    lab = per_label.groupBy("__f").agg(
        F.sum(nl * F.log(nl)).alias("__nllnnl")
    )
    j = per_feat.join(cond, "__f").join(lab, "__f")
    nn = F.col("n").cast("double")
    h_label = F.log(nn) - F.col("__nllnnl") / nn
    h_cond = (F.col("__nblnnb") - F.col("__sclnc")) / nn
    h_feat = F.log(nn) - F.col("__nblnnb") / nn
    ig = h_label - h_cond
    ratio = F.when(h_feat > 0, ig / h_feat)
    return j.select(
        F.col("__f").alias("feature"),
        "n",
        F.round(h_label, 6).alias("h_label"),
        F.round(ig, 6).alias("info_gain"),
        F.round(ratio, 6).alias("gain_ratio"),
    ).orderBy(F.col("info_gain").desc(), "feature")


def kendall_tau(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Kendall's tau-b between two LOW-CARDINALITY ordinal columns —
    the concordance coefficient reviewers ask for alongside
    :func:`spearman_corr` when both measures are coarse ordinal
    scales (star ratings, discount tiers, quantity bands) and tie
    handling dominates.

    Scale shape: the corpus collapses to an |X|×|Y| contingency cell
    table in ONE hash aggregate; concordant/discordant mass then
    comes from a CELL-PAIR join (`a.x < b.x`) — a broadcast
    nested-loop bounded by the VALUE DOMAIN squared, never by rows.
    That makes this operator right for enumerable ordinals (≲1k
    distinct per axis — 1M cell pairs) and wrong for continuous
    measures, where :func:`spearman_corr` is the tool; the docstring
    contract mirrors the percentile operators' enumerable-measure
    trade.  All pair mass is integer-exact in DECIMAL(38,0); tau-b's
    one division happens on the final row.

    Returns one row: (n, concordant, discordant, tau_b).
    """
    cells = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    pairs = a.join(F.broadcast(b), F.col("xa") < F.col("xb"))
    mass = (F.col("ca").cast("decimal(38,0)") * F.col("cb"))
    cd = pairs.groupBy().agg(
        F.sum(F.when(F.col("yb") > F.col("ya"), mass)).alias("__conc"),
        F.sum(F.when(F.col("yb") < F.col("ya"), mass)).alias("__disc"),
    )
    tx = cells.groupBy("x").agg(F.sum("c").alias("t"))
    ty = cells.groupBy("y").agg(F.sum("c").alias("t"))
    half = lambda t: (  # noqa: E731 - t(t-1)/2 in exact decimals
        t.cast("decimal(38,0)") * (t - 1) / 2
    ).cast("decimal(38,0)")
    tiex = tx.groupBy().agg(
        F.sum(half(F.col("t"))).alias("__n1"),
        F.sum("t").alias("n"),
    )
    tiey = ty.groupBy().agg(F.sum(half(F.col("t"))).alias("__n2"))
    j = cd.crossJoin(F.broadcast(tiex)).crossJoin(F.broadcast(tiey))
    nn = F.col("n").cast("double")
    n0 = nn * (nn - 1) / 2.0
    conc = F.coalesce(F.col("__conc"), F.lit(0)).cast("double")
    disc = F.coalesce(F.col("__disc"), F.lit(0)).cast("double")
    denom = (n0 - F.col("__n1").cast("double")) * (
        n0 - F.col("__n2").cast("double")
    )
    tau = F.when(denom > 0, (conc - disc) / F.sqrt(denom))
    return j.select(
        "n",
        F.coalesce(F.col("__conc"), F.lit(0)).cast("long").alias(
            "concordant"
        ),
        F.coalesce(F.col("__disc"), F.lit(0)).cast("long").alias(
            "discordant"
        ),
        F.round(tau, 6).alias("tau_b"),
    )


def empirical_bayes_rates(
    df: DataFrame,
    key_cols: list[str],
    success_expr,
    min_n: int = 1,
) -> DataFrame:
    """Beta-binomial empirical-Bayes shrinkage of per-entity rates —
    what a ranking should use instead of the raw conversion/return
    rate: small-sample entities pull toward the population prior, so
    a 1-for-1 seller no longer outranks a 980-for-1000 one.  The
    prior (alpha, beta) is fit by method of moments on the observed
    per-entity rates; the posterior mean is
    ``(successes + alpha) / (n + alpha + beta)``.

    The moments-fit sibling of the distribution-free Wilson-bound
    ranking already in the repo: Wilson gives a conservative bound
    per entity in isolation; EB borrows strength ACROSS entities,
    which is the better estimator when entities share a regime.

    Scale shape: one hash aggregate to |entities| rows; the prior fit
    is one more aggregate over THAT table (two moments), broadcast
    back as a one-row table — the corpus is scanned once.  Rates are
    exact ratios of integer counts; the moment arithmetic runs in
    doubles on the entity table, mirrored exactly by the oracle.

    Returns (*key_cols, n, successes, raw_rate, shrunk_rate) for
    entities with ``n >= min_n``; degenerate priors (zero variance
    across entities) yield NULL shrunk_rate rather than a failure.
    """
    per = (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(success_expr.cast("long")), F.lit(0)
            ).alias("successes"),
        )
        .filter(F.col("n") >= min_n)
    )
    rate = F.col("successes").cast("double") / F.col("n").cast("double")
    rated = per.withColumn("raw_rate", rate)
    prior = rated.groupBy().agg(
        F.avg("raw_rate").alias("__m"),
        F.var_samp("raw_rate").alias("__v"),
    )
    joined = rated.crossJoin(F.broadcast(prior))
    m = F.col("__m")
    v = F.col("__v")
    ab = F.when((v > 0) & (m > 0) & (m < 1), m * (1 - m) / v - 1)
    alpha = m * ab
    beta = (1 - m) * ab
    shrunk = F.when(
        ab > 0,
        (F.col("successes").cast("double") + alpha)
        / (F.col("n").cast("double") + alpha + beta),
    )
    return joined.select(
        *key_cols,
        "n",
        "successes",
        F.round("raw_rate", 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
    )


def levene_test(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across k groups:
    one-way ANOVA on ``|x - median(group)|`` — the gate run before
    trusting a pooled-variance t-test/ANOVA, and the robust (median-
    centered) variant recommended over Levene's original mean-centered
    form for skewed business measures.

    Scale shape: group medians come from the histogram-exact
    percentile collapse (distinct values per group, not rows), are
    broadcast back (k rows), and the absolute deviations feed the same
    exact micro-unit ANOVA reduction as ``anova_f`` — the corpus is
    scanned twice, shuffled only as value-histogram cells, and every
    sum is integer-exact until the final divisions.

    Returns one row: (k, n, w_stat, dof_between, dof_within).
    """
    v = F.col(value_col)
    g = F.col(group_col)
    base = df.filter(v.isNotNull() & g.isNotNull()).select(
        g.alias("__g"), v.alias("__v")
    )
    med = group_percentiles_exact(
        base, ["__g"], "__v", {"__med": 0.5}
    )
    z = (
        base.join(F.broadcast(med), "__g")
        .select(
            "__g",
            F.abs(F.col("__v") - F.col("__med")).alias("__z"),
        )
    )
    out = anova_f(z, "__z", "__g")
    return out.select(
        "k",
        "n",
        F.col("f_stat").alias("w_stat"),
        "dof_between",
        "dof_within",
    )


def jarque_bera(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Jarque–Bera normality statistic per group from exact integer
    raw moments: ``JB = n/6 * (S^2 + (K-3)^2/4)`` with skewness
    ``S = m3/m2^1.5`` and kurtosis ``K = m4/m2^2`` (biased/population
    moments, scipy.stats.jarque_bera's convention).  The screen run
    before parametric assumptions (z-intervals, control charts) are
    applied to a measure.

    Scale shape: ONE map-side-combined hash aggregate collapses the
    corpus to k rows of integral power sums (value cast to long —
    integral measures like quantities/counts/scores, the common JB
    input); central moments derive from raw sums per k-row algebra in
    doubles, so both engines compute identical statistics.  The 4th
    power bounds the domain: |value| <= ~2e8 keeps sum(v^4) inside
    DECIMAL(38,0) at a billion rows.

    Returns per group: (group..., n, skewness, kurtosis, jb_stat).
    """
    group_cols = group_cols or []
    v0 = F.col(value_col)
    lv = v0.cast("long")
    d = lv.cast("decimal(38,0)")
    per = (
        df.filter(v0.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d).alias("__s1"),
            F.sum(d * d).alias("__s2"),
            F.sum(d * d * d).alias("__s3"),
            F.sum(d * d * d * d).alias("__s4"),
        )
    )
    n = F.col("n").cast("double")
    m1 = F.col("__s1").cast("double") / n
    r2 = F.col("__s2").cast("double") / n
    r3 = F.col("__s3").cast("double") / n
    r4 = F.col("__s4").cast("double") / n
    m2 = r2 - m1 * m1
    m3 = r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1
    m4 = r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1
    skew = F.when(m2 > 0, m3 / F.pow(m2, F.lit(1.5)))
    kurt = F.when(m2 > 0, m4 / (m2 * m2))
    jb = F.when(
        m2 > 0,
        n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0),
    )
    return per.select(
        *group_cols,
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
    )


def runs_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of a sequence around
    its median: too FEW runs of above/below-median values means
    trending/clustering, too MANY means oscillation — the check that a
    'stable' daily metric is actually noise and not a slow drift the
    mean disguises.

    Values equal to the median are excluded (the standard treatment).
    ``z`` is the normal approximation
    ``(runs - mu) / sigma`` with ``mu = 2*n1*n2/(n1+n2) + 1``.

    Scale shape: per-group medians via the histogram-exact percentile
    collapse; signs and run boundaries via ONE lag window per group
    (each group's series sorts within its own partition — the global
    single-series case is a deliberately small input like a daily
    rollup, documented at the call site); the statistic derives from
    one k-row aggregate of exact integer counts.

    Returns per group: (group..., n_above, n_below, runs, z).
    """
    group_cols = group_cols or []
    v = F.col(value_col)
    base = df.filter(v.isNotNull()).select(
        *group_cols, F.col(order_col).alias("__o"), v.alias("__v")
    )
    med = group_percentiles_exact(base, group_cols, "__v", {"__med": 0.5})
    joined = (
        base.join(F.broadcast(med), group_cols)
        if group_cols
        else base.crossJoin(F.broadcast(med))
    )
    signed = joined.filter(F.col("__v") != F.col("__med")).withColumn(
        "__sign", (F.col("__v") > F.col("__med")).cast("int")
    )
    w = Window.partitionBy(*group_cols).orderBy("__o")
    marked = signed.withColumn(
        "__new_run",
        F.when(
            F.lag("__sign").over(w).isNull()
            | (F.lag("__sign").over(w) != F.col("__sign")),
            1,
        ).otherwise(0),
    )
    per = marked.groupBy(*group_cols).agg(
        F.sum("__sign").cast("long").alias("n_above"),
        F.sum(1 - F.col("__sign")).cast("long").alias("n_below"),
        F.sum("__new_run").cast("long").alias("runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    nt = n1 + n2
    mu = 2.0 * n1 * n2 / nt + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - nt)
        / (nt * nt * (nt - 1.0))
    )
    z = F.when(
        (F.col("n_above") > 0) & (F.col("n_below") > 0) & (var > 0),
        (F.col("runs").cast("double") - mu) / F.sqrt(var),
    )
    return per.select(
        *group_cols,
        "n_above",
        "n_below",
        "runs",
        F.round(z, 6).alias("z"),
    )


def srm_check(
    df: DataFrame,
    group_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check: chi-square goodness-of-fit of the
    observed per-arm unit counts against the design ratios — the FIRST
    gate on any experiment readout (a 50/50 split observed at 52/48 on
    a million units is broken randomization, and every downstream
    t-test on it is garbage).

    ``expected`` maps arm value -> design share (normalized here, so
    ``{1: 1, 2: 1}`` means 50/50).  Arms in the design but absent from
    the data count as observed 0.  Arms in the data but NOT in the
    design are themselves a design violation: they are excluded from
    the chi-square (which is defined over the declared arms) but
    surfaced as ``n_undeclared`` > 0 — silently ignoring them would
    hide exactly the bug this test exists to catch.

    Scale shape: ONE hash aggregate to k arm rows; the design table is
    a k-row literal broadcast; the statistic assembles on the single
    output row from exact integer counts.

    Returns one row: (k, n, n_undeclared, chi2, dof).
    """
    total = float(sum(expected.values()))
    if total <= 0:
        raise ValueError("expected shares must sum positive")
    shares = [(k, float(v) / total) for k, v in expected.items()]
    spark = df.sparkSession
    design = spark.createDataFrame(shares, ["__arm", "__share"])
    obs = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__arm"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    joined = design.join(obs, "__arm", "left").select(
        "__share", F.coalesce(F.col("__o"), F.lit(0)).alias("__o")
    )
    declared = joined.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__o").alias("n"),
    )
    undeclared = (
        obs.join(F.broadcast(design), "__arm", "left_anti")
        .groupBy()
        .agg(F.coalesce(F.sum("__o"), F.lit(0)).alias("n_undeclared"))
    )
    terms = joined.crossJoin(F.broadcast(declared)).select(
        "k",
        "n",
        (
            F.pow(
                F.col("__o").cast("double")
                - F.col("__share") * F.col("n").cast("double"),
                2,
            )
            / (F.col("__share") * F.col("n").cast("double"))
        ).alias("__t"),
    )
    chi = terms.groupBy("k", "n").agg(
        F.round(
            F.when(F.col("n") > 0, F.sum("__t")), 6
        ).alias("chi2")
    )
    return chi.crossJoin(F.broadcast(undeclared)).select(
        "k",
        "n",
        "n_undeclared",
        "chi2",
        (F.col("k") - 1).alias("dof"),
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    out_col: str = "target_enc",
) -> DataFrame:
    """Leave-one-out smoothed target encoding: each row's category is
    replaced by the mean target of the OTHER rows in that category,
    shrunk toward the global mean by ``smoothing`` pseudo-counts —
    the standard high-cardinality categorical feature that, unlike a
    plain group mean, does not leak the row's own label into its own
    feature:

        enc_i = (sum(cat) - t_i + m * global_mean) / (n(cat) - 1 + m)

    A singleton category (n=1) degrades cleanly to the global mean.

    Scale shape: targets ride as exact micro-unit integers; ONE
    category aggregate (map-side combined) plus one single-row global
    aggregate, both broadcast back onto the corpus — the corpus
    itself never shuffles, and the encoding is engine-exact doubles
    from exact integer sums.
    """
    t = F.col(target_col)
    micro = F.round(t * 1_000_000).cast("decimal(38,0)")
    base = df.filter(
        t.isNotNull() & F.col(cat_col).isNotNull()
    ).withColumn("__tm", micro)
    per_cat = base.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias("__cn"),
        F.sum("__tm").alias("__cs"),
    )
    glob = base.groupBy().agg(
        F.count(F.lit(1)).alias("__gn"),
        F.sum("__tm").alias("__gs"),
    )
    gmean = F.col("__gs").cast("double") / F.col("__gn").cast("double")
    m = F.lit(float(smoothing))
    enc_micro = (
        F.col("__cs").cast("double")
        - F.col("__tm").cast("double")
        + m * gmean
    ) / (F.col("__cn").cast("double") - 1.0 + m)
    return (
        base.join(F.broadcast(per_cat), cat_col)
        .crossJoin(F.broadcast(glob))
        .withColumn(out_col, F.round(enc_micro / 1_000_000.0, 6))
        .drop("__cn", "__cs", "__gn", "__gs", "__tm")
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    salt: int = 0,
) -> DataFrame:
    """Differentially-private group counts: true counts plus Laplace
    (1/epsilon) noise — the releasable histogram when the groups are
    sensitive (count queries have L1 sensitivity 1, so Lap(1/eps)
    gives eps-DP).  True counts are deliberately NOT in the output.

    The noise is DETERMINISTIC per (group, salt): a portable 60-bit
    md5 hash of the group key seeds the Park–Miller Lehmer generator
    (:func:`_lehmer_uniform`), and the uniform becomes Laplace by
    inverse CDF.  Deterministic noise is what a production release
    pipeline wants — re-running the job must NOT average away the
    privacy noise across releases (the classic averaging attack);
    rotating ``salt`` is the deliberate act of spending more privacy
    budget.

    Scale shape: ONE hash aggregate to k group rows; noise is
    per-group scalar arithmetic on those k rows.  Engine-exact: the
    hash, the Lehmer rounds, and the inverse CDF are plain integer /
    double expressions reproducible verbatim in any SQL engine.

    Returns (group..., noisy_count) — noisy_count rounded to 6 dp and
    floored at 0 (counts cannot be negative; one-sided clamping is
    post-processing, which DP permits).
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    from ...functions import portable_hash64

    per = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    key_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in group_cols]
    )
    key = portable_hash64(key_str, seed=salt)
    u = _lehmer_uniform(key)
    # keep u away from exact 0 (ln(0) = -inf); 0.5/M is below any
    # reachable nonzero Lehmer state
    u = F.greatest(u, F.lit(0.5 / _LEHMER_M))
    v = u - 0.5
    b = 1.0 / float(epsilon)
    noise = (
        -F.lit(b)
        * F.signum(v)
        * F.log(1.0 - 2.0 * F.abs(v))
    )
    noisy = F.col("__n").cast("double") + noise
    return per.select(
        *group_cols,
        F.round(F.greatest(noisy, F.lit(0.0)), 6).alias("noisy_count"),
    )


# Abramowitz & Stegun 7.1.26 rational approximation of the standard
# normal CDF (|error| < 7.5e-8): plain arithmetic + exp, so Spark and
# any SQL oracle compute bit-identical doubles — unlike scipy lookups
# there is nothing engine-specific to diverge.
_NORM_B = (0.319381530, -0.356563782, 1.781477937,
           -1.821255978, 1.330274429)
_NORM_P = 0.2316419
_SQRT_2PI = 2.5066282746310002



def quantile_order_ci(
    df: DataFrame,
    value_col: str,
    q: float = 0.5,
    conf: float = 0.95,
) -> DataFrame:
    """Distribution-free confidence interval for a quantile via ORDER
    STATISTICS — the binomial-rank bracket every SLA/latency report
    should carry instead of a bare p99: the rank of the q-quantile is
    Binomial(n, q), so the interval is [x_(lo), x_(hi)] with
    ``lo/hi = ceil(nq ∓ z·√(nq(1−q)))`` (normal approximation of the
    binomial, the standard large-n form), clamped to [1, n].  No
    distributional assumption on the VALUES — only on the rank.

    The z quantile is a driver-side :func:`~.inference.norm_ppf`
    literal (the oracle inlines the same Python-computed constant).

    Scale shape: the histogram formulation again — ``groupBy(value)``
    (map-side-combined, shuffle = DISTINCT values, not rows), one
    ordered cumulative-count window over the distinct-value table,
    three conditional-min aggregates pick the bracketing values.  The
    window is single-partition over distinct values — bounded for the
    enumerable measures this targets (documented trade, same as
    ``group_percentiles_exact``).

    Returns one row: (n, q, conf, lo_rank, hi_rank, lo, point, hi)
    with quantile_disc semantics (observed values, rank ceil(nq)).
    """
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    if not 0 < conf < 1:
        raise ValueError(f"conf must be in (0, 1), got {conf}")
    from .inference import norm_ppf

    z = norm_ppf(1.0 - (1.0 - conf) / 2.0)
    x = F.col(value_col).cast("double")
    hist = (
        df.filter(x.isNotNull())
        .groupBy(x.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(Window.partitionBy())
    )
    nq = F.col("__n") * F.lit(float(q))
    half = F.lit(z) * F.sqrt(nq * F.lit(1.0 - q))
    lo_rank = F.greatest(F.ceil(nq - half), F.lit(1))
    hi_rank = F.least(F.ceil(nq + half), F.col("__n"))
    pt_rank = F.greatest(F.ceil(nq), F.lit(1))
    staged = cum.select(
        "__v", "__cum", "__n",
        lo_rank.alias("__lo_r"),
        hi_rank.alias("__hi_r"),
        pt_rank.alias("__pt_r"),
    )
    return staged.agg(
        F.max("__n").cast("long").alias("n"),
        F.round(F.lit(float(q)), 6).alias("q"),
        F.round(F.lit(float(conf)), 6).alias("conf"),
        F.max("__lo_r").cast("long").alias("lo_rank"),
        F.max("__hi_r").cast("long").alias("hi_rank"),
        F.round(
            F.min(F.when(F.col("__cum") >= F.col("__lo_r"), F.col("__v"))),
            6,
        ).alias("lo"),
        F.round(
            F.min(F.when(F.col("__cum") >= F.col("__pt_r"), F.col("__v"))),
            6,
        ).alias("point"),
        F.round(
            F.min(F.when(F.col("__cum") >= F.col("__hi_r"), F.col("__v"))),
            6,
        ).alias("hi"),
    )
