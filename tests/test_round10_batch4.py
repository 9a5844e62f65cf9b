"""Planted-fixture tests for round-10 widening batch 4: mergeable HLL
set algebra, rank-based quantile normalization, and the oracle-
deterministic PCA power iteration."""

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import (
    _round_half_away,
    pca_power_component,
    project_onto_component,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import (
    hll_buckets,
    hll_cardinality,
    hll_estimate_from_buckets,
    hll_merge,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import quantile_normalize


# ------------------------------------------------------- hll algebra


def test_hll_merge_equals_sketch_of_union(spark):
    a = spark.createDataFrame([(i,) for i in range(500)], "k BIGINT")
    b = spark.createDataFrame(
        [(i,) for i in range(300, 900)], "k BIGINT"
    )
    union = a.unionByName(b)
    merged = hll_merge(hll_buckets(a, "k"), hll_buckets(b, "k"))
    est_merged = hll_estimate_from_buckets(merged).collect()[0]
    est_direct = hll_cardinality(union, "k").collect()[0]
    # merging register tables must be EXACTLY the union's sketch
    assert est_merged["hll_estimate"] == est_direct["hll_estimate"]
    assert est_merged["buckets_used"] == est_direct["buckets_used"]


def test_hll_inclusion_exclusion_tracks_true_overlap(spark):
    a = spark.createDataFrame([(i,) for i in range(1000)], "k BIGINT")
    b = spark.createDataFrame(
        [(i,) for i in range(600, 1600)], "k BIGINT"
    )
    ea = hll_estimate_from_buckets(hll_buckets(a, "k")).collect()[0][0]
    eb = hll_estimate_from_buckets(hll_buckets(b, "k")).collect()[0][0]
    eu = hll_estimate_from_buckets(
        hll_merge(hll_buckets(a, "k"), hll_buckets(b, "k"))
    ).collect()[0][0]
    inter = ea + eb - eu
    # true intersection is 400; p=12 linear-counting regime is ~1-2%
    assert inter == pytest.approx(400, rel=0.15)


def test_hll_cardinality_unchanged_by_refactor(spark):
    # the delegating hll_cardinality must equal composing the stages
    df = spark.createDataFrame([(i % 700,) for i in range(5000)], "k BIGINT")
    via_stages = hll_estimate_from_buckets(hll_buckets(df, "k")).collect()[0]
    direct = hll_cardinality(df, "k").collect()[0]
    assert via_stages["hll_estimate"] == direct["hll_estimate"]


# ------------------------------------------------ quantile normalize


def test_quantile_normalize_identical_groups_are_fixed_point(spark):
    # two groups with the SAME distribution: normalization must map
    # each value to (v_groupA + v_groupB)/2 at the matching rank = v
    rows = [(g, i, float(10 * i)) for g in ("a", "b") for i in range(50)]
    df = spark.createDataFrame(rows, "g STRING, id INT, v DOUBLE")
    out = quantile_normalize(df, "g", "v", ["id"], n_bins=50).collect()
    for r in out:
        assert r["normalized"] == pytest.approx(r["v"])


def test_quantile_normalize_forces_shifted_group_onto_pooled(spark):
    # group b = group a + 1000: after normalization both groups share
    # the pooled bin means (a's and b's values at the same rank avg)
    rows = [("a", i, float(i)) for i in range(100)] + [
        ("b", 100 + i, float(i + 1000)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g STRING, id INT, v DOUBLE")
    out = quantile_normalize(df, "g", "v", ["id"], n_bins=100)
    pairs = {
        (r["g"], r["qbin"]): r["normalized"] for r in out.collect()
    }
    for qb in range(1, 101):
        assert pairs[("a", qb)] == pairs[("b", qb)]
        assert pairs[("a", qb)] == pytest.approx((qb - 1) + 500.0)


# --------------------------------------------------------------- pca


def _planted_cov(d=4):
    # diagonal covariance with a dominant first dimension: the top
    # eigenvector is e1 exactly
    rows = []
    for i in range(d):
        for j in range(i, d):
            c = 0.0
            if i == j:
                c = 5.0 if i == 0 else 1.0
            rows.append({"i": i, "j": j, "cov_pop": c})
    return rows


def test_pca_power_component_recovers_planted_eigenvector():
    v, lam = pca_power_component(_planted_cov(), 4, iters=30)
    assert v[0] == pytest.approx(1.0, abs=1e-5)
    for x in v[1:]:
        assert abs(x) < 1e-4
    assert lam == pytest.approx(5.0, abs=1e-3)


def test_pca_sign_canonicalized_first_loading_positive():
    v, _ = pca_power_component(_planted_cov(), 4, iters=15)
    first = next(x for x in v if x != 0.0)
    assert first > 0


def test_round_half_away_matches_sql_semantics():
    assert _round_half_away(0.0000005, 6) == 0.000001
    assert _round_half_away(-0.0000005, 6) == -0.000001
    assert _round_half_away(0.1234564, 6) == 0.123456
    assert _round_half_away(0.1234565, 6) == 0.123457


def test_project_onto_component_is_plain_dot_product(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [0.5, 4.0, -1.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    got = {
        r["vec_id"]: r["pc1_score"]
        for r in project_onto_component(df, [2.0, 1.0, 0.5]).collect()
    }
    assert got[1] == pytest.approx(3.0)
    assert got[2] == pytest.approx(4.5)


def test_streaming_hll_maintenance_equals_batch(spark, tmp_path):
    """Production distinct-count maintenance: each micro-batch writes
    its own HLL register rows (foreachBatch); the per-bucket max of
    the appended registers must equal the sketch built over the whole
    table in one pass — the mergeability contract through real
    Structured Streaming, the HLL twin of the CMS maintenance test."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import core as q

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path / "registers")
    ckpt = str(tmp_path / "ckpt")

    def sketch_batch(batch_df, _bid):
        hll_buckets(batch_df, "user_id").write.mode("append").parquet(out)

    events, _ = q._stream_events(spark, sf_dir)
    stream = (
        events.select("user_id")
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(sketch_batch)
        .start()
    )
    stream.awaitTermination()

    appended = spark.read.parquet(out).groupBy("__b").agg(
        F.max("__mr").alias("__mr")
    )
    est_stream = hll_estimate_from_buckets(appended).collect()[0]

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    whole = load_table(spark, sf_dir, "events")
    est_batch = hll_cardinality(whole, "user_id").collect()[0]
    assert est_stream["hll_estimate"] == est_batch["hll_estimate"]
    assert est_stream["buckets_used"] == est_batch["buckets_used"]


# ------------------------------------------- count-sketch join size


def test_countsketch_exact_when_no_collisions(spark):
    # 20 keys in a 4096-bucket sketch: with overwhelming probability
    # no two keys share a bucket in any row, so every per-row inner
    # product equals the true join size EXACTLY (signs square to +1)
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import (
        countsketch_cells,
        countsketch_inner_product,
    )

    a = spark.createDataFrame(
        [(f"k{i}", i + 1) for i in range(20)], "k STRING, cnt BIGINT"
    )
    b = spark.createDataFrame(
        [(f"k{i}", 2) for i in range(20)], "k STRING, cnt BIGINT"
    )
    est = countsketch_inner_product(
        countsketch_cells(a, "k", "cnt", depth=5, width=4096),
        countsketch_cells(b, "k", "cnt", depth=5, width=4096),
        depth=5,
    ).collect()[0]["join_size_est"]
    truth = sum((i + 1) * 2 for i in range(20))
    assert est == truth


def test_countsketch_estimate_tracks_real_join(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import (
        countsketch_cells,
        countsketch_inner_product,
    )

    # skewed frequencies, forced collisions (width 64) — the median
    # over rows must stay within ~25% of the truth
    a = spark.createDataFrame(
        [(f"k{i}", (i % 7) + 1) for i in range(500)], "k STRING, cnt BIGINT"
    )
    est = countsketch_inner_product(
        countsketch_cells(a, "k", "cnt", depth=5, width=64),
        countsketch_cells(a, "k", "cnt", depth=5, width=64),
        depth=5,
    ).collect()[0]["join_size_est"]
    truth = sum(((i % 7) + 1) ** 2 for i in range(500))
    assert est == pytest.approx(truth, rel=0.25)


# ------------------------------------------------------- l diversity


def test_l_diversity_flags_homogeneous_group(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import l_diversity_audit

    rows = (
        # big AND diverse: passes
        [("ok", f"s{i % 5}") for i in range(20)]
        # big but HOMOGENEOUS: k-anonymity passes it, l-diversity must not
        + [("homog", "same") for _ in range(20)]
        # small: fails on k
        + [("tiny", f"s{i}") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "quasi STRING, sensitive STRING")
    flagged = {
        r["quasi"]: (r["n"], r["l_distinct"])
        for r in l_diversity_audit(
            df, ["quasi"], "sensitive", k=10, l_min=3
        ).collect()
    }
    assert set(flagged) == {"homog", "tiny"}
    assert flagged["homog"] == (20, 1)
    assert flagged["tiny"] == (3, 3)


# ----------------------------------------------- property invariants

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.sets(st.integers(min_value=0, max_value=500), max_size=40),
    st.sets(st.integers(min_value=0, max_value=500), max_size=15),
)
@settings(max_examples=5, deadline=None)
def test_bloom_semi_join_equals_plain_for_arbitrary_sets(
    spark, fact_keys, dim_keys
):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.skew import (
        bloom_prefilter_semi_join,
    )

    fact = spark.createDataFrame(
        [(k,) for k in sorted(fact_keys)] or [(None,)], "k BIGINT"
    )
    dim = spark.createDataFrame(
        [(k,) for k in sorted(dim_keys)] or [(None,)], "d BIGINT"
    )
    got = sorted(
        r["k"]
        for r in bloom_prefilter_semi_join(fact, dim, "k", "d").collect()
    )
    assert got == sorted(fact_keys & dim_keys)


@given(
    st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=3),
        st.integers(min_value=1, max_value=9),
        max_size=12,
    ),
    st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=3),
        st.integers(min_value=1, max_value=9),
        max_size=12,
    ),
)
@settings(max_examples=5, deadline=None)
def test_countsketch_symmetry_and_linearity_exact(spark, fa, fb):
    """ip(a,b) == ip(b,a) and ip(2a,b) == 2*ip(a,b) hold EXACTLY for
    any frequency tables — collision structure cancels identically on
    both sides, so these are integer identities, not approximations."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import (
        countsketch_cells,
        countsketch_inner_product,
    )

    if not fa or not fb:
        return
    a = spark.createDataFrame(list(fa.items()), "k STRING, cnt BIGINT")
    b = spark.createDataFrame(list(fb.items()), "k STRING, cnt BIGINT")
    a2 = spark.createDataFrame(
        [(k, 2 * v) for k, v in fa.items()], "k STRING, cnt BIGINT"
    )
    ca = countsketch_cells(a, "k", "cnt", depth=3, width=64)
    cb = countsketch_cells(b, "k", "cnt", depth=3, width=64)
    ca2 = countsketch_cells(a2, "k", "cnt", depth=3, width=64)
    ip = lambda x, y: countsketch_inner_product(x, y, 3).collect()[0][0]
    ab = ip(ca, cb)
    assert ip(cb, ca) == ab
    assert ip(ca2, cb) == 2 * ab


@given(
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
)
@settings(max_examples=5, deadline=None)
def test_hll_merge_idempotent_and_commutative(spark, ka, kb):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import (
        hll_buckets,
        hll_estimate_from_buckets,
        hll_merge,
    )

    a = hll_buckets(
        spark.createDataFrame([(k,) for k in sorted(ka)], "k BIGINT"), "k"
    )
    b = hll_buckets(
        spark.createDataFrame([(k,) for k in sorted(kb)], "k BIGINT"), "k"
    )
    est = lambda t: tuple(hll_estimate_from_buckets(t).collect()[0])
    assert est(hll_merge(a, a)) == est(a)  # idempotent
    assert est(hll_merge(a, b)) == est(hll_merge(b, a))  # commutative


@given(
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, width=32
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=5, deadline=None)
def test_max_drawdown_bounds_hold_for_any_series(spark, flows):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import max_drawdown

    rows = [("g", i, float(v)) for i, v in enumerate(flows)]
    df = spark.createDataFrame(rows, "g STRING, t INT, v DOUBLE")
    r = max_drawdown(df, ["g"], ["t"], "v").collect()[0]
    assert r["max_drawdown"] >= 0
    # the drawdown at the final point is peak - final, so the max is
    # at least that (6-decimal rounding slack)
    assert (
        r["max_drawdown"]
        >= (r["peak_equity"] - r["final_equity"]) - 1e-5
    )
