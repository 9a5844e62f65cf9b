"""Planted-fixture tests for round-10 widening batch 2: Theil–Sen
robust trends, Lorenz deciles, asymmetric containment dedup, the
negative-sampling table, RFM segmentation, cohort retention,
association rules, and global key-space islands."""

import math

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.dedup import containment_pairs
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
    lorenz_deciles,
    theil_sen_trend,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import unigram_sampling_table


# -------------------------------------------------------- theil-sen


def test_theil_sen_exact_line_recovers_slope_intercept(spark):
    # y = 3x + 2 exactly: every pairwise slope is 3, intercept 2
    rows = [("a", float(x), 3.0 * x + 2.0) for x in range(6)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    r = theil_sen_trend(df, "x", "y", ["g"]).collect()[0]
    assert r["n_points"] == 6
    assert r["slope"] == pytest.approx(3.0)
    assert r["intercept"] == pytest.approx(2.0)


def test_theil_sen_breaks_down_gracefully_vs_outlier(spark):
    # one wild outlier must NOT move the median slope (OLS would)
    rows = [("a", float(x), 2.0 * x) for x in range(9)] + [
        ("a", 9.0, 1000.0)
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    r = theil_sen_trend(df, "x", "y", ["g"]).collect()[0]
    assert r["slope"] == pytest.approx(2.0, abs=0.2)


def test_theil_sen_single_point_group_null_slope(spark):
    df = spark.createDataFrame(
        [("solo", 1.0, 5.0)], "g STRING, x DOUBLE, y DOUBLE"
    )
    r = theil_sen_trend(df, "x", "y", ["g"]).collect()[0]
    assert r["slope"] is None


# ----------------------------------------------------------- lorenz


def test_lorenz_uniform_values_linear_curve(spark):
    df = spark.createDataFrame(
        [(i, 10.0) for i in range(20)], "k LONG, v DOUBLE"
    )
    rows = {r["tile"]: r for r in lorenz_deciles(df, "k", "v", k=10).collect()}
    assert len(rows) == 10
    for t in range(1, 11):
        assert rows[t]["n_members"] == 2
        assert rows[t]["tile_share"] == pytest.approx(0.1)
        assert rows[t]["cum_share"] == pytest.approx(t / 10.0)


def test_lorenz_concentration_bottom_tiles_tiny_share(spark):
    # 9 members with 1.0, one whale with 991.0: bottom tiles ~0.1%
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(9)] + [(9, 991.0)], "k LONG, v DOUBLE"
    )
    rows = {r["tile"]: r for r in lorenz_deciles(df, "k", "v", k=10).collect()}
    assert rows[1]["tile_share"] == pytest.approx(0.001)
    assert rows[10]["tile_share"] == pytest.approx(0.991)
    assert rows[10]["cum_share"] == pytest.approx(1.0)


# ------------------------------------------------------ containment


def test_containment_detects_subset_but_not_reverse(spark):
    small = "alpha beta gamma delta epsilon"
    big = small + " zeta eta theta iota kappa lam mu nu xi omicron"
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "unrelated words here entirely")],
        "doc_id LONG, text STRING",
    )
    got = {
        (r["src_id"], r["in_id"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}  # small ⊂ big; big ⊄ small (5/15 < 0.8)


def test_containment_df_cap_drops_stopword_signal(spark):
    # 'the' appears in every doc; with max_df=2 it leaves the
    # vocabulary, so doc 4 ('the the the' -> empty word set) pairs
    # with nothing and the 1-in-2 containment uses capped sizes
    df = spark.createDataFrame(
        [
            (1, "the quick fox"),
            (2, "the quick fox jumps high"),
            (3, "the slow snail"),
            (4, "the the the"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        (r["src_id"], r["in_id"]): r["containment"]
        for r in containment_pairs(df, threshold=0.9, max_df=2).collect()
    }
    assert got == {(1, 2): 1.0}


# ------------------------------------------------- negative sampling


def test_unigram_sampling_table_bands_partition_unit_interval(spark):
    df = spark.createDataFrame(
        [("aa aa aa aa bb bb cc",)], "text STRING"
    )
    rows = sorted(
        unigram_sampling_table(df).collect(), key=lambda r: -r["tf"]
    )
    assert [r["word"] for r in rows] == ["aa", "bb", "cc"]
    # bands are contiguous half-open intervals covering [0, 1]
    assert rows[0]["cum_lo"] == 0.0
    assert rows[0]["cum_hi"] == pytest.approx(rows[1]["cum_lo"])
    assert rows[1]["cum_hi"] == pytest.approx(rows[2]["cum_lo"])
    assert rows[2]["cum_hi"] == pytest.approx(1.0)
    # 0.75 power flattens: aa has 4x bb's tf but < 4x its probability
    assert rows[0]["prob"] / rows[1]["prob"] < 4.0
    w = [4**0.75, 2**0.75, 1.0]
    assert rows[0]["prob"] == pytest.approx(
        round(w[0], 6) / sum(round(x, 6) for x in w), abs=1e-6
    )


# ----------------------------------------------- rfm / cohort / rules


def test_rfm_segments_distributed_scores_and_labels(spark):
    """The distributed-ntile RFM twin (global_ntile_pct machinery, no
    single-task window) — the quality_deciles_distributed pattern; the
    original funnels.rfm_segments row keeps its own oracle."""
    from conftest import SF_DIR

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    with Scope():
        rows = q.AUX_QUERIES["rfm_segments_distributed"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r["r_score"] <= 5
        assert 1 <= r["f_score"] <= 5
        assert 1 <= r["m_score"] <= 5
        if r["r_score"] >= 4 and r["f_score"] >= 4:
            assert r["segment"] == "champion"


def test_sequence_gaps_islands_hand_planted(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import global_rank
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    keys = spark.createDataFrame(
        [(k,) for k in [1, 2, 3, 7, 8, 12]], "k LONG"
    )
    with Scope():
        ranked = global_rank(keys, [F.col("k").asc()], rank_col="__r")
        out = (
            ranked.withColumn("__grp", F.col("k") - F.col("__r"))
            .groupBy("__grp")
            .agg(
                F.min("k").alias("s"),
                F.max("k").alias("e"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        got = sorted((r["s"], r["e"], r["n"]) for r in out.collect())
    assert got == [(1, 3, 3), (7, 8, 2), (12, 12, 1)]


# ----------------------------------------------------- portable HLL


def test_hll_small_set_linear_counting_accurate(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import hll_cardinality

    df = spark.createDataFrame([(i % 100,) for i in range(1000)], "k LONG")
    r = hll_cardinality(df, "k").collect()[0]
    # 100 distinct keys in 4096 buckets -> linear counting regime,
    # relative error well under 5%
    assert abs(r["hll_estimate"] - 100) / 100 < 0.05


def test_hll_grouped_tracks_exact_within_sketch_error(spark):
    from pyspark.sql import functions as F
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import hll_cardinality

    # group a: 5000 distinct, group b: 500 distinct
    rows = [("a", i) for i in range(5000)] + [("b", i) for i in range(500)]
    df = spark.createDataFrame(rows, "g STRING, k LONG")
    got = {r["g"]: r for r in hll_cardinality(df, "k", ["g"]).collect()}
    assert abs(got["a"]["hll_estimate"] - 5000) / 5000 < 0.06
    assert abs(got["b"]["hll_estimate"] - 500) / 500 < 0.06
    assert got["a"]["buckets_used"] <= 4096


def test_hll_deterministic_across_runs(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sketch import hll_cardinality

    df = spark.createDataFrame([(i * 7,) for i in range(3000)], "k LONG")
    a = hll_cardinality(df, "k").collect()[0]["hll_estimate"]
    b = hll_cardinality(
        df.repartition(7), "k"
    ).collect()[0]["hll_estimate"]
    # association-invariant harmonic sum: partitioning cannot move it
    assert a == b


# -------------------------------------------------- golden record


def test_golden_record_field_level_survivorship(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.scd import golden_record

    rows = [
        # entity 1: freshest row (t=3) has NULL phone -> phone must
        # survive from t=2; email updates at t=3
        (1, 1, "a@x", "111"),
        (1, 2, None, "222"),
        (1, 3, "c@x", None),
        # entity 2: phone never present -> NULL in the golden row
        (2, 1, "z@x", None),
    ]
    df = spark.createDataFrame(
        rows, "ent LONG, ord LONG, email STRING, phone STRING"
    )
    got = {
        r["ent"]: r
        for r in golden_record(df, "ent", "ord", ["email", "phone"]).collect()
    }
    assert got[1]["email"] == "c@x"
    assert got[1]["phone"] == "222"  # NOT erased by the fresher NULL
    assert got[1]["n_versions"] == 3
    assert got[1]["last_order_key"] == 3
    assert got[2]["phone"] is None
