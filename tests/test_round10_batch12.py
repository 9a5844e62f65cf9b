"""Planted-fixture tests for round-10 widening batch 12: sampled
harmonic centrality, rolling OLS slope, and melt (unpivot)."""

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
    harmonic_centrality,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.reshape import melt
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import (
    rolling_slope,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope


# ----------------------------------------------------------- harmonic


def test_harmonic_path_single_seed(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src INT, dst INT"
    )
    seeds = spark.createDataFrame([(1,)], "node INT")
    with Scope():
        res = harmonic_centrality(edges, seeds, max_hops=4)
        out = {r["node"]: r for r in res.collect()}
    assert set(out) == {2, 3, 4}  # the seed itself does not score
    assert out[2]["harmonic"] == pytest.approx(1.0)
    assert out[3]["harmonic"] == pytest.approx(0.5)
    assert out[4]["harmonic"] == pytest.approx(0.333333, abs=1e-6)
    assert all(r["n_sources"] == 1 for r in out.values())


def test_harmonic_two_seeds_sum(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src INT, dst INT"
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node INT")
    with Scope():
        res = harmonic_centrality(edges, seeds, max_hops=4)
        out = {r["node"]: r for r in res.collect()}
    # node 2: d=1 from seed1, d=2 from seed4 -> 1 + 0.5
    assert out[2]["harmonic"] == pytest.approx(1.5)
    assert out[2]["n_sources"] == 2
    assert out[3]["harmonic"] == pytest.approx(1.5)
    # seeds score each other: d(1,4)=3
    assert out[1]["harmonic"] == pytest.approx(0.333333, abs=1e-6)
    assert out[4]["harmonic"] == pytest.approx(0.333333, abs=1e-6)


def test_harmonic_hop_cap(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src INT, dst INT"
    )
    seeds = spark.createDataFrame([(1,)], "node INT")
    with Scope():
        res = harmonic_centrality(edges, seeds, max_hops=2)
        out = {r["node"]: r["harmonic"] for r in res.collect()}
    assert set(out) == {2, 3}  # nodes beyond 2 hops unreached


# -------------------------------------------------------------- slope


def test_rolling_slope_linear_is_one(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 6)], "o INT, v DOUBLE"
    )
    out = {r["o"]: r["slope"] for r in rolling_slope(df, "o", "v", window=3).collect()}
    assert out[1] is None and out[2] is None
    assert out[3] == pytest.approx(1.0)
    assert out[4] == pytest.approx(1.0)
    assert out[5] == pytest.approx(1.0)


def test_rolling_slope_sign_and_flat(spark):
    vals = [10.0, 8.0, 6.0, 6.0, 6.0, 6.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "o INT, v DOUBLE"
    )
    out = {r["o"]: r["slope"] for r in rolling_slope(df, "o", "v", window=3).collect()}
    assert out[2] == pytest.approx(-2.0)
    assert out[5] == pytest.approx(0.0)  # constant window


def test_rolling_slope_grouped(spark):
    rows = [("a", i, float(2 * i)) for i in range(4)] + [
        ("b", i, float(-i)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "g STRING, o INT, v DOUBLE")
    out = {
        (r["g"], r["o"]): r["slope"]
        for r in rolling_slope(
            df, "o", "v", window=3, group_cols=["g"]
        ).collect()
    }
    assert out[("a", 3)] == pytest.approx(2.0)
    assert out[("b", 3)] == pytest.approx(-1.0)


# --------------------------------------------------------------- melt


def test_melt_basic(spark):
    df = spark.createDataFrame(
        [("x", 1.0, 10.0), ("y", 2.0, None)],
        "id STRING, a DOUBLE, b DOUBLE",
    )
    out = melt(df, ["id"], ["a", "b"], var_name="m", value_name="val")
    rows = {(r["id"], r["m"]): r["val"] for r in out.collect()}
    assert len(rows) == 4  # NULLs kept
    assert rows[("x", "a")] == 1.0
    assert rows[("x", "b")] == 10.0
    assert rows[("y", "b")] is None
    assert out.columns == ["id", "m", "val"]


def test_melt_casts_ints_to_double(spark):
    df = spark.createDataFrame([("x", 3, 4.5)], "id STRING, n INT, r DOUBLE")
    out = melt(df, ["id"], ["n", "r"]).collect()
    vals = {r["variable"]: r["value"] for r in out}
    assert vals["n"] == 3.0 and isinstance(vals["n"], float)


def test_melt_empty_value_cols_raises(spark):
    df = spark.createDataFrame([("x",)], "id STRING")
    with pytest.raises(ValueError, match="value_cols"):
        melt(df, ["id"], [])
