"""Distributed prefix-sum rank/cumsum operators: equivalence against
the single-task unpartitioned-window forms they replace.

The contract under test: ``global_cumsum`` / ``global_rank`` /
``global_ntile_pct`` (operators/windows.py) and
``roc_auc_distributed`` (operators/stats.py) produce BIT-IDENTICAL
results to ``Window.orderBy(...)`` forms while keeping every stage
parallel (range repartition -> per-slice window -> broadcast offsets).
"""

from __future__ import annotations

import random
import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import (
    stats,
    windows,
)
from conftest import shuffle_partitions


def _synthetic(spark, n=500, seed=7):
    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 49) / 10.0, rng.random() < 0.4)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id LONG, v DOUBLE, y BOOLEAN")


def test_global_cumsum_matches_window(spark):
    df = _synthetic(spark)
    order = [F.col("v").asc(), F.col("id").asc()]
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("v").over(w).alias("c")).collect()
    }
    with shuffle_partitions(spark, 8):
        out = windows.global_cumsum(df, order, {"v": "c"})
    got = {r["id"]: r["c"] for r in out.collect()}
    assert got.keys() == expect.keys()
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, k


def test_global_cumsum_range_shuffle_follows_session(spark):
    """The range shuffle has as many slices as the session's
    ``spark.sql.shuffle.partitions``."""
    df = _synthetic(spark)
    with shuffle_partitions(spark, 5):
        out = windows.global_cumsum(
            df, [F.col("v").asc(), F.col("id").asc()], {"v": "c"}
        )
    plan = out._jdf.queryExecution().executedPlan().toString()
    slices = re.findall(r"rangepartitioning\(.*?, (\d+)\)", plan)
    assert slices and set(slices) == {"5"}, plan


def test_global_cumsum_releases_staged_cache(spark):
    """The staged (range-partitioned, pid-stamped) frame is persisted
    for determinism; behind every wrapper (.drop in global_rank, the
    tile select in global_ntile_pct) the enclosing Scope must actually
    unpersist it — Spark's cache manager never releases on GC."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    # compared by RDD id: blocks an earlier test left to Spark's
    # GC-driven cleaner may be released while this test runs
    def stored() -> set:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    df = _synthetic(spark, n=200)
    order = [F.col("v").asc(), F.col("id").asc()]
    for fn in (
        lambda: windows.global_cumsum(df, order, {"v": "c"}),
        lambda: windows.global_rank(df, order),
        lambda: windows.global_ntile_pct(df, order, 4),
    ):
        before = stored()
        with shuffle_partitions(spark, 4), Scope():
            out = fn()
            out.collect()
            assert stored() - before  # the staged frame is cached
        assert not stored() - before


def test_global_rank_matches_row_number(spark):
    df = _synthetic(spark)
    order = [F.col("v").desc(), F.col("id").asc()]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(*order)).alias("rn")
        ).collect()
    }
    with shuffle_partitions(spark, 8):
        out = windows.global_rank(df, order)
    got = {r["id"]: r["rank"] for r in out.collect()}
    assert got == expect


def test_global_ntile_pct_matches_sql_semantics(spark):
    # n = 503 rows, k = 10: n % k = 3, so SQL ntile gives the first 3
    # tiles 51 rows and the rest 50 — the exact uneven-split semantics
    df = _synthetic(spark, n=503)
    order = [F.col("v").asc(), F.col("id").asc()]
    w = Window.orderBy(*order)
    expect = {
        r["id"]: (r["t"], round(r["p"], 9))
        for r in df.select(
            "id",
            F.ntile(10).over(w).alias("t"),
            F.percent_rank().over(w).alias("p"),
        ).collect()
    }
    with shuffle_partitions(spark, 8):
        out = windows.global_ntile_pct(df, order, 10)
    got = {
        r["id"]: (r["tile"], round(r["pct_rank"], 9)) for r in out.collect()
    }
    assert got == expect


def test_global_ntile_fewer_rows_than_tiles(spark):
    # n < k: every row its own tile, pct_rank well-defined (n=1 -> 0.0)
    df = spark.createDataFrame([(1, 5.0), (2, 3.0), (3, 9.0)], "id LONG, v DOUBLE")
    order = [F.col("v").asc(), F.col("id").asc()]
    with shuffle_partitions(spark, 4):
        tiled = windows.global_ntile_pct(df, order, 10)
    out = {r["id"]: (r["tile"], r["pct_rank"]) for r in tiled.collect()}
    assert out == {2: (1, 0.0), 1: (2, 0.5), 3: (3, 1.0)}
    one = windows.global_ntile_pct(
        spark.createDataFrame([(1, 5.0)], "id LONG, v DOUBLE"), order, 10
    ).collect()
    assert (one[0]["tile"], one[0]["pct_rank"]) == (1, 0.0)


def test_roc_auc_distributed_matches_window_form(spark):
    df = _synthetic(spark, n=800, seed=11)
    a = stats.roc_auc(df, "v", "y").collect()[0]
    with shuffle_partitions(spark, 8):
        b = stats.roc_auc_distributed(df, "v", "y").collect()[0]
    assert (a["n_pos"], a["n_neg"], a["auc"]) == (
        b["n_pos"],
        b["n_neg"],
        b["auc"],
    )


def test_global_rank_big_table_window_is_partitioned(spark):
    """The corpus-sized window in the distributed plan is PARTITIONED
    (per-slice), never a global empty-partition-spec window over the
    input: the only unpartitioned window runs over the
    partitions-sized totals table."""
    df = _synthetic(spark)
    with shuffle_partitions(spark, 8):
        ranked = windows.global_rank(df, [F.col("v").asc(), F.col("id").asc()])
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # rows flow through a range exchange, proving the per-slice layout
    assert "rangepartitioning" in plan.lower()
