"""Planted-fixture tests for the round-9 widening operators: k-core
peel, multi-source BFS, EWMA smoothing, linear multi-touch
attribution, and dedup canonical selection.  Corpus-level oracle
parity is covered by the parameterized AUX test; these pin the
SEMANTICS on inputs small enough to verify by hand (EWMA additionally
against pandas' reference implementation).
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
    linear_attribution,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
    bfs_distances,
    k_core,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import ewma_smooth
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope
from conftest import shuffle_partitions


# ---------------------------------------------------------------- k-core


def test_k_core_cascade_peels_chain_keeps_clique(spark):
    """K4 {1,2,3,4} with a tail 4-5-6-7: k=3 must peel the tail one
    node per round (7 first, then 6, then 5 — a genuine multi-round
    cascade, each removal only exposing the next) and keep exactly
    the K4, every survivor at core degree 3."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    tail = [(4, 5), (5, 6), (6, 7)]
    edges = spark.createDataFrame(k4 + tail, ["src", "dst"])
    with Scope():
        out = k_core(edges, k=3)
        got = {r["node"]: r["core_deg"] for r in out.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_k_core_empty_core_and_messy_input(spark):
    """A star has no 2-core; duplicate/reversed edges and self-loops
    must not create one (canonicalization contract)."""
    star = [(1, 2), (2, 1), (1, 3), (1, 4), (1, 1)]
    edges = spark.createDataFrame(star, ["src", "dst"])
    with Scope():
        out = k_core(edges, k=2)
        rows = out.collect()
    assert rows == []
    assert out.columns == ["node", "core_deg"]


def test_k_core_raises_rather_than_return_non_fixpoint(spark):
    """A long chain at k=2 peels only its two ends per round; with
    max_iterations=1 the fixpoint is out of reach and the contract is
    to raise, never to return a superset of the core."""
    chain = [(i, i + 1) for i in range(1, 8)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(edges, k=2, max_iterations=1)


# ------------------------------------------------------------------ BFS


def test_bfs_distances_path_and_hop_cap(spark):
    """Path 1-2-3-4-5-6, seed {1}, max_hops=4: distances 0..4; node 6
    is beyond the cap and must be absent."""
    path = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    with Scope():
        out = bfs_distances(edges, seeds, max_hops=4)
        got = {r["node"]: r["hops"] for r in out.collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_distances_multi_source_min_and_unreachable(spark):
    """Seeds {1, 6} on the same path: every node takes the MINIMUM
    distance to any seed; a disconnected node (100-101) stays absent."""
    path = [(i, i + 1) for i in range(1, 6)] + [(100, 101)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (6,)], ["node"])
    with Scope():
        out = bfs_distances(edges, seeds, max_hops=4)
        got = {r["node"]: r["hops"] for r in out.collect()}
    assert got == {1: 0, 6: 0, 2: 1, 5: 1, 3: 2, 4: 2}


# ----------------------------------------------------------------- EWMA


def test_ewma_matches_pandas_adjust_true(spark):
    """ewma_smooth is pandas' ewm(alpha, adjust=True).mean() — checked
    for the exact α=0.5 path and a general α, per key."""
    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 3, 5, 8])] + [
        ("b", i, float(v)) for i, v in enumerate([10, 0, 10])
    ]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    for alpha in (0.5, 0.3):
        out = ewma_smooth(df, ["k"], "t", "x", alpha=alpha).collect()
        got = {(r["k"], r["t"]): r["ewma"] for r in out}
        for key in ("a", "b"):
            series = pd.Series(
                [v for kk, _, v in rows if kk == key],
            )
            ref = series.ewm(alpha=alpha, adjust=True).mean()
            for t, want in enumerate(ref):
                assert got[(key, t)] == pytest.approx(want, rel=1e-12)


def test_ewma_alpha_half_integer_inputs_bit_exact(spark):
    """The determinism contract: α=0.5 + integral values ⇒ every
    partial sum is an exact integer-in-double, so the result equals
    the rational closed form Σ 2^i·x_i / (2^(t+1)−1) EXACTLY."""
    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(xs)], ["k", "t", "x"]
    )
    got = {
        r["t"]: r["ewma"]
        for r in ewma_smooth(df, ["k"], "t", "x", alpha=0.5).collect()
    }
    for t in range(len(xs)):
        num = sum(x * 2**i for i, x in enumerate(xs[: t + 1]))
        den = 2 ** (t + 1) - 1
        assert got[t] == num / den  # exact, not approx


# -------------------------------------------------- linear attribution


def _ev(eid, uid, ts_s, typ, val=0.0):
    return (eid, uid, datetime(2024, 1, 1, 0, 0, ts_s), typ, val)


def test_linear_attribution_splits_proportionally(spark):
    """User 1: view, click then purchase(10) → 5 each.  User 2:
    untouched purchase(20) → '(none)'.  User 3: view, view, click then
    purchase(9) → view 6, click 3 (proportional, not per-channel
    uniform)."""
    rows = [
        _ev(1, 1, 1, "view"),
        _ev(2, 1, 2, "click"),
        _ev(3, 1, 3, "purchase", 10.0),
        _ev(4, 2, 1, "purchase", 20.0),
        _ev(5, 3, 1, "view"),
        _ev(6, 3, 2, "view"),
        _ev(7, 3, 3, "click"),
        _ev(8, 3, 4, "purchase", 9.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    out = linear_attribution(df, "purchase", ["view", "click"])
    got = {
        r["channel"]: (r["n_conversions"], r["attributed_value"])
        for r in out.collect()
    }
    assert got == {
        "view": (2, 11.0),
        "click": (2, 8.0),
        "(none)": (1, 20.0),
    }


def test_linear_attribution_equal_ts_touch_visible(spark):
    """A touch at the exact conversion timestamp participates in the
    split (ties to the touch — same boundary rule as last-touch)."""
    rows = [
        _ev(1, 1, 5, "view"),
        _ev(2, 1, 5, "purchase", 8.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    out = linear_attribution(df, "purchase", ["view", "click"])
    got = {r["channel"]: r["attributed_value"] for r in out.collect()}
    assert got == {"view": 8.0}


def test_linear_attribution_only_preceding_touches_count(spark):
    """Touches strictly after the conversion earn nothing."""
    rows = [
        _ev(1, 1, 1, "click"),
        _ev(2, 1, 2, "purchase", 6.0),
        _ev(3, 1, 3, "view"),
        _ev(4, 1, 4, "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    out = linear_attribution(df, "purchase", ["view", "click"])
    got = {r["channel"]: r["attributed_value"] for r in out.collect()}
    assert got == {"click": 6.0}


# ------------------------------------------------- weighted shortest path


def test_shortest_path_prefers_cheap_two_hop_over_heavy_direct(spark):
    """1→2→3 costs 2+3=5 while the direct 1→3 edge costs 10: with
    hops to spare the cheap path wins; with max_hops=1 only the heavy
    direct edge is reachable."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        shortest_path_costs,
    )

    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 3), (1, 3, 10)], ["src", "dst", "weight"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    with Scope():
        out = shortest_path_costs(edges, seeds, max_hops=4)
        got = {r["node"]: r["cost"] for r in out.collect()}
    assert got == {1: 0, 2: 2, 3: 5}

    with Scope():
        out1 = shortest_path_costs(edges, seeds, max_hops=1)
        got1 = {r["node"]: r["cost"] for r in out1.collect()}
    assert got1 == {1: 0, 2: 2, 3: 10}


def test_shortest_path_multi_source_and_directedness(spark):
    """Directed: an edge INTO a seed does not make its tail reachable;
    two seeds take the elementwise minimum."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        shortest_path_costs,
    )

    edges = spark.createDataFrame(
        [(1, 2, 5), (9, 1, 1), (6, 2, 1)], ["src", "dst", "weight"]
    )
    seeds = spark.createDataFrame([(1,), (6,)], ["node"])
    with Scope():
        out = shortest_path_costs(edges, seeds, max_hops=3)
        got = {r["node"]: r["cost"] for r in out.collect()}
    # node 2: min(5 via 1, 1 via 6) = 1; node 9 unreachable (edge points in)
    assert got == {1: 0, 6: 0, 2: 1}


# ------------------------------------------------------- label spreading


def test_label_spreading_plurality_and_tie_break(spark):
    """Node 4 has labeled neighbors {1:A, 2:A, 3:B} -> plurality A;
    node 5 has {1:A, 3:B} -> tie, smallest label wins (A=10 < B=20).
    Seeds never change even when outvoted by neighbors."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        label_spreading,
    )

    und = [(1, 4), (2, 4), (3, 4), (1, 5), (3, 5), (1, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    seeds = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], ["node", "label"]
    )
    with Scope():
        out = label_spreading(edges, seeds, rounds=1)
        got = {r["node"]: r["label"] for r in out.collect()}
    # seed 3 keeps B=20 though both its neighbors (1, 5-unlabeled) vote A
    assert got == {1: 10, 2: 10, 3: 20, 4: 10, 5: 10}


def test_label_spreading_round_bounded_reach(spark):
    """A path 1-2-3-4 seeded only at 1: after r rounds exactly the
    nodes within r hops are labeled (synchronous frontier growth)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        label_spreading,
    )

    und = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1, 7)], ["node", "label"])
    with Scope():
        out1 = label_spreading(edges, seeds, rounds=1)
        got1 = {r["node"] for r in out1.collect()}
    with Scope():
        out3 = label_spreading(edges, seeds, rounds=3)
        got3 = {r["node"]: r["label"] for r in out3.collect()}
    assert got1 == {1, 2}
    assert got3 == {1: 7, 2: 7, 3: 7, 4: 7}


# ------------------------------------------------------ gaps-and-islands


def test_streaks_islands_and_multiple_days_per_bucket(spark):
    """User 1 active on days 1,2,3 then 6,7 (two streaks, longest 3);
    duplicate events inside a day must not inflate run lengths.
    User 2 has a single day (one streak of 1)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.intervals import (
        streaks,
    )

    rows = [
        (1, datetime(2024, 1, 1, 9)),
        (1, datetime(2024, 1, 1, 17)),  # same day, second event
        (1, datetime(2024, 1, 2, 3)),
        (1, datetime(2024, 1, 3, 23)),
        (1, datetime(2024, 1, 6, 12)),
        (1, datetime(2024, 1, 7, 1)),
        (2, datetime(2024, 1, 5, 8)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = streaks(df, "ts", ["user_id"], grain="day")
    got = {
        r["user_id"]: (r["active_days"], r["n_streaks"], r["longest_streak"])
        for r in out.collect()
    }
    assert got == {1: (5, 2, 3), 2: (1, 1, 1)}


def test_streaks_hour_grain(spark):
    """Hour grain: events at 9:05, 9:55, 10:10, 13:00 -> buckets
    {9,10,13}: one 2-hour streak and one singleton."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.intervals import (
        streaks,
    )

    rows = [
        (1, datetime(2024, 1, 1, 9, 5)),
        (1, datetime(2024, 1, 1, 9, 55)),
        (1, datetime(2024, 1, 1, 10, 10)),
        (1, datetime(2024, 1, 1, 13, 0)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = streaks(df, "ts", ["user_id"], grain="hour")
    r = out.collect()[0]
    assert (r["active_hours"], r["n_streaks"], r["longest_streak"]) == (3, 2, 2)


# ------------------------------------------------------------- skyline


def test_skyline_2d_dominance_ties_and_duplicates(spark):
    """(1,5) dominates (2,5) (equal y, worse x) and (1,9); (2,3)
    survives (worse x, better y); duplicates collapse; a point
    dominated only jointly — (3,4) vs frontier {(1,5),(2,3)} — is
    dominated by (2,3) and must not appear; nulls drop."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import (
        skyline_2d,
    )

    rows = [
        (1, 5), (1, 5), (2, 5), (1, 9), (2, 3), (3, 4), (None, 1), (0, None),
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    with Scope():
        out = skyline_2d(df, "x", "y")
        got = {(r["x"], r["y"]) for r in out.collect()}
    assert got == {(1, 5), (2, 3)}


def test_skyline_2d_cross_partition_prefix_min(spark):
    """With 3 shuffle partitions the prefix min must flow ACROSS range
    partitions: a strictly improving staircase keeps every point; a
    flat tail after the global min keeps none of the tail."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import (
        skyline_2d,
    )

    stairs = [(i, 100 - i) for i in range(0, 50)]          # all frontier
    tail = [(100 + i, 51 + i) for i in range(0, 50)]       # all dominated
    df = spark.createDataFrame(stairs + tail, ["x", "y"])
    with shuffle_partitions(spark, 3), Scope():
        out = skyline_2d(df, "x", "y")
        got = {(r["x"], r["y"]) for r in out.collect()}
    assert got == set(stairs)


# ------------------------------------------------------ interval merge


def test_merge_intervals_overlap_touch_and_containment(spark):
    """[1,5]+[3,6] overlap -> [1,6]; [6,8] touches -> fused to [1,8];
    [2,3] contained adds nothing; [10,12] stands alone.  Keys do not
    interact."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.intervals import (
        merge_intervals,
    )

    rows = [
        ("a", 1, 5), ("a", 3, 6), ("a", 6, 8), ("a", 2, 3), ("a", 10, 12),
        ("b", 4, 9),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    out = merge_intervals(df, "s", "e", ["k"])
    got = {(r["k"], r["s"], r["e"]) for r in out.collect()}
    assert got == {("a", 1, 8), ("a", 10, 12), ("b", 4, 9)}


def test_merge_intervals_later_long_interval_bridges(spark):
    """Running-max (not lag) semantics: after [1,10], the short [2,3]
    must NOT reset the reach — [4,6] still fuses into [1,10]."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.intervals import (
        merge_intervals,
    )

    rows = [("a", 1, 10), ("a", 2, 3), ("a", 4, 6), ("a", 11, 12)]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    out = merge_intervals(df, "s", "e", ["k"])
    got = {(r["s"], r["e"]) for r in out.collect()}
    # 11 > max-end 10: a gap of 1 does NOT fuse (touch means s <= end)
    assert got == {(1, 10), (11, 12)}


# ----------------------------------------------------- weighted median


def test_weighted_percentile_exact_boundary_and_groups(spark):
    """Group a: values 1,2,3 with weights 1,1,2 (total 4): cum at 2 is
    2 = total/2, so 2*cum >= tot picks 2 (not 3).  Group b: weight
    mass on one value picks it regardless of row count.  p25 via
    num/den = 1/4."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
        weighted_percentile,
    )

    rows = [
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 2),
        ("b", 5, 1), ("b", 7, 10), ("b", 9, 1),
    ]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    med = weighted_percentile(df, "v", "w", ["g"])
    got = {r["g"]: r["p1_2_v"] for r in med.collect()}
    assert got == {"a": 2, "b": 7}
    q1 = weighted_percentile(df, "v", "w", ["g"], num=1, den=4)
    got1 = {r["g"]: r["p1_4_v"] for r in q1.collect()}
    # group a: total 4, quarter mass reached at value 1 (cum 1 >= 1)
    assert got1 == {"a": 1, "b": 7}


def test_weighted_percentile_duplicate_values_collapse(spark):
    """Duplicate (group, value) rows must pool their weights before
    the cumulative scan: three (a,2,w=1) rows act as one w=3 mass."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
        weighted_percentile,
    )

    rows = [("a", 2, 1), ("a", 2, 1), ("a", 2, 1), ("a", 10, 2)]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    got = {r["g"]: r["p1_2_v"] for r in weighted_percentile(
        df, "v", "w", ["g"]
    ).collect()}
    assert got == {"a": 2}


# --------------------------------------------------------------- CUPED


def test_cuped_perfect_covariate_equalizes_arms(spark):
    """With y = 2x exactly, theta = 2, the covariate explains all
    variance (100%), and both arms' adjusted means collapse to the
    pooled metric mean."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import cuped

    rows = [
        (0, 1.0, 2.0), (0, 3.0, 6.0), (0, 5.0, 10.0),
        (1, 2.0, 4.0), (1, 4.0, 8.0), (1, 10.0, 20.0),
    ]
    df = spark.createDataFrame(rows, ["arm", "x", "y"])
    out = {r["arm"]: r for r in cuped(df, "y", "x", "arm").collect()}
    assert out[0]["theta"] == pytest.approx(2.0, abs=1e-6)
    assert out[0]["var_reduction_pct"] == pytest.approx(100.0, abs=1e-3)
    pooled_mean_y = (2 + 6 + 10 + 4 + 8 + 20) / 6
    assert out[0]["mean_y_adj"] == pytest.approx(pooled_mean_y, abs=1e-5)
    assert out[1]["mean_y_adj"] == pytest.approx(pooled_mean_y, abs=1e-5)


def test_cuped_uncorrelated_covariate_changes_nothing(spark):
    """Zero covariance -> theta 0 -> adjusted means equal raw means."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import cuped

    # x symmetric around 2 within each y level: cov(x, y) = 0
    rows = [
        (0, 1.0, 5.0), (0, 3.0, 5.0), (1, 1.0, 9.0), (1, 3.0, 9.0),
    ]
    df = spark.createDataFrame(rows, ["arm", "x", "y"])
    out = {r["arm"]: r for r in cuped(df, "y", "x", "arm").collect()}
    assert out[0]["theta"] == pytest.approx(0.0, abs=1e-6)
    assert out[0]["mean_y_adj"] == pytest.approx(5.0, abs=1e-6)
    assert out[1]["mean_y_adj"] == pytest.approx(9.0, abs=1e-6)


# ------------------------------------------------------------- privacy


def test_k_anonymity_audit_flags_small_groups_only(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
        k_anonymity_audit,
    )

    rows = [("US", 30)] * 3 + [("US", 40)] * 2 + [("DE", 30)] * 5
    df = spark.createDataFrame(rows, ["country", "age"])
    out = k_anonymity_audit(df, ["country", "age"], k=4)
    got = {(r["country"], r["age"]): r["n"] for r in out.collect()}
    assert got == {("US", 30): 3, ("US", 40): 2}
    assert k_anonymity_audit(df, ["country", "age"], k=2).count() == 0
    empty = k_anonymity_audit(df, ["country"], k=2)
    assert empty.collect() == []  # both countries have >= 2 rows


# ----------------------------------------------------------------- PSI


def test_psi_drift_identical_distributions_near_zero(spark):
    """Same distribution in both populations: every psi_term ~ 0 and
    deciles hold ~n/10 base rows each."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import psi_drift

    rows = [("a", float(i % 100)) for i in range(1000)] + [
        ("b", float(i % 100)) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, ["pop", "v"])
    out = psi_drift(df, "v", "pop", "a", "b").collect()
    assert len(out) == 10
    assert all(abs(r["psi_term"]) < 1e-4 for r in out)
    assert all(r["n_base"] == 100 for r in out)
    total = sum(r["psi_term"] for r in out)
    assert abs(total) < 1e-3


def test_psi_drift_shifted_distribution_large_terms(spark):
    """Comparison mass concentrated in the top base decile: large
    positive PSI, and ties must land wholly in one bin (base values
    have heavy ties)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import psi_drift

    base = [("a", float(i % 10)) for i in range(1000)]     # ties: 100 per value
    shifted = [("b", 9.0)] * 500
    df = spark.createDataFrame(base + shifted, ["pop", "v"])
    out = {r["bin"]: r for r in psi_drift(df, "v", "pop", "a", "b").collect()}
    assert len(out) == 10
    # all cmp mass in the last bin; no engine tie-splitting anywhere
    assert out[9]["n_cmp"] == 500 and out[9]["n_base"] == 100
    psi = sum(r["psi_term"] for r in out.values())
    assert psi > 1.0


# ------------------------------------------------- personalized pagerank


def test_personalized_pagerank_mass_and_locality(spark):
    """Two disjoint triangles, seed in the first only: all walk mass
    stays in the seeded triangle (second component absent), total mass
    sums to 1 (symmetrized graph, no dangling loss), and the seed
    outranks its neighbors."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    tri1 = [(1, 2), (2, 3), (3, 1)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(tri1 + tri2, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    with Scope():
        out = personalized_pagerank(edges, seeds, iterations=3)
        got = {r["node"]: r["score"] for r in out.collect()}
    assert set(got) == {1, 2, 3}
    assert abs(sum(got.values()) - 1.0) < 1e-4
    assert got[1] > got[2] == got[3]


def test_personalized_pagerank_restart_only_on_seeds(spark):
    """Path 1-2-3, seed {1}: node 3 holds only twice-damped walk
    mass; hand-check the 2-iteration values exactly (to rounding)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    with Scope():
        out = personalized_pagerank(edges, seeds, iterations=2, damping=0.85)
        got = {r["node"]: r["score"] for r in out.collect()}
    # r0 = {1:1}; iter1: c = {2: 1/1}; r1 = {1:0.15, 2:0.85}
    # iter2: c = {2: 0.15, 1: 0.425, 3: 0.425}
    # r2 = {1: 0.15+0.85*0.425, 2: 0.85*0.15, 3: 0.85*0.425}
    assert got[1] == pytest.approx(0.15 + 0.85 * 0.425, abs=1e-6)
    assert got[2] == pytest.approx(0.85 * 0.15, abs=1e-6)
    assert got[3] == pytest.approx(0.85 * 0.425, abs=1e-6)


# --------------------------------------------------------- path n-grams


def test_path_ngrams_window_and_tiebreak(spark):
    """User 1: A B A B A yields trigrams ABA, BAB, ABA; incomplete
    prefixes excluded; sessions don't leak across keys; count ties
    rank-ordered by path so top_k=1 picks 'A > B > A' (count 2)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
        path_ngrams,
    )

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0, 1), "A"),
        (2, 1, datetime(2024, 1, 1, 0, 0, 2), "B"),
        (3, 1, datetime(2024, 1, 1, 0, 0, 3), "A"),
        (4, 1, datetime(2024, 1, 1, 0, 0, 4), "B"),
        (5, 1, datetime(2024, 1, 1, 0, 0, 5), "A"),
        (6, 2, datetime(2024, 1, 1, 0, 0, 1), "B"),  # only 1 event: no trigram
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = path_ngrams(
        df, "ts", "event_type", ["user_id"], n=3, top_k=20, tiebreak_col="event_id"
    )
    got = {r["path"]: r["n_occurrences"] for r in out.collect()}
    assert got == {"A > B > A": 2, "B > A > B": 1}
    top1 = path_ngrams(
        df, "ts", "event_type", ["user_id"], n=3, top_k=1, tiebreak_col="event_id"
    ).collect()
    assert [(r["path"], r["n_occurrences"]) for r in top1] == [("A > B > A", 2)]


# --------------------------------------------------------- group sample


def test_group_sample_exact_k_and_salt_rotation(spark):
    """Each group yields exactly min(k, size) rows; the same salt is
    reproducible; a different salt picks a (generally) different set
    but still k rows."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import (
        group_sample,
    )

    rows = [("a", i) for i in range(20)] + [("b", 100)]
    df = spark.createDataFrame(rows, ["g", "id"])
    s1 = group_sample(df, ["g"], "id", k=3, salt=1)
    got1 = sorted((r["g"], r["id"]) for r in s1.collect())
    got1b = sorted((r["g"], r["id"]) for r in group_sample(
        df, ["g"], "id", k=3, salt=1
    ).collect())
    assert got1 == got1b
    assert sum(1 for g, _ in got1 if g == "a") == 3
    assert sum(1 for g, _ in got1 if g == "b") == 1  # min(k, size)
    got2 = sorted((r["g"], r["id"]) for r in group_sample(
        df, ["g"], "id", k=3, salt=2
    ).collect())
    assert len(got2) == 4


# ----------------------------------------------- seasonal-naive backtest


def test_seasonal_naive_backtest_alignment_and_gaps(spark):
    """Values on days 1..9 with day 8 MISSING: day-9 forecast must
    come from day 2 (calendar join), and day 8+7 never appears.  A
    row-offset lag would misalign here."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import (
        seasonal_naive_backtest,
    )

    rows = []
    for day, v in [(1, 10.0), (2, 20.0), (3, 30.0), (9, 25.0)]:
        rows.append(("t", datetime(2024, 1, day, 12), v))
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = seasonal_naive_backtest(df, "ts", "v", ["k"], season_days=7)
    r = out.collect()[0]
    # only day 9 has a day-2 ancestor: |25 - 20| = 5
    assert (r["n_days"], r["mae"]) == (1, 5.0)
    assert r["smape"] == pytest.approx(2 * 5 / 45, abs=1e-6)


def test_seasonal_naive_backtest_zero_denominator(spark):
    """Both sides zero -> sMAPE term 0, not NaN."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import (
        seasonal_naive_backtest,
    )

    rows = [
        ("t", datetime(2024, 1, 1, 1), 0.0),
        ("t", datetime(2024, 1, 8, 1), 0.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    r = seasonal_naive_backtest(df, "ts", "v", ["k"]).collect()[0]
    assert (r["n_days"], r["mae"], r["smape"]) == (1, 0.0, 0.0)
