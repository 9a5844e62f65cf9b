"""Round-10 widening batch 30: Markov removal-effect attribution."""

from __future__ import annotations

import datetime as dt

import pytest

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
    _markov_cells_and_converters,
    markov_attribution,
    markov_journey_edges,
)

_SCHEMA = "u INT, ts TIMESTAMP, ch STRING, eid INT"


def _ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)


def test_edges_basic_chain(spark):
    rows = [
        (1, _ts(0), "A", 1),
        (1, _ts(1), "buy", 2),
        (2, _ts(0), "A", 3),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    cells = {
        (r["src"], r["dst"]): (r["n_edges"], r["p"])
        for r in markov_journey_edges(df, "u", "ts", "ch", "buy", "eid").collect()
    }
    assert cells[("__START__", "A")][0] == 2
    assert cells[("A", "__CONV__")] == (1, 0.5)
    assert cells[("A", "__NULL__")] == (1, 0.5)


def test_edges_touch_after_conversion_ignored(spark):
    rows = [
        (1, _ts(0), "A", 1),
        (1, _ts(1), "buy", 2),
        (1, _ts(2), "B", 3),  # post-conversion: must not appear
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    cells = {
        (r["src"], r["dst"])
        for r in markov_journey_edges(df, "u", "ts", "ch", "buy", "eid").collect()
    }
    assert ("A", "__CONV__") in cells
    assert not any("B" in c for c in cells)


def test_edges_bare_converter(spark):
    rows = [(1, _ts(0), "buy", 1)]
    df = spark.createDataFrame(rows, _SCHEMA)
    cells = {
        (r["src"], r["dst"]): r["p"]
        for r in markov_journey_edges(df, "u", "ts", "ch", "buy", "eid").collect()
    }
    assert cells == {("__START__", "__CONV__"): 1.0}


def test_attribution_single_channel_full_credit(spark):
    rows = [
        (1, _ts(0), "A", 1),
        (1, _ts(1), "buy", 2),
        (2, _ts(0), "A", 3),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    out = markov_attribution(
        df, "u", "ts", "ch", "buy", channels=["A", "B"], tiebreak_col="eid"
    ).collect()
    by = {r["channel"]: r for r in out}
    assert by["A"]["base_conv_prob"] == pytest.approx(0.5)
    assert by["A"]["removal_effect"] == pytest.approx(1.0)
    assert by["A"]["attribution_share"] == pytest.approx(1.0)
    assert by["A"]["attributed_conversions"] == pytest.approx(1.0)
    assert by["B"]["removal_effect"] == pytest.approx(0.0)


def test_attribution_dead_end_channel_zero(spark):
    rows = [
        (1, _ts(0), "A", 1),
        (1, _ts(1), "buy", 2),
        (2, _ts(0), "B", 3),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    by = {
        r["channel"]: r
        for r in markov_attribution(
            df, "u", "ts", "ch", "buy", channels=["A", "B"], tiebreak_col="eid"
        ).collect()
    }
    # remove A: no conversion path left -> RE 1; remove B: path intact
    assert by["A"]["removal_effect"] == pytest.approx(1.0)
    assert by["B"]["removal_effect"] == pytest.approx(0.0)
    assert by["A"]["attribution_share"] == pytest.approx(1.0)


def test_attribution_two_hop_path(spark):
    # every conversion goes A -> B -> buy: both channels necessary,
    # equal removal effects and 50/50 shares
    rows = []
    eid = 0
    for u in range(4):
        rows += [(u, _ts(0), "A", eid), (u, _ts(1), "B", eid + 1),
                 (u, _ts(2), "buy", eid + 2)]
        eid += 3
    df = spark.createDataFrame(rows, _SCHEMA)
    by = {
        r["channel"]: r
        for r in markov_attribution(
            df, "u", "ts", "ch", "buy", channels=["A", "B"], tiebreak_col="eid"
        ).collect()
    }
    assert by["A"]["removal_effect"] == pytest.approx(1.0)
    assert by["B"]["removal_effect"] == pytest.approx(1.0)
    assert by["A"]["attribution_share"] == pytest.approx(0.5)
    assert by["A"]["attributed_conversions"] == pytest.approx(2.0)


def test_attribution_no_effect_shares_null(spark):
    rows = [
        (1, _ts(0), "buy", 1),  # bare converter
        (2, _ts(0), "A", 2),  # A never converts
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    by = {
        r["channel"]: r
        for r in markov_attribution(
            df, "u", "ts", "ch", "buy", channels=["A"], tiebreak_col="eid"
        ).collect()
    }
    assert by["A"]["removal_effect"] == pytest.approx(0.0)
    assert by["A"]["attribution_share"] is None


def test_attribution_bad_params_raise(spark):
    df = spark.createDataFrame([(1, _ts(0), "A", 1)], _SCHEMA)
    with pytest.raises(ValueError, match="channels"):
        markov_attribution(df, "u", "ts", "ch", "buy", channels=[])
    with pytest.raises(ValueError, match="conversion"):
        markov_attribution(df, "u", "ts", "ch", "buy", channels=["buy"])


def test_attribution_null_ts_converter_counts_in_n_conv(spark):
    """A converter whose conversion events ALL carry NULL timestamps is
    a non-converter to the edge builder (its touches end in __NULL__)
    but IS a converter to the oracle's count(DISTINCT entity) over
    conversion events — the r13 advice item: n_conv must use the
    distinct-entity count, not the summed __CONV__ edge count."""
    rows = [
        # u=1: a normal converter through A
        (1, _ts(0), "A", 1),
        (1, _ts(1), "buy", 2),
        # u=2: touches A, converts with a NULL timestamp — excluded
        # from the journey's __CONV__ edges but counted by the oracle
        (2, _ts(0), "A", 3),
        (2, None, "buy", 4),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    cells, n_converters = _markov_cells_and_converters(
        df, "u", "ts", "ch", "buy", "eid"
    )
    by = {(r["src"], r["dst"]): r["n_edges"] for r in cells.collect()}
    # edge classification unchanged: u=2 ends in __NULL__
    assert by[("A", "__CONV__")] == 1
    assert by[("A", "__NULL__")] == 1
    # but the distinct-converter count sees both
    assert n_converters == 2
    att = {
        r["channel"]: r
        for r in markov_attribution(
            df, "u", "ts", "ch", "buy", channels=["A"], tiebreak_col="eid"
        ).collect()
    }
    # share 1.0 x n_conv 2 (the CONV-edge sum would have said 1)
    assert att["A"]["attributed_conversions"] == pytest.approx(2.0)


def test_attribution_null_entity_conversions_ignored(spark):
    """NULL-entity conversion events match the oracle everywhere: not
    counted by count(DISTINCT entity), and never a bare __START__ →
    __CONV__ edge (SQL NOT IN excludes a NULL probe)."""
    rows = [
        (1, _ts(0), "A", 1),
        (1, _ts(1), "buy", 2),
        (None, _ts(0), "buy", 3),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    cells, n_converters = _markov_cells_and_converters(
        df, "u", "ts", "ch", "buy", "eid"
    )
    by = {(r["src"], r["dst"]): r["n_edges"] for r in cells.collect()}
    assert by[("__START__", "A")] == 1
    assert by[("A", "__CONV__")] == 1
    assert ("__START__", "__CONV__") not in by
    assert n_converters == 1
