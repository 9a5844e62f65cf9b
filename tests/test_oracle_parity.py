"""Driver-row oracle parity in the default tier.

Each ``QUERIES`` entry runs on Spark at sf0.001 and its DuckDB oracle
runs on the same parquet files, compared by the driver's correctness
gate as tools/verify_local.py states it (``parity_problems``).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from conftest import SF_DIR, assert_oracle_parity

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

ORACLES = q.oracles()


@pytest.mark.parametrize("name", list(q.QUERIES))
def test_driver_query_matches_oracle(spark, oracle_db, name):
    assert_oracle_parity(spark, oracle_db(SF_DIR), q.QUERIES[name], ORACLES[name], SF_DIR)


@pytest.mark.parametrize("partitions", ["4", "8"])
def test_brier_decomposition_ignores_partition_count(spark, oracle_db, partitions):
    """At sf0.01 the Brier score is exactly 0.3332215, a rounding tie;
    only an order-independent sum rounds it the same way at every
    partition count."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try:
        assert_oracle_parity(spark, oracle_db(sf_dir), q.AUX_QUERIES["brier_decomposition"],
                             q.AUX_ORACLES["brier_decomposition"], sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _write_census_tables(d, nation, customer, orders, shipdates) -> str:
    """Tiny flagship inputs in ``d``, typed like the fixtures; the
    fixture's other tables are linked in so the oracle connection
    finds every view it creates."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from verify_local import TABLES

    def ts(s):
        return None if s is None else dt.datetime.fromisoformat(s)

    tables = {
        "nation": pa.table({
            "n_nationkey": pa.array([n for n, _ in nation], pa.int32()),
            "n_regionkey": pa.array([r for _, r in nation], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array([c for c, _, _ in customer], pa.int64()),
            "c_nationkey": pa.array([n for _, _, n in customer], pa.int32()),
            "c_mktsegment": pa.array([s for _, s, _ in customer], pa.string()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
            "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
            "o_orderpriority": pa.array([o[2] for o in orders], pa.string()),
            "o_orderdate": pa.array([ts(o[3]) for o in orders], pa.timestamp("us")),
        }),
        "lineitem": pa.table({
            "l_shipdate": pa.array([ts(s) for s in shipdates], pa.timestamp("us")),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, str(d / f"{name}.parquet"))
    for name in TABLES:
        if name not in tables:
            os.symlink(os.path.join(SF_DIR, f"{name}.parquet"), d / f"{name}.parquet")
    return str(d)


def test_flagship_edge_inputs_match_oracle(spark, tmp_path):
    """The one-scan flagship against ``FLAGSHIP_SQL`` on DuckDB over
    inputs the fixtures lack: a NULL priority (never the max), a NULL
    order key (its group counts 0), a duplicated customer row (counted
    once), the top priority tied across nations, and a watermark that
    leaves the fact empty (0 rows on both engines)."""
    from verify_local import oracle_connection, parity_problems

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.core import (
        FLAGSHIP_SQL,
        q_flagship_census_count,
    )

    nation = [(0, 0), (1, 1), (2, 1), (3, 2)]  # nations 0-2 pass the region cut
    customer = [
        (10, "BUILDING", 0), (11, "building", 1), (11, "building", 1),
        (12, "BUILDING", 2), (13, "BUILDING", 3), (14, "AUTOMOBILE", 0),
    ]
    orders = [
        (1, 10, "5-LOW", "1997-01-01"), (1, 10, "5-LOW", "1997-01-01"),
        (2, 10, "5-LOW", "1997-01-01"), (3, 11, "5-LOW", "1997-01-01"),
        (8, 11, "5-LOW", "1997-01-02"), (4, 12, "3-MEDIUM", "1997-01-01"),
        (5, 12, None, "1997-02-01"), (None, 12, "5-LOW", "1997-03-01"),
        (6, 13, "5-LOW", "1997-01-01"), (7, 10, "5-LOW", "1995-06-01"),
        (9, 10, "1-URGENT", "1997-01-01"),
    ]
    cases = {
        "edges": (["1996-01-01", "1999-01-01"], [
            (0, dt.datetime(1997, 1, 1), 2), (1, dt.datetime(1997, 1, 1), 1),
            (1, dt.datetime(1997, 1, 2), 1), (2, dt.datetime(1997, 3, 1), 0),
        ]),
        "empty": (["1997-12-31"], []),
    }
    for case, (shipdates, expected) in cases.items():
        d = tmp_path / case
        d.mkdir()
        sf_dir = _write_census_tables(d, nation, customer, orders, shipdates)
        sdf = q_flagship_census_count(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        con = oracle_connection(sf_dir)
        try:
            res = con.execute(FLAGSHIP_SQL)
            dcols = [c[0] for c in res.description]
            drows = res.fetchall()
        finally:
            con.close()
        assert sorted(srows) == expected, case
        problems = parity_problems(sdf.columns, srows, dcols, drows)
        # an empty result is the expected answer here, not a vacuous check
        assert problems == ([] if expected else ["0 rows: vacuous check"]), (case, problems)
