"""Driver-row oracle parity in the default tier.

Each ``QUERIES`` entry runs on Spark at sf0.001 and its DuckDB oracle
runs on the same parquet files, compared by the driver's correctness
gate as tools/verify_local.py states it (``parity_problems``).
"""

from __future__ import annotations

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
