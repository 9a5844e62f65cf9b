"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The registry is capped at the driver's 50-row capture; 341 further
oracle-verified queries (streaming forms, the corpus-curation family,
the widening batches — retrieval, sketches, graph analytics,
robust/association/inferential statistics, behavioral analytics,
warehouse reports — and the round-12 composed end-to-end exhibits)
live in ``queries.AUX_QUERIES``/``AUX_ORACLES``
and are gated to the same digest discipline by
``tools/aux_correctness.py`` (per-round AUX_CORRECTNESS.json) and the
parameterized pytest in ``tests/test_aux_queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# defensive: the engine package sits next to this file; make the import
# work regardless of the caller's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as _registry
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import core as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (census-count shape, SURVEY.md 7.3) on sf0.001."""
    return _q.q_flagship_census_count(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator cluster from SURVEY.md §2."""
    return dict(_registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every query above."""
    return _registry.oracles()
