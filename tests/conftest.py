from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))


@pytest.fixture(scope="session")
def spark():
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _test_scope():
    """Run each test inside a ``Scope``, so what it checkpoints or
    persists is freed when it ends instead of waiting for Spark's
    GC-driven cleaner while a later test counts stored blocks.
    Session- and module-scoped fixtures are set up before it, outside
    the scope, and keep their materialisations."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    with Scope():
        yield


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def oracle_db():
    """``oracle_db(sf_dir)``: one DuckDB oracle connection per scale
    factor (tools/verify_local.oracle_connection), shared by the suite."""
    from verify_local import oracle_connection

    cons = {}

    def at(sf_dir: str):
        if sf_dir not in cons:
            cons[sf_dir] = oracle_connection(sf_dir)
        return cons[sf_dir]

    yield at
    for con in cons.values():
        con.close()


@contextmanager
def shuffle_partitions(spark, n: int):
    """Set the session's ``spark.sql.shuffle.partitions`` to ``n`` for
    the block, then restore it."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def count_jobs(spark, fn) -> int:
    """Run ``fn()`` and return how many Spark jobs it started: its jobs
    carry a fresh job group, counted by the status tracker once the
    listener bus has delivered their events."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def assert_oracle_parity(spark, con, fn, oracle: str, sf_dir: str) -> None:
    """Run ``fn`` on Spark and ``oracle`` on ``con``; fail with
    tools/verify_local.parity_problems' findings, the driver's gate."""
    from verify_local import parity_problems

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    # the scope frees what the query checkpoints or persists; clearing
    # the cache keeps one query's cached plans out of the next (and out
    # of how later tests' plans print)
    with Scope():
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    spark.catalog.clearCache()
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    problems = parity_problems(scols, srows, dcols, res.fetchall())
    assert not problems, "; ".join(problems)


# The `slow` tier, deselected by pytest.ini: 436 cases whose operators
# or queries another gate already checks end to end.  test_aux_queries
# (344) is the AUX oracle parity that tools/aux_correctness.py writes to
# AUX_CORRECTNESS.json; test_widening_ops (88) pins operators whose AUX
# rows that tool checks; test_plan_audit (4) is tools/plan_audit.py.
SLOW_MODULES = {
    "test_aux_queries",
    "test_plan_audit",
    "test_widening_ops",
}


def pytest_collection_modifyitems(config, items):
    # a slow module named on the command line is not marked, so
    # `pytest tests/test_aux_queries.py` runs its cases instead of
    # deselecting all of them; `pytest tests/` still skips the tier
    named = {
        os.path.splitext(os.path.basename(a.split("::")[0]))[0]
        for a in config.args
    }
    for item in items:
        mod = getattr(item, "module", None)
        if (
            mod is not None
            and mod.__name__ in SLOW_MODULES
            and mod.__name__ not in named
        ):
            item.add_marker(pytest.mark.slow)
