from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_DIR = "/root/testdata/sf0.001"


# --- driver-window test tiers (r13 verdict item 2) -------------------
# Modules whose end-to-end coverage is duplicated by per-round
# committed artifacts: AUX oracle parity (test_aux_queries,
# test_widening_ops rows all live in queries.AUX_QUERIES and are
# regenerated into AUX_CORRECTNESS.json by every bench run) and the
# plan audit (tools/plan_audit.py).  They are marked `slow` so the
# driver's time-boxed `pytest tests/ -x -q` finishes inside its verify
# window (pytest.ini deselects them by default); the full suite —
# `-m "slow or not slow"` — remains the repo's bar and is run before
# every round closes.
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
