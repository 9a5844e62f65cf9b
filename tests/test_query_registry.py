"""The query catalog's contract, checked without a Spark session.

Every query is registered once, with its DuckDB oracle, in exactly one
of the driver and AUX registries, and ``catalog.register`` refuses a
second registration of a name.  What registration cannot see is a
query function defined twice in its family module: the second
definition silently replaces the first at import time.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib

import pytest

import __spark_entry__ as entry
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import catalog

PACKAGE_DIR = pathlib.Path(catalog.__file__).parent
FAMILIES = sorted(
    p for p in PACKAGE_DIR.glob("*.py") if p.name not in ("__init__.py", "catalog.py")
)


def _registries():
    return [dict(r) for r in (catalog.QUERIES, catalog.ORACLES, catalog.AUX_QUERIES,
                              catalog.AUX_ORACLES, catalog.STREAMING_PLAN_BUILDERS)]


def test_register_rejects_a_name_in_either_registry():
    before = _registries()
    for name in (next(iter(q.QUERIES)), next(iter(q.AUX_QUERIES))):
        for driver in (True, False):
            with pytest.raises(ValueError, match=name):
                catalog.register(name, lambda spark, sf_dir: None, "SELECT 1",
                                 driver=driver)
    assert _registries() == before


def test_registry_integrity():
    # the two registries never share a key: a shared key makes one
    # artifact row silently verify the wrong query
    shared = set(q.QUERIES) & set(q.AUX_QUERIES)
    assert not shared, f"keys in both the driver registry and AUX: {shared}"

    # every query has an oracle and every oracle a query, in both
    # registries and through the driver contract
    assert list(q.oracles()) == list(q.QUERIES)
    assert set(q.AUX_ORACLES) == set(q.AUX_QUERIES)
    assert entry.queries() == q.QUERIES
    assert entry.oracle_sql() == q.oracles()


@pytest.mark.parametrize("path", FAMILIES, ids=lambda p: p.stem)
def test_no_query_or_oracle_defined_twice_in_a_module(path):
    names: list[str] = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [
                t.id for t in node.targets
                if isinstance(t, ast.Name) and t.id.startswith("ORACLE_")
            ]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"defined twice in {path.name}: {dupes}"


def test_every_query_function_is_registered():
    """Every ``q_*`` function of a family module is reachable through
    the driver registry or AUX, so none goes unverified."""
    registered = {
        (fn.__module__, fn.__name__)
        for fn in [*q.QUERIES.values(), *q.AUX_QUERIES.values()]
    }
    missing = []
    for path in FAMILIES:
        mod = importlib.import_module(f"{q.__name__}.{path.stem}")
        missing += [
            f"{path.stem}.{name}"
            for name, fn in inspect.getmembers(mod, inspect.isfunction)
            if name.startswith("q_") and fn.__module__ == mod.__name__
            and (mod.__name__, name) not in registered
        ]
    assert not missing, f"query functions not in QUERIES or AUX_QUERIES: {missing}"


def test_bench_rows_resolve_in_the_registries():
    """bench.py catches per-row exceptions, so a renamed query would
    silently drop out of its timed rows and its 42-row basis."""
    import bench

    rows = bench.BENCH_QUERIES
    assert len(rows) == len(set(rows)), "a bench row is listed twice"
    unknown = [n for n in rows if n not in q.QUERIES and n not in q.AUX_QUERIES]
    assert not unknown, f"bench rows in neither registry: {unknown}"
    assert bench.COMPARABLE_BASIS <= set(rows)
    assert len(bench.COMPARABLE_BASIS) == 42
    assert set(q.QUERIES) - set(rows) == {"ngram_jaccard", "embedding_near_dup"}
