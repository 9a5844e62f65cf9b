"""The query catalog: each named query registered once with its oracle.

Every query takes ``(spark, sf_dir)`` and returns a DataFrame; its
oracle is the DuckDB SQL that must produce the same rows.  Driver
queries fill ``QUERIES``/``ORACLES``, which the driver's correctness
gate reads (it records at most 50 rows); every other query fills
``AUX_QUERIES``/``AUX_ORACLES``, checked against the same oracles by
``tools/aux_correctness.py``.  A streaming query also names the
builder of its pre-sink streaming plan, which the streaming plan audit
inspects without draining the stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
AUX_QUERIES: dict[str, QueryFn] = {}
AUX_ORACLES: dict[str, str] = {}
STREAMING_PLAN_BUILDERS: dict[str, QueryFn] = {}


def register(name: str, fn: QueryFn, oracle: str, *, driver: bool = False,
             plan: QueryFn | None = None) -> None:
    """Register ``fn`` under ``name`` with its DuckDB ``oracle``: in the
    driver registry when ``driver`` is set, else in the AUX registry;
    ``plan`` is its streaming plan builder.  A name may appear once
    across both registries."""
    if name in QUERIES or name in AUX_QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    queries, oracles = (QUERIES, ORACLES) if driver else (AUX_QUERIES, AUX_ORACLES)
    queries[name] = fn
    oracles[name] = oracle
    if plan is not None:
        STREAMING_PLAN_BUILDERS[name] = plan
