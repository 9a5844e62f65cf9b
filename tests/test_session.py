"""session.get_spark's static settings: the JVM it starts and its
local core count."""

from __future__ import annotations

import importlib
import os
import shlex

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import session


def test_jit_policy_reaches_the_jvm(spark):
    """Every flag of ``JIT_POLICY`` is among the running JVM's input
    arguments: ``spark.driver.defaultJavaOptions`` took effect when
    ``get_spark`` launched it (and, since the JVM refuses to start on a
    missing or malformed directives file, ``jit_directives.json``
    parsed)."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(mx.getInputArguments())
    flags = shlex.split(session.JIT_POLICY)
    assert flags
    missing = [f for f in flags if f not in args]
    assert not missing, f"{missing} not in JVM input arguments {sorted(args)}"


def test_default_cores_follow_the_host(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master gets the cores this
    process may run on."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        importlib.reload(session)
        assert session.DEFAULT_CPUS == str(len(os.sched_getaffinity(0)))
    finally:
        monkeypatch.undo()
        importlib.reload(session)
