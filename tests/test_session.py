"""session.get_spark's static settings reach the JVM it starts."""

from __future__ import annotations

import shlex

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import JIT_POLICY


def test_jit_policy_reaches_the_jvm(spark):
    """Every flag of ``JIT_POLICY`` is among the running JVM's input
    arguments: ``spark.driver.defaultJavaOptions`` took effect when
    ``get_spark`` launched it (and, since the JVM refuses to start on a
    missing or malformed directives file, ``jit_directives.json``
    parsed)."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(mx.getInputArguments())
    flags = shlex.split(JIT_POLICY)
    assert flags
    missing = [f for f in flags if f not in args]
    assert not missing, f"{missing} not in JVM input arguments {sorted(args)}"
