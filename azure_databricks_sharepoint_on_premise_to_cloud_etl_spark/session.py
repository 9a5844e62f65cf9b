"""SparkSession factory with scale-conscious defaults.

The reference inherits its session from Databricks (no explicit config
anywhere in /root/reference).  We pin the handful of settings that
matter for correctness (session timezone, Arrow) and for scale (AQE,
skew-join handling, shuffle partitions) so the same code runs on
local-mode tests (``SPARK_GRAFT_CPUS`` cores, default the cores this
process may run on) and a 1000-executor cluster without edits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local-mode cores: ``SPARK_GRAFT_CPUS`` (perfbench sets it), else the
# cores this process may run on.  Read once, at import.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

# The JVM's JIT policy for short jobs; see get_spark.  C2 (Tier-4)
# compile thresholds at 3x the JDK 17 defaults (5000 / 600 / 15000 /
# 40000), and no C2 at all for the packages listed in
# jit_directives.json, which then run C1 code.  ``CompilerDirectivesFile``
# is a diagnostic flag.  Spark's launcher splits java options on
# whitespace and strips quotes, so the quotes keep a path with spaces in
# one argument.  ``quiet`` drops the line HotSpot prints per excluded
# method, and the directive count it prints at start goes to stderr.
JIT_DIRECTIVES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jit_directives.json")
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=2000 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000 "
    f'-XX:+UnlockDiagnosticVMOptions -XX:CompilerDirectivesFile="{JIT_DIRECTIVES}" '
    "-XX:CompileCommand=quiet -XX:+DisplayVMOutputToStderr"
)


def get_spark(app_name: str = "azure-databricks-sharepoint-etl-spark") -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Settings rationale:
    - ``spark.sql.session.timeZone=UTC``: the reference does driver-side
      UTC<->CST conversion (code/ukg_open_census.py:697-700); we keep all
      engine-internal timestamps UTC and convert explicitly at the edges,
      which also pins DuckDB-oracle comparisons.
    - AQE on (+ skew join): runtime re-planning replaces the reference's
      hand-rolled batch sizing for the data plane.
    - Arrow on: every pandas interchange (mapInPandas/pandas UDF) is
      Arrow-batched.
    - Generated-code cache at 1000 entries (Spark's default is 100):
      one warm ETL increment needs about 120 compiled classes (driver
      and executor classloaders count separately) and one relational
      pass 101, so at 100 the LRU evicted classes the same pass needed
      again and a warm increment recompiled 44-54 of them.  At 1000 it
      compiles only the 14 whose bodies inline per-run literals.
      Classes average 2.6 KB of bytecode and 7 KB of source: ~10 MB.
    - ``JIT_POLICY`` as ``spark.driver.defaultJavaOptions``: at the JVM
      defaults the C2 compiler threads took 49.6% of a whole ETL run's
      CPU (executor tasks 10.7%), and about half of C2's time went to
      code no data-path loop runs: Janino, ANTLR, the closure cleaner's
      ASM, Java serialization, reflection and Catalyst's planner.  The
      compiler directive in ``jit_directives.json`` keeps those packages
      out of C2 (they run C1-optimised code), and the remaining C2
      thresholds are raised 3x, so methods that only get lukewarm in a
      short job stay in C1 code while hot data-path loops still cross
      the raised thresholds within milliseconds.
      Spark prepends ``defaultJavaOptions`` to ``extraJavaOptions``, so
      a caller's ``extraJavaOptions`` still applies.  A
      ``spark.driver.defaultJavaOptions`` passed as a ``--conf`` after
      the builder's (say in ``PYSPARK_SUBMIT_ARGS``) replaces the
      policy; one set in ``spark-defaults.conf`` is replaced BY it, so
      an administrator's driver flags there (GC, ``-D`` properties) must
      move to ``spark.driver.extraJavaOptions``.  Like the codegen
      cache size it takes effect only when this call starts the JVM.
      In local mode the driver JVM runs the tasks too; cluster
      executors keep the JVM defaults (unmeasured).
      Measured and rejected (4 vCPU):
      - C1 only (``-XX:TieredStopAtLevel=1``): ETL ``cpu_s`` -42%, but
        sustained sf0.1 rows 2.3-3.5x slower.
      - C2 thresholds x3 alone: ETL ``cpu_s`` won 8 of 10 alternating
        pairs, and the 1.68 s median gap was below the parent's IQR of
        2.39 s.
      - C2 thresholds x10, and ``-XX:CompileThresholdScaling=4``: the
        slowest ``simhash_near_pairs`` samples (14.1-14.6 s against
        11.3-13.9 s at the defaults).
      - ``-XX:Tier4LoadFeedback=1``: no ETL effect (18.7, 20.3 CPU-s
        against 19.4-22.2 at the defaults).
      - C2 thresholds x4 with one C2 thread (``-XX:CICompilerCount=2``):
        ETL ``cpu_s`` 13.8-14.2 against 16.4-19.6 at the defaults, but
        sf0.1 ``dedup_components`` 5.00 s and ``diverse_retrieval``
        3.70 s median, above the parent's Q3 of 4.57 s and 3.36 s
        (4 alternating pairs).
      - The same packages held back by a per-method
        ``CompileCommand=CompileThresholdScaling,<pkg>*.*,50.0`` instead
        of the directive: ETL ``cpu_s`` 17.26 -> 13.44 s, but
        ``setup_s`` 0.561 -> 0.665 s (6 pairs), because the scaling also
        delays their C1 compiles.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # one fixed count; AQE coalesces the small partitions
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        # Small local parquet files: don't let tiny splits fan out.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()
