"""Time named queries in isolation and capture their formatted plans.

Usage:
    python tools/qtime.py [--sf DIR] [--reps N] [--plan OUTDIR] [--suffix S]
                          name [name ...]

This module also holds the one timing loop of the sf-row tools:
``materialize`` (the action every tool times) and ``timed_reps`` (one
untimed cold run, then ``reps`` timed runs).  ``bench.py``,
``tools/scale_rehearsal.py`` and ``tools/skew_rehearsal.py`` call them.

Per query: one cold materialization, then ``reps`` timed ones; prints
min/median/max, the output's rows and xor hash, the Janino compiles of
each timed rep (the ``CodegenMetrics`` compile-count delta; a warm rep whose classes all
sit in the codegen cache reads 0) and its JIT milliseconds (the delta
of the JVM's total compilation time, summed over its compiler threads,
so it can exceed the rep's wall time), which tells a slower rep's
compile time from its run time.  With ``--plan`` also writes
``OUTDIR/<name>_<suffix>.txt`` containing ``explain('formatted')``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def output_digest(df):
    """The one-row frame ``(n, h)``: the row count and the xor of
    ``xxhash64`` over every output column.  Hashing every column keeps
    Catalyst from pruning any output expression (a bare ``count`` lets
    it drop unreferenced columns and aggregates); ``bit_xor`` rather
    than ``sum`` because ANSI mode makes a long sum overflow."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    )


def materialize(df) -> tuple[int, int | None]:
    """Evaluate every output column of ``df``; returns ``(rows,
    xor_hash)``, order-insensitive, so two runs with equal pairs
    produced the same output (``xor_hash`` is None for no rows)."""
    row = output_digest(df).collect()[0]
    return row["n"], row["h"]


class Timing(NamedTuple):
    cold: float  # seconds of the untimed first run
    runs: list[float]  # seconds of each timed run, in run order
    rows: int
    xor_hash: int | None
    compiles: list[int]  # Janino compiles during each timed run
    jit_ms: list[int]  # JVM JIT compilation ms during each timed run


def timed_reps(spark, build: Callable, reps: int) -> Timing:
    """Materialize ``build()`` once untimed, then ``reps`` timed times,
    each run inside its own ``Scope`` so its checkpoints and persists
    are freed as it ends; the cache is cleared afterwards, so storage
    does not pile up across queries.  ``build`` is called once per run,
    so plan building is part of each run's time."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    try:
        t0 = time.time()
        with Scope():
            materialize(build())
            cold = time.time() - t0
        runs, compiled, jit_ms = [], [], []
        for _ in range(reps):
            c0, j0 = compiles.getCount(), jit.getTotalCompilationTime()
            t0 = time.time()
            with Scope():
                rows, xor_hash = materialize(build())
                runs.append(time.time() - t0)
            compiled.append(compiles.getCount() - c0)
            jit_ms.append(jit.getTotalCompilationTime() - j0)
    finally:
        spark.catalog.clearCache()
    return Timing(cold, runs, rows, xor_hash, compiled, jit_ms)


def _write_plan(df, outdir: str, filename: str) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(outdir, filename), "w") as fh:
        fh.write(plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--plan", default=None, help="dir to write formatted plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--final", action="store_true",
        help="also capture the post-execution (AQE-final) plan",
    )
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    load_table(spark, args.sf, "lineitem").count()  # warm FS + JVM
    if args.plan:
        os.makedirs(args.plan, exist_ok=True)

    for name in args.names:
        fn = q.QUERIES.get(name) or q.AUX_QUERIES[name]
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        if args.reps == 0:  # plan-only mode
            with Scope():
                df = fn(spark, args.sf)
                if args.plan:
                    _write_plan(df, args.plan, f"{name}_{args.suffix}.txt")
            print(f"{name}: plan captured", flush=True)
            continue
        built: list = []

        def build():
            df = fn(spark, args.sf)
            if args.plan and not built:
                _write_plan(df, args.plan, f"{name}_{args.suffix}.txt")
            built[:] = [df]
            return df

        t = timed_reps(spark, build, args.reps)
        if args.plan and args.final:
            _write_plan(built[0], args.plan, f"{name}_{args.suffix}_final.txt")
        runs = sorted(t.runs)
        print(
            f"{name}: median {statistics.median(runs):.3f}s "
            f"min {runs[0]:.3f} max {runs[-1]:.3f} "
            f"(cold {t.cold:.2f}s, {t.rows} rows, xor {t.xor_hash}, "
            f"reps {args.reps}, compiles {t.compiles}, jit_ms {t.jit_ms}, "
            f"load {os.getloadavg()[0]:.1f})",
            flush=True,
        )


if __name__ == "__main__":
    main()
