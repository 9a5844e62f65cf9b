"""Round-13 optimization harness: time named queries in isolation and
capture their formatted plans.

Usage:
    python tools/qtime.py [--sf DIR] [--reps N] [--plan OUTDIR] [--suffix S]
                          name [name ...]

Per query: builds the DataFrame, runs one warm-up materialization, then
``reps`` timed materializations (same ``sum(xxhash64(*))`` action as
bench.py so numbers are comparable), prints min/median/max, the
Janino compiles of each timed rep (the ``CodegenMetrics`` compile-count
delta; a warm rep whose classes all sit in the codegen cache reads 0)
and its JIT milliseconds (the delta of the JVM's total compilation
time, summed over its compiler threads, so it can exceed the rep's
wall time), which tells a slower rep's compile time from its run time.
With ``--plan`` also writes ``OUTDIR/<name>_<suffix>.txt`` containing
``explain('formatted')``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    from pyspark.sql import functions as F

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    load_table(spark, args.sf, "lineitem").count()  # warm FS + JVM

    def materialize(df) -> int:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
        ).collect()[0]
        return row["n"]

    for name in args.names:
        fn = q.QUERIES.get(name) or q.AUX_QUERIES[name]
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        with Scope():
            df = fn(spark, args.sf)
            if args.plan:
                os.makedirs(args.plan, exist_ok=True)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(
                    os.path.join(args.plan, f"{name}_{args.suffix}.txt"), "w"
                ) as fh:
                    fh.write(plan)
            if args.reps == 0:  # plan-only mode
                print(f"{name}: plan captured", flush=True)
                continue
            t0 = time.time()
            n = materialize(df)
            cold = time.time() - t0
        runs, compiled, jit_ms = [], [], []
        for _ in range(args.reps):
            t0 = time.time()
            c0, j0 = compiles.getCount(), jit.getTotalCompilationTime()
            with Scope():
                df = fn(spark, args.sf)
                n = materialize(df)
                runs.append(time.time() - t0)
            compiled.append(compiles.getCount() - c0)
            jit_ms.append(jit.getTotalCompilationTime() - j0)
        if args.plan and args.final:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plan, f"{name}_{args.suffix}_final.txt"), "w"
            ) as fh:
                fh.write(plan)
        spark.catalog.clearCache()
        runs.sort()
        print(
            f"{name}: median {statistics.median(runs):.3f}s "
            f"min {runs[0]:.3f} max {runs[-1]:.3f} "
            f"(cold {cold:.2f}s, {n} rows, reps {args.reps}, "
            f"compiles {compiled}, jit_ms {jit_ms}, "
            f"load {os.getloadavg()[0]:.1f})",
            flush=True,
        )


if __name__ == "__main__":
    main()
