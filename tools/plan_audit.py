"""Physical-plan audit: flag optimizer anti-patterns in every query.

Checks each queries() entry's formatted plan for:
- BatchEvalPython (row-at-a-time Python UDF — forbidden in hot paths)
- CartesianProduct (unkeyed all-pairs join)
- SortMergeJoin (at fixture scale everything should broadcast;
  informational — SMJ is correct when both sides are large)
- scan/exchange counts (re-computation smells)

``audit_flags`` is the importable core; ``tests/test_plan_audit.py``
runs it over every registered query so a row-UDF or cartesian product
can never land unnoticed.  CLI usage:
``python tools/plan_audit.py [sf_dir]``.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def audit_flags(df) -> tuple[list[str], int]:
    """Return (flags, parquet_scan_count) for one DataFrame's physical
    plan.  Flags ending in ``(info)`` are informational; anything else
    is a hard anti-pattern.
    """
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    flags: list[str] = []
    if re.search(r"BatchEvalPython", plan):
        flags.append("ROW-PYTHON-UDF")
    if re.search(r"CartesianProduct", plan):
        flags.append("CARTESIAN")
    # A BNLJ that is NOT an explicit Cross means Spark found no equi
    # key for a conditional join (e.g. id_a < id_b).  Against a
    # one-row broadcast (scalar-subquery gates like the watermark
    # filter) that is the correct scale shape; against a real table
    # it is an all-pairs scan that cannot survive corpus scale.
    # Distinguish by build-side shape: a one-row build is an
    # ungrouped HashAggregate feeding the broadcast exchange.
    simple = df._jdf.queryExecution().executedPlan().toString()
    theta = re.findall(
        r"BroadcastNestedLoopJoin Build(?:Left|Right), (?!Cross)\w+", simple
    )
    if theta:
        onerow = re.search(
            r"BroadcastExchange IdentityBroadcastMode[\s\S]{0,400}?"
            r"HashAggregate\(keys=\[\]",
            simple,
        )
        if onerow:
            flags.append("theta-bnlj-scalar(info)")
        else:
            flags.append("THETA-BNLJ")
    if re.search(r"SortMergeJoin", plan):
        flags.append("sort-merge-join(info)")
    scans = len(re.findall(r"Scan parquet", plan))
    if scans > 16:
        flags.append(f"many-scans({scans})")
    return flags, scans


def hard_flags(flags: list[str]) -> list[str]:
    return [f for f in flags if "(info)" not in f]


def streaming_audit_flags(df) -> list[str]:
    """Streaming-plan audit: flag state that nothing evicts.

    Works on the PRE-SINK streaming DataFrame's analyzed logical plan
    (no drain needed).  Streaming nodes print with a ``~`` prefix and
    watermark-delayed attributes carry a ``-T<delay>ms`` suffix, which
    is exactly the eviction evidence this audit wants:

    - ``UNBOUNDED-AGG``: a streaming ``Aggregate`` whose grouping keys
      include NO watermark-delayed attribute — state grows with key
      cardinality forever and append-mode can never finalize a group.
    - ``UNBOUNDED-DEDUP``: plain ``dropDuplicates`` on a stream (the
      ``Deduplicate`` node, vs ``DeduplicateWithinWatermark`` whose
      state the watermark evicts).
    - ``STREAM-JOIN-NO-WATERMARK`` / ``STREAM-JOIN-NO-TIME-BOUND``: a
      stream-stream join missing a watermark on each side or a
      time-range bound in the join condition — without BOTH, each
      side's buffer is retained forever.
    - ``stateful-custom(info)``: (flat)MapGroupsWithState /
      applyInPandasWithState — state bounded by timeouts the plan text
      cannot prove; informational so a human checks the timeout
      configuration.
    """
    if not df.isStreaming:
        raise ValueError("streaming_audit_flags expects a streaming DataFrame")
    plan = df._jdf.queryExecution().analyzed().toString()
    flags: list[str] = []
    delayed = r"-T\d+ms"
    for m in re.finditer(r"~Aggregate \[([^\]]*)\]", plan):
        if not re.search(delayed, m.group(1)):
            flags.append("UNBOUNDED-AGG")
            break
    if re.search(r"~Deduplicate ", plan):
        flags.append("UNBOUNDED-DEDUP")
    n_stream_rel = len(re.findall(r"StreamingRelation|StreamingDataSourceV2Relation", plan))
    join_m = re.search(r"~Join \w+, \((?P<cond>.*)\)", plan)
    if join_m and n_stream_rel >= 2:
        n_wm = len(re.findall(r"EventTimeWatermark", plan))
        if n_wm < 2:
            flags.append("STREAM-JOIN-NO-WATERMARK")
        cond = join_m.group("cond")
        if not re.search(rf"{delayed} (?:>=|<=|<|>) ", cond):
            flags.append("STREAM-JOIN-NO-TIME-BOUND")
    if re.search(r"FlatMapGroupsWithState|FlatMapGroupsInPandasWithState", plan):
        flags.append("stateful-custom(info)")
    return flags


def main() -> int:
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    # AUX queries are part of the audited surface too — all but the
    # Structured-Streaming entry, whose plan can't be built batch-side
    audited = dict(q.QUERIES)
    audited.update(
        {n: f for n, f in q.AUX_QUERIES.items() if not n.startswith("streaming_")}
    )
    for name, fn in audited.items():
        flags, scans = audit_flags(fn(spark, sf_dir))
        hard = hard_flags(flags)
        status = "FLAG" if hard else "ok"
        if hard:
            bad += 1
        print(f"{status} {name}: scans={scans} {' '.join(flags)}")
    print(f"\n{bad} queries flagged" if bad else "\nplan audit clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
