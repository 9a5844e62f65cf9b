"""Skew-stress rehearsal: planted hot keys, measured defenses.

The uniform scale rehearsal (tools/scale_rehearsal.py) replicates
fixtures evenly, so nothing ever exercised the skew story SCALE.md
argues: AQE's skew-join splitting, the salted two-phase aggregate
(operators/skew.py), and copurchase's explicit basket cap.  This tool
builds a HOT-KEY variant of the x3 fixture — one user owns ~10% of all
event rows, one customer ~10% of all orders, one (nation, segment)
~10% of all customers — and measures:

- ``skew_agg_plain`` vs ``skew_agg_salted``: per-user
  ``count_distinct`` over the skewed events (a buffer-heavy aggregate
  whose hot group cannot be map-side collapsed) with the plain
  groupBy vs the two-phase salted form.
- ``skew_join_aqe_on`` vs ``skew_join_aqe_off``: a forced
  sort-merge join of the skewed events against orders on the hot key
  (broadcast disabled) with AQE skew-join splitting enabled vs
  disabled, recording whether the final plan shows ``skew=true``.
  Thresholds are lowered to make the 10%-hot partition qualify at
  fixture scale — at 100 TB the defaults (256 MB) fire on the same
  shape unaided.
- ``skew_copurchase`` vs the uniform-fixture time: the hot customer's
  basket is dropped by the explicit ``<= max_basket`` cut BEFORE the
  self-join, so the quadratic hot-basket blowup never materializes.
- ``skew_hierarchical_fallback`` vs uniform: probe-side key heat on a
  hash/broadcast join is benign by construction (the dim side stays
  distinct-collapsed); measured to document it, not to fix it.

Results merge into SCALE_SF1.json under ``skew_*`` keys with the
uniform-x3 comparison time alongside.  An AQE leg whose plan shows no
skew split is warned about on stderr and listed under
``_skew_meta.warnings`` (and ``warnings`` in the printed JSON line).

Usage: python tools/skew_rehearsal.py [--base /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HOT_FRACTION = 10  # every 10th row's key remapped -> hot key owns ~10%


def build_skew_fixture(
    base: str, factor: int, root: str, hot_fraction: int = HOT_FRACTION,
    tag: str = "skew",
) -> str:
    """x{factor} fixture with planted hot keys: derived from the
    uniform replicated fixture, then every ``hot_fraction``-th row of
    events/orders remapped to one hot user/customer, and every
    ``hot_fraction``-th customer remapped to one (nation, segment) so
    one location prefix runs hot.  ``hot_fraction=2`` plants the
    null-key/default-value shape (one key owns ~half the rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from scale_rehearsal import ALL_TABLES, build_fixture

    uniform = build_fixture(base, factor, root)
    out_dir = os.path.join(root, f"x{factor}{tag}")
    if os.path.exists(os.path.join(out_dir, "__complete")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    def remap_every_nth(tbl, col, hot_value):
        n = tbl.num_rows
        mask = pa.array([i % hot_fraction == 0 for i in range(n)])
        old = tbl.column(col)
        hot = pa.scalar(hot_value, old.type)
        new = pc.if_else(mask, hot, old)
        i = tbl.schema.get_field_index(col)
        return tbl.set_column(i, tbl.schema.field(col), new)

    ev = pq.read_table(os.path.join(uniform, "events.parquet"))
    hot_user = pc.min(ev.column("user_id")).as_py()
    pq.write_table(
        remap_every_nth(ev, "user_id", hot_user),
        os.path.join(out_dir, "events.parquet"),
    )

    orders = pq.read_table(os.path.join(uniform, "orders.parquet"))
    hot_cust = pc.min(orders.column("o_custkey")).as_py()
    pq.write_table(
        remap_every_nth(orders, "o_custkey", hot_cust),
        os.path.join(out_dir, "orders.parquet"),
    )

    cust = pq.read_table(os.path.join(uniform, "customer.parquet"))
    cust = remap_every_nth(cust, "c_nationkey", 0)
    # segment is a string column: remap via if_else the same way
    import pyarrow as pa2

    n = cust.num_rows
    mask = pa2.array([i % hot_fraction == 0 for i in range(n)])
    seg = cust.column("c_mktsegment")
    seg_new = pc.if_else(mask, pa2.scalar("BUILDING", seg.type), seg)
    i = cust.schema.get_field_index("c_mktsegment")
    cust = cust.set_column(i, cust.schema.field("c_mktsegment"), seg_new)
    pq.write_table(cust, os.path.join(out_dir, "customer.parquet"))

    for t in ALL_TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(uniform, f"{t}.parquet"), dst)
    open(os.path.join(out_dir, "__complete"), "w").close()
    return out_dir


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=3)
    ap.add_argument("--root", default="/tmp/spark_graft_scale")
    ap.add_argument("--out", default=os.path.join(ROOT, "SCALE_SF1.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.skew import salted_agg
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
        rebalance,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
    from qtime import timed_reps

    spark = get_spark("skew-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    skew_dir = build_skew_fixture(args.base, args.factor, args.root)
    uniform_dir = os.path.join(args.root, f"x{args.factor}")

    def timed(fn, reps: int = 2) -> float:
        """best of ``reps`` timed runs after a cold one, for a
        DataFrame builder"""
        return round(min(timed_reps(spark, fn, reps).runs), 3)

    def timed_pair(fn_a, fn_b, rounds: int = 3) -> tuple[float, float]:
        """Interleaved A/B timing (A,B,A,B,...) with per-side min —
        the pairwise claim survives a noisy shared host that a
        sequential measurement does not."""
        a, b = [], []
        for _ in range(rounds):
            a += timed_reps(spark, fn_a, 1).runs
            b += timed_reps(spark, fn_b, 1).runs
        return round(min(a), 3), round(min(b), 3)

    results: dict[str, dict] = {}
    warnings: list[str] = []

    def warn_unsplit(leg: str, split: bool) -> None:
        """An AQE leg whose executed plan shows no skew split compares
        two unsplit joins; say so rather than record it silently."""
        if not split:
            msg = f"{leg}: no skew=true in the executed plan, the join ran unsplit"
            print(f"WARNING: {msg}", file=sys.stderr)
            warnings.append(msg)

    # -- 1. salted vs plain aggregation on the hot key ------------------
    ev = load_table(spark, skew_dir, "events")

    def plain_agg():
        return ev.groupBy("user_id").agg(
            F.count_distinct("value").alias("nd")
        )

    def salted():
        return salted_agg(
            ev,
            ["user_id"],
            {"nd": (F.count_distinct("value"), F.sum("nd"))},
            salt_buckets=16,
        )

    t_plain, t_salted = timed_pair(plain_agg, salted)
    results["skew_agg_plain_vs_salted"] = {
        "hot_key_share": 1 / HOT_FRACTION,
        "plain_sec": t_plain,
        "salted_sec": t_salted,
        "note": (
            "count_distinct per user with one user owning ~10% of rows; "
            "the salted two-phase form spreads the hot group's distinct "
            "buffer over 16 tasks"
        ),
    }
    print(f"# skew agg: plain={t_plain}s salted={t_salted}s", file=sys.stderr)

    # -- 2. AQE skew-join splitting on a forced shuffle join ------------
    # skewed PROBE side against a unique-key dimension: output rows =
    # input rows, so the measurement isolates partition-size skew (the
    # straggler AQE splits) from join-output blowup (which no engine
    # fixes - two sides hot on the same key is a data problem, and the
    # basket-cap leg below is the defense for that shape)
    cust = load_table(spark, skew_dir, "customer")
    # rebalance() is load-bearing here: AQE splits a skewed reduce
    # partition by MAP-OUTPUT RANGES, so a single-mapper scan (the
    # one-row-group fixture file) structurally cannot be split — at
    # 100 TB the input has thousands of mappers and the defense applies
    # unaided; the engine's rebalance() restores that shape locally.
    # The pad column keeps real bytes in the shuffle (a pruned-to-one-
    # int probe side compresses the hot partition to nothing).
    evj = rebalance(ev).select(
        "user_id",
        "value",
        F.sha2(F.concat_ws("_", "event_id", "ts"), 256).alias("pad"),
    )

    def skew_join():
        return (
            evj.join(cust, evj["user_id"] == cust["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s"),
                F.max("pad").alias("m"),
            )
        )

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # AQE's runtime SMJ->broadcast conversion must be off too, or it
        # simply broadcasts the dim — which IS the first-line skew
        # defense (recorded in the note), but not the path under test
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # fixture-scale thresholds: the hot partition is ~10% of a small
        # table; at 100 TB the 256 MB defaults fire on the same shape
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t_on = timed(skew_join)
        df = skew_join()
        df.collect()  # the plan must come from THIS execution's AQE run
        plan_on = df._jdf.queryExecution().executedPlan().toString()
        saw_skew_split = "skew=true" in plan_on

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t_off = timed(skew_join)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    results["skew_join_aqe"] = {
        "aqe_on_sec": t_on,
        "aqe_off_sec": t_off,
        "plan_shows_skew_split": saw_skew_split,
        "note": (
            "forced SMJ of skewed events (probe) against the unique-key "
            "customer dim; "
            "thresholds lowered to fixture scale (256KB/factor 1.5) "
            "so the ~10% partition qualifies"
        ),
    }
    print(
        f"# skew join: aqe_on={t_on}s aqe_off={t_off}s split={saw_skew_split}",
        file=sys.stderr,
    )
    warn_unsplit("skew_join_aqe", saw_skew_split)

    # -- 2b. the payoff demonstration the 10%-hot fixture cannot give ---
    # With a 10% hot key, local[32] wall-clock payoff is structurally
    # bounded: the hot reduce partition's EXCESS over fair share is
    # small against the uniform map stage both configs pay (measured
    # 1.05x byte-bound, 1.24x with a 50-deep hash chain as reduce-side
    # per-row work).  The shape where splitting decides the job is the
    # null-key/default-value skew every warehouse hits: ONE key owning
    # ~half the rows.  Plant it (hot_fraction=2), give the reduce
    # stage real per-row work, and measure split-on vs split-off.
    hot50_dir = build_skew_fixture(
        args.base, args.factor, args.root, hot_fraction=2, tag="skew50"
    )
    ev50 = load_table(spark, hot50_dir, "events")
    evj50 = rebalance(ev50).select(
        "user_id", "value", F.col("event_id").alias("pad")
    )
    expensive = F.sha2(F.concat_ws("_", "pad", "c_name"), 512)
    for _ in range(49):
        expensive = F.sha2(expensive, 512)

    def hot50_join():
        return (
            evj50.join(cust, evj50["user_id"] == cust["c_custkey"])
            .select(expensive.alias("h"), "value")
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("m"))
        )

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB",
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t50_on = timed(hot50_join)
        df = hot50_join()
        df.collect()
        saw50 = "skew=true" in df._jdf.queryExecution().executedPlan().toString()
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t50_off = timed(hot50_join)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    results["skew_join_aqe_hot50"] = {
        "hot_key_share": 0.5,
        "aqe_on_sec": t50_on,
        "aqe_off_sec": t50_off,
        "payoff": round(t50_off / t50_on, 2) if t50_on else None,
        "plan_shows_skew_split": saw50,
        "note": (
            "null-key shape: one user owns ~50% of events; forced SMJ "
            "against the customer dim with a 50-deep sha2 chain as "
            "reduce-side per-row work (the stand-in for real per-row "
            "reduce cost at 100 TB); thresholds at fixture scale"
        ),
    }
    print(
        f"# skew join hot50: aqe_on={t50_on}s aqe_off={t50_off}s "
        f"split={saw50}",
        file=sys.stderr,
    )
    warn_unsplit("skew_join_aqe_hot50", saw50)

    # -- 3. copurchase under a hot customer -----------------------------
    t_skewed, t_uniform = timed_pair(
        lambda: q.AUX_QUERIES["copurchase_pairs"](spark, skew_dir),
        lambda: q.AUX_QUERIES["copurchase_pairs"](spark, uniform_dir),
    )
    results["skew_copurchase"] = {
        "skewed_sec": t_skewed,
        "uniform_sec": t_uniform,
        "note": (
            "one customer owns ~10% of orders; the explicit basket cap "
            "drops the hot basket BEFORE the self-join, so the "
            "quadratic blowup never materializes"
        ),
    }
    print(
        f"# skew copurchase: skewed={t_skewed}s uniform={t_uniform}s",
        file=sys.stderr,
    )

    # -- 4. hierarchical fallback under a hot location prefix -----------
    t_skewed, t_uniform = timed_pair(
        lambda: q.QUERIES["hierarchical_fallback"](spark, skew_dir),
        lambda: q.QUERIES["hierarchical_fallback"](spark, uniform_dir),
    )
    results["skew_hierarchical_fallback"] = {
        "skewed_sec": t_skewed,
        "uniform_sec": t_uniform,
        "note": (
            "~10% of customers remapped to one (nation, segment) so one "
            "location prefix runs hot; probe-side heat on the "
            "distinct-collapsed dim join is benign by construction"
        ),
    }
    print(
        f"# skew fallback: skewed={t_skewed}s uniform={t_uniform}s",
        file=sys.stderr,
    )

    record = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            record = json.load(fh)
    record.update(results)
    record["_skew_meta"] = {
        "fixture": f"x{args.factor} with hot keys (share 1/{HOT_FRACTION})",
        "hot_keys": "min user_id (events), min o_custkey (orders), "
        "(nation 0, BUILDING) for customers",
        "warnings": warnings,
    }
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps({**results, "warnings": warnings}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
