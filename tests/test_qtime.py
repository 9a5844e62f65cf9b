"""The timing core of the sf-row tools (tools/qtime.py) and the A/B
comparison of two bench records (tools/bench_ab.py)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

import bench_ab
from qtime import materialize, output_digest, timed_reps


def test_materialize_keeps_every_aggregate(spark):
    # a bare count() over a grouped frame lets Catalyst drop the
    # aggregate functions and time only the grouping
    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 5).alias("v")
    ).groupBy("k").agg(F.count_distinct("v").alias("nd"))
    digest = output_digest(df)
    digest.collect()
    assert "count(distinct" in digest._jdf.queryExecution().executedPlan().toString()
    rows, xor_hash = materialize(df)
    assert rows == 7
    assert (rows, xor_hash) == materialize(df.orderBy(F.desc("k")))
    assert materialize(df.filter("k < 0")) == (0, None)


def test_timed_reps_counts_each_run(spark):
    t = timed_reps(spark, lambda: spark.range(10).withColumn("x", F.col("id") * 2), 2)
    assert len(t.runs) == len(t.compiles) == len(t.jit_ms) == 2
    assert t.cold > 0 and all(r > 0 for r in t.runs)
    assert (t.rows, t.xor_hash) == materialize(spark.range(10).withColumn("x", F.col("id") * 2))


def test_bench_ab_leaves_differing_outputs_out(tmp_path, capsys):
    def record(path, secs, outputs):
        rec = {"queries": secs, "noise_spread_sec": {}, "outputs": outputs}
        path.write_text(json.dumps(rec, indent=1))
        return str(path)

    a = record(tmp_path / "a.json", {"x": 1.0, "y": 1.0}, {"x": [3, 11], "y": [4, 12]})
    b = record(tmp_path / "b.json", {"x": 1.0, "y": 9.0}, {"x": [3, 11], "y": [4, 13]})
    bench_ab.main(a, b)
    out = capsys.readouterr().out
    assert "common rows: 1" in out
    assert "y: [4, 12] -> [4, 13]" in out
    assert "flagged (B > 1.25*A + spread):\n\n" in out
