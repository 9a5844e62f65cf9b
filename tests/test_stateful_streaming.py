from __future__ import annotations

import datetime as dt

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.streaming import (
    incremental,
    stateful,
)


def test_running_user_totals_across_batches(spark, tmp_path):
    """Custom state must accumulate ACROSS micro-batches: two files
    drained through the same checkpoint are two batches; user 7's
    ledger must show the combined totals after the second drain."""
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 10, 0)

    def write_batch(rows, mode):
        spark.createDataFrame(
            rows, "user_id LONG, ts TIMESTAMP, value DOUBLE"
        ).write.mode(mode).parquet(src)

    write_batch([(7, base, 1.0), (7, base + dt.timedelta(minutes=1), 2.0),
                 (8, base, 10.0)], "overwrite")

    out_dir = str(tmp_path / "ledger")

    def drain():
        stream = incremental.stream_from_files(
            spark, src, "user_id LONG, ts TIMESTAMP, value DOUBLE"
        )
        out = stateful.running_user_totals(stream)
        # foreachBatch sink: the only sink shape that both supports
        # update-mode stateful output AND checkpoint recovery
        incremental.drain_foreach_batch_to_parquet(out, ckpt, out_dir)
        rows = spark.read.parquet(out_dir).collect()
        latest = {}
        for r in rows:  # ledger appends; keep the most-advanced row per user
            if r["user_id"] not in latest or r["total_events"] > latest[r["user_id"]]["total_events"]:
                latest[r["user_id"]] = r
        return latest, len(rows)

    first, n1 = drain()
    assert first[7]["total_events"] == 2 and first[7]["total_value"] == 3.0
    assert first[8]["total_events"] == 1

    # second micro-batch: new file, same checkpoint -> state carries over
    write_batch([(7, base + dt.timedelta(hours=1), 4.0)], "append")
    second, n2 = drain()
    assert second[7]["total_events"] == 3
    assert second[7]["total_value"] == 7.0
    assert second[7]["last_ts"] == base + dt.timedelta(hours=1)
    # update mode: only the touched key (7) emitted in the second drain
    assert n2 == n1 + 1


def test_running_user_totals_idle_timeout_evicts(spark, tmp_path):
    """With a processing-time idle timeout, a key silent for longer
    than the timeout is evicted: its next event starts a FRESH ledger
    instead of resuming the old totals.  Runs under a live trigger —
    AvailableNow never terminates once timers are registered (see
    incremental.start_foreach_batch_to_parquet)."""
    import time

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "ledger")
    base = dt.datetime(2024, 1, 1, 10, 0)

    def write_batch(rows, mode):
        spark.createDataFrame(
            rows, "user_id LONG, ts TIMESTAMP, value DOUBLE"
        ).write.mode(mode).parquet(src)

    def ledger_rows():
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:
            return []

    def wait_for(pred, timeout_s=60):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            rows = ledger_rows()
            if pred(rows):
                return rows
            time.sleep(0.25)
        raise AssertionError(f"condition not reached; ledger={ledger_rows()}")

    write_batch([(7, base, 1.0), (7, base, 2.0)], "overwrite")
    stream = incremental.stream_from_files(
        spark, src, "user_id LONG, ts TIMESTAMP, value DOUBLE"
    )
    out = stateful.running_user_totals(stream, idle_timeout_ms=1000)
    q = incremental.start_foreach_batch_to_parquet(out, ckpt, out_dir)
    try:
        wait_for(lambda rows: any(
            r["user_id"] == 7 and r["total_events"] == 2 for r in rows
        ))
        # go idle past the timeout; empty micro-batches keep firing
        # under the live trigger, so the timer is processed
        time.sleep(3.0)
        write_batch([(7, base + dt.timedelta(hours=2), 4.0)], "append")
        rows = wait_for(lambda rows: any(
            r["user_id"] == 7 and r["last_ts"] == base + dt.timedelta(hours=2)
            for r in rows
        ))
    finally:
        q.stop()
    final = max(
        (r for r in rows if r["user_id"] == 7), key=lambda r: r["last_ts"]
    )
    # fresh ledger after eviction: 1 event / 4.0, not 3 events / 7.0
    assert final["total_events"] == 1
    assert final["total_value"] == 4.0


def _sliced_events_dir(tmp_path, sf_dir="/root/testdata/sf0.001", k=4):
    """Split the events fixture into k chronological parquet slices
    with increasing mtimes, so the file stream (maxFilesPerTrigger=1,
    oldest-first) replays the event stream as k micro-batches whose
    watermark advances ~a week per batch — enough past the 2-hour
    delay that every batch should evict the previous batch's state."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    d = str(tmp_path / "sliced_events")
    os.makedirs(d)
    n = t.num_rows
    for i in range(k):
        lo, hi = i * n // k, (i + 1) * n // k
        p = os.path.join(d, f"slice_{i}.parquet")
        pq.write_table(t.slice(lo, hi - lo), p)
        os.utime(p, (1_700_000_000 + i * 1000,) * 2)
    return d, n


def _state_series(progresses):
    """(inputRows, totalState, removedState) per micro-batch that
    carried state operators."""
    out = []
    for p in progresses:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        out.append(
            (
                p["numInputRows"],
                sum(o["numRowsTotal"] for o in ops),
                sum(o["numRowsRemoved"] for o in ops),
            )
        )
    return out


def test_watermarked_state_plateaus_across_batches(spark, tmp_path):
    """EMPIRICAL state gate for the four stateful streaming shapes
    (dedup / sliding agg / session window / stream-stream join): drain
    the time-sliced event stream as >=4 micro-batches and read
    stateOperators[].numRowsTotal from the progress records.  With
    watermarks, state must PLATEAU at the horizon's working set —
    every post-first batch both evicts rows (numRowsRemoved > 0) and
    stays within ~2x the first batch's state — rather than
    accumulating the whole stream (the no-watermark planted case
    below shows what failure looks like).  This turns the streaming
    plan-audit's static argument into a measured property."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.core import (
        _stream_plan_dedup,
        _stream_plan_sliding,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.curation import _stream_plan_join
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.retrieval import _stream_plan_session

    d, _n = _sliced_events_dir(tmp_path)
    cases = [
        ("dedup", _stream_plan_dedup),
        ("sliding", _stream_plan_sliding),
        ("session", _stream_plan_session),
        ("join", _stream_plan_join),
    ]
    for name, builder in cases:
        plan = builder(spark, "/root/testdata/sf0.001",
                       stream_dir=d, max_files_per_trigger=1)
        ckpt = str(tmp_path / f"gate_{name}_ckpt")
        progs = incremental.run_to_memory_sink(
            plan, f"gate_{name}", ckpt, output_mode="append"
        )
        series = _state_series(progs)
        data_batches = [s for s in series if s[0] > 0]
        assert len(data_batches) >= 3, (name, series)
        totals = [s[1] for s in data_batches]
        removed = [s[2] for s in data_batches]
        # eviction is real: every batch after the first removes state
        assert all(r > 0 for r in removed[1:]), (name, series)
        # plateau: no batch's state exceeds 2x the first batch's
        # (without eviction, batch k holds ~k x the first batch)
        assert max(totals) <= 2 * totals[0], (name, series)


def test_unwatermarked_state_grows_monotonically(spark, tmp_path):
    """The planted failure case: the same sliced stream deduped with
    plain dropDuplicates (NO watermark) must show strictly growing
    state and zero evictions — proving the plateau gate above is
    non-vacuous (it measures the watermark, not an artifact of the
    harness)."""
    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import core as q

    d, n = _sliced_events_dir(tmp_path)
    events, _ = q._stream_events(
        spark, "/root/testdata/sf0.001",
        stream_dir=d, max_files_per_trigger=1,
    )
    plan = events.select("event_id", "event_type", "value").dropDuplicates(
        ["event_id"]
    )
    ckpt = str(tmp_path / "nowm_ckpt")
    progs = incremental.run_to_memory_sink(
        plan, "gate_nowm", ckpt, output_mode="append"
    )
    series = _state_series(progs)
    data_batches = [s for s in series if s[0] > 0]
    assert len(data_batches) >= 3, series
    totals = [s[1] for s in data_batches]
    assert all(b > a for a, b in zip(totals, totals[1:])), series
    assert all(s[2] == 0 for s in series), series
    # unbounded: final state holds EVERY distinct key ever seen
    assert totals[-1] == n, (totals, n)


def test_streaming_sequence_match_across_batches(spark, tmp_path):
    """The stateful pattern matcher's per-key ledger must survive
    micro-batch boundaries: drain the time-sliced stream as >=4
    batches (maxFilesPerTrigger=1) and require the post-aggregated
    ledger to equal the BATCH window form on the same fixture — an
    anchor in batch k completing in batch k+1 only works if the
    state store carried (last_first, last_excl) across the
    boundary."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import graphs as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import funnels
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    d, _n = _sliced_events_dir(tmp_path)
    plan, ts_was_ntz = q._stream_plan_sequence_match(
        spark, sf, stream_dir=d, max_files_per_trigger=1
    )
    ckpt = str(tmp_path / "seqmatch_gate_ckpt")
    progs = incremental.run_to_memory_sink(
        plan, "seqmatch_gate", ckpt, output_mode="update"
    )
    assert sum(1 for p in progs if p["numInputRows"] > 0) >= 4
    got = {
        r["user_id"]: (r["n_complete"], r["first_completion_ts"])
        for r in spark.table("seqmatch_gate")
        .groupBy("user_id")
        .agg(
            F.max("n_complete").alias("n_complete"),
            F.min("first_completion_ts").alias("first_completion_ts"),
        )
        .collect()
    }
    e = load_table(spark, sf, "events")
    want = {
        r["user_id"]: (r["n_complete"], r["first_completion_ts"])
        for r in funnels.sequence_match(
            e.select("user_id", "ts", "event_type", "event_id"),
            "ts", "event_type", ["user_id"],
            first="view", then="purchase", exclude="error",
            within_seconds=86400, tiebreak_col="event_id",
        ).collect()
    }
    assert len(want) > 0
    assert got == want
