from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import (
    batching,
    graph,
    hierarchy,
    intervals,
    snapshots,
    windows,
)


def test_latest_snapshot(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (2, "d"), (2, "e")], "run_id LONG, v STRING"
    )
    out = snapshots.latest_snapshot(df)
    assert sorted(r["v"] for r in out.collect()) == ["c", "d", "e"]


def test_high_watermark_filter(spark):
    data = spark.createDataFrame(
        [(dt.datetime(2023, 1, i),) for i in range(1, 6)], "ts TIMESTAMP"
    )
    wm = spark.createDataFrame([(dt.datetime(2023, 1, 3),)], "done TIMESTAMP")
    out = snapshots.high_watermark_filter(data, "ts", wm, "done")
    assert out.count() == 2  # strictly newer: Jan 4, Jan 5


def test_unprocessed_only_anti_join(spark):
    new = spark.createDataFrame([("f1",), ("f2",), ("f3",)], "file_nm STRING")
    ledger = spark.createDataFrame([("f2",)], "file_nm STRING")
    out = snapshots.unprocessed_only(new, ledger, "file_nm")
    assert sorted(r["file_nm"] for r in out.collect()) == ["f1", "f3"]


def test_latest_batch_only(spark):
    df = spark.createDataFrame(
        [("RWBFILE_230412120000.csv", 1), ("RWBFILE_230412150000.csv", 2),
         ("RWBFILE_230412150000.csv", 3)],
        "file_nm STRING, v INT",
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.functions import (
        filename_embedded_ts,
    )

    out = snapshots.latest_batch_only(df, filename_embedded_ts("file_nm"))
    assert sorted(r["v"] for r in out.collect()) == [2, 3]


def test_top1_per_group_latest_and_earliest(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 3, "y"), ("b", 2, "z")], "g STRING, t INT, v STRING"
    )
    latest = windows.top1_per_group(df, ["g"], "t", latest=True)
    assert {(r["g"], r["v"]) for r in latest.collect()} == {("a", "y"), ("b", "z")}
    earliest = windows.top1_per_group(df, ["g"], "t", latest=False)
    assert {(r["g"], r["v"]) for r in earliest.collect()} == {("a", "x"), ("b", "z")}


def test_with_next_lead(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "g STRING, t INT"
    )
    out = windows.with_next(df, ["g"], ["t"], {"t": "next_t"}).collect()
    vals = {(r["g"], r["t"]): r["next_t"] for r in out}
    assert vals[("a", 1)] == 2
    assert vals[("a", 2)] is None
    assert vals[("b", 5)] is None


def test_rolling_window_expand_row_count(spark):
    # rows_out == rows_in * (w+1) (SURVEY section 5 property)
    df = spark.createDataFrame(
        [(dt.datetime(2023, 4, 12),), (dt.datetime(2023, 4, 13),)], "d TIMESTAMP"
    )
    out = intervals.rolling_window_expand(df, 7, ["d"])
    assert out.count() == 2 * 8
    # offsets shift the date by exactly offset days
    r = out.filter(F.col("day_offset") == 3).orderBy("d").first()
    assert r["d"] == dt.datetime(2023, 4, 15)


def test_hierarchical_fallback_join_levels(spark):
    facts = spark.createDataFrame(
        [("c1", "org/e/ny/cc1/u1/d1"), ("c2", "org/e/ny/cc2/u9/d9")],
        "k STRING, loc STRING",
    )
    dims = spark.createDataFrame(
        [("org/e/ny/cc1/u1/d1", "exact"), ("org/e/ny/cc2", "lvl4")],
        "zone STRING, lvl STRING",
    )
    out = hierarchy.hierarchical_fallback_join(facts, dims, "loc", "zone")
    got = {(r["k"], r["lvl"]) for r in out.collect()}
    # c1 matches at exact level; c2 only via its 4-segment prefix
    assert got == {("c1", "exact"), ("c2", "lvl4")}


def test_fallback_join_exploded_equivalent(spark):
    facts = spark.createDataFrame(
        [("c1", "org/e/ny/cc1/u1/d1"), ("c2", "org/e/ny/cc2/u9/d9")],
        "k STRING, loc STRING",
    )
    dims = spark.createDataFrame(
        [("org/e/ny/cc1/u1/d1", "exact"), ("org/e/ny/cc2", "lvl4")],
        "zone STRING, lvl STRING",
    )
    a = hierarchy.hierarchical_fallback_join(facts, dims, "loc", "zone")
    b = hierarchy.fallback_join_exploded(facts, dims, "loc", "zone")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_interval_containment_join(spark):
    events = spark.createDataFrame(
        [("a", dt.datetime(2023, 1, 1, 9)), ("a", dt.datetime(2023, 1, 1, 22))],
        "k STRING, ts TIMESTAMP",
    )
    zones = spark.createDataFrame(
        [("a", dt.datetime(2023, 1, 1, 8), dt.datetime(2023, 1, 1, 20))],
        "k STRING, s TIMESTAMP, e TIMESTAMP",
    )
    out = intervals.interval_containment_join(events, zones, ["k"], "ts", "s", "e")
    assert out.count() == 1


def test_interval_containment_bucketed_matches_plain(spark):
    # multi-day intervals, a key with MANY intervals (the fan-out the
    # bucketed form exists to avoid), and events on bucket boundaries
    events = spark.createDataFrame(
        [
            ("a", 1, dt.datetime(2023, 1, 1, 9)),
            ("a", 2, dt.datetime(2023, 1, 3, 0)),   # midnight boundary
            ("a", 3, dt.datetime(2023, 1, 5, 23)),
            ("b", 4, dt.datetime(2023, 1, 2, 12)),
            ("b", 5, dt.datetime(2023, 2, 1, 12)),  # matches nothing
        ],
        "k STRING, eid LONG, ts TIMESTAMP",
    )
    zones = spark.createDataFrame(
        [
            # spans 3 day-buckets
            ("a", 10, dt.datetime(2023, 1, 1, 8), dt.datetime(2023, 1, 3, 20)),
            # overlapping second interval on the same key
            ("a", 11, dt.datetime(2023, 1, 2, 0), dt.datetime(2023, 1, 6, 0)),
            ("b", 12, dt.datetime(2023, 1, 2, 0), dt.datetime(2023, 1, 2, 23)),
        ],
        "k STRING, zid LONG, s TIMESTAMP, e TIMESTAMP",
    )
    for how in ("inner", "left"):
        plain = intervals.interval_containment_join(
            events, zones, ["k"], "ts", "s", "e", how=how
        )
        bucketed = intervals.interval_containment_join_bucketed(
            events, zones, ["k"], "ts", "s", "e", how=how
        )
        assert sorted(
            [tuple(r) for r in plain.select("k", "eid", "zid").collect()]
        ) == sorted(
            [tuple(r) for r in bucketed.select("k", "eid", "zid").collect()]
        ), how


def test_interval_bucketed_inverted_interval_degrades(spark):
    """A dirty inverted interval (end < start) must degrade to
    no-match, not kill the job: sequence() over a descending range
    throws at runtime, so the bucketed form pre-filters it — matching
    the plain form's semantics for the same row."""
    import datetime as dt

    events = spark.createDataFrame(
        [("a", 1, dt.datetime(2023, 1, 1, 12))],
        "k STRING, eid LONG, ts TIMESTAMP",
    )
    zones = spark.createDataFrame(
        [
            # inverted: end precedes start (dirty row)
            ("a", 10, dt.datetime(2023, 1, 5, 0), dt.datetime(2023, 1, 1, 0)),
            # valid interval covering the event
            ("a", 11, dt.datetime(2023, 1, 1, 0), dt.datetime(2023, 1, 2, 0)),
        ],
        "k STRING, zid LONG, s TIMESTAMP, e TIMESTAMP",
    )
    out = intervals.interval_containment_join_bucketed(
        events, zones, ["k"], "ts", "s", "e", how="inner"
    )
    assert [r["zid"] for r in out.collect()] == [11]
    left = intervals.interval_containment_join_bucketed(
        events, zones.where("zid = 10"), ["k"], "ts", "s", "e", how="left"
    )
    rows = left.collect()
    assert len(rows) == 1 and rows[0]["zid"] is None


def test_sessionize_gap(spark):
    base = dt.datetime(2023, 1, 1, 0, 0)
    rows = [(1, base), (1, base + dt.timedelta(minutes=10)),
            (1, base + dt.timedelta(hours=2)), (2, base)]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP")
    out = intervals.sessionize(df, "ts", ["user_id"])
    per_user = (
        out.groupBy("user_id").agg(F.max("session_id").alias("n")).collect()
    )
    got = {r["user_id"]: r["n"] for r in per_user}
    assert got == {1: 2, 2: 1}


def test_generate_batches():
    assert batching.generate_batches([1, 2, 3, 4, 5], 2) == [[1, 2], [3, 4], [5]]


def test_run_batched_with_retry_shrink_to_one():
    # batch [3,4] fails as a pair; element retry isolates the poison item
    calls = []

    def action(batch):
        calls.append(list(batch))
        if 4 in batch:
            raise RuntimeError("poison")

    report = batching.run_batched_with_retry([1, 2, 3, 4], action, batch_size=2)
    assert report.succeeded == [1, 2, 3]
    assert [x for x, _ in report.failed] == [4]
    # shrink-to-1 retried 3 and 4 individually after [3,4] failed
    assert [3] in calls and [4] in calls


def test_union_by_name_resists_column_reorder(spark):
    """SURVEY 7.5 risk 6: the reference's positional union silently
    mismatches columns after withColumn chains; the engine standard is
    unionByName, which must resolve by name regardless of order."""
    a = spark.createDataFrame([(1, "x")], "id INT, v STRING")
    b = spark.createDataFrame([("y", 2)], "v STRING, id INT")
    out = a.unionByName(b).collect()
    assert {(r["id"], r["v"]) for r in out} == {(1, "x"), (2, "y")}


def test_connected_components_long_chain(spark, monkeypatch):
    """A 25-node chain: plain propagation needs 24 rounds; pointer
    jumping must converge well inside the iteration bound and label the
    whole chain with the min id."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(25)], "doc_id LONG")
    monkeypatch.setattr(graph, "DRIVER_FINISH_EDGES", 0)
    out = connected_components(edges, nodes)
    assert {r["component"] for r in out.collect()} == {0}


def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """Reliable mode: same answer via reliable df.checkpoint()
    (survives executor loss at scale), and checkpoint files actually
    land in the SparkContext's checkpoint dir."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        connected_components,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id LONG"
    )
    cpdir = tmp_path / "cc_ckpt"
    spark.sparkContext.setCheckpointDir(str(cpdir))
    monkeypatch.setattr(graph, "DRIVER_FINISH_EDGES", 0)
    with Scope():
        out = connected_components(edges, nodes, reliable=True)
        got = {(r["doc_id"], r["component"]) for r in out.collect()}
        assert any(p.is_file() for p in cpdir.rglob("*"))  # files were written
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99)}


def test_connected_components_releases_generations(spark, monkeypatch):
    """The localCheckpoint path must not accumulate one persisted RDD
    per iteration: after the run, at most the final generation (plus
    any pre-existing blocks) may remain persisted."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        connected_components,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(41)], "doc_id LONG")
    monkeypatch.setattr(graph, "DRIVER_FINISH_EDGES", 0)
    out = connected_components(edges, nodes)
    assert {r["component"] for r in out.collect()} == {0}
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # a 41-node chain runs ~6 pointer-jump rounds; without release the
    # delta would be one RDD per round
    assert after - before <= 1


def test_flagship_leaves_session_state_alone(spark):
    """The flagship neither names a view nor caches: a user's temp view
    called ``orders`` survives a call unchanged, the calls store no RDD
    and free none they do not own (a sentinel checkpointed here
    survives them), and two threads running it on one session over
    different scale factors each get the single-threaded answer."""
    import functools
    import os
    import threading

    from conftest import SF_DIR

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.core import (
        q_flagship_census_count,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import (
        checkpoint,
        concurrently,
        release,
    )

    sc = spark.sparkContext
    sfs = (SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))

    def run(sf):
        return sorted(map(tuple, q_flagship_census_count(spark, sf).collect()))

    # RDD ids, not the whole list: Spark's cleaner frees earlier tests'
    # blocks asynchronously, so the list may lose ids this test does
    # not own while it runs
    def stored():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    sentinel = checkpoint(spark.range(5))
    kept = stored() - before
    assert kept
    before = stored()

    spark.range(1).createOrReplaceTempView("orders")
    try:
        alone = {sf: run(sf) for sf in sfs}
        assert stored() - before == set()
        assert kept <= stored()
        assert spark.table("orders").columns == ["id"]
        assert [r["id"] for r in spark.table("orders").collect()] == [0]
    finally:
        spark.catalog.dropTempView("orders")

    start = threading.Barrier(len(sfs), timeout=60)

    def together(sf):
        start.wait()  # both legs plan and run at once
        return run(sf)

    legs = [functools.partial(together, sf) for sf in sfs]
    assert concurrently(*legs) == [alone[sf] for sf in sfs]
    assert stored() - before == set()
    assert kept <= stored()
    release(sentinel)


def test_scope_bounds_repeated_connected_components(spark, monkeypatch):
    """A long-lived session calling connected_components repeatedly
    must not accumulate one final-generation RDD per call: with each
    call consumed inside a Scope, persisted-RDD count stays flat."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        connected_components,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import (
        Scope,
        checkpoint,
        release,
    )

    sc = spark.sparkContext

    # RDD ids, not a count: other tests' frames leave storage
    # asynchronously (Spark's cleaner, non-blocking unpersist), which
    # moves a count while this test runs
    def stored() -> set[int]:
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    def freed(ids: set[int]) -> bool:
        # a scope's release is non-blocking: give the executors a moment
        deadline = time.monotonic() + 30
        while stored() & ids and time.monotonic() < deadline:
            time.sleep(0.1)
        return not stored() & ids

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(21)], "doc_id LONG")
    # checkpointed outside the loop's scopes, so only release frees it:
    # a release that frees the wrong frame would drop it
    before = stored()
    sentinel = checkpoint(spark.range(5))
    kept = stored() - before
    assert kept

    monkeypatch.setattr(graph, "DRIVER_FINISH_EDGES", 0)
    for _ in range(3):
        before = stored()
        with Scope():
            out = connected_components(edges, nodes)
            assert {r["component"] for r in out.collect()} == {0}
            made = stored() - before
            assert made  # the final generation backs the result
        # each scope frees what its call stored — no per-call growth
        # (the unscoped form keeps one final generation per call)
        assert freed(made)
        release(out)  # already freed by the scope: a safe no-op
        assert kept <= stored()
    # a frame backed by no materialisation: safe no-op
    release(edges)
    assert kept <= stored()
    release(sentinel)
    assert freed(kept)


def test_connected_components_driver_finish_matches_distributed(
    spark, monkeypatch
):
    """The small-graph driver-finish regime (union-find over the
    collected edge list) must produce EXACTLY the labels the
    distributed delta-frontier loop produces — same min-label
    semantics, same isolated-node re-attach — on a messy fixture:
    chains, a clique, self-referential pair order, isolated nodes."""
    import random

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        connected_components,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    rng = random.Random(9)
    pairs = set()
    # 30 random clusters of size 2-8 over ids 0..499, edges in random
    # orientation, plus a 20-node chain
    ids = list(range(500))
    rng.shuffle(ids)
    i = 0
    for _ in range(30):
        k = rng.randint(2, 8)
        members = ids[i : i + k]
        i += k
        for m in members[1:]:
            a, b = (members[0], m) if rng.random() < 0.5 else (m, members[0])
            pairs.add((a, b))
    chain = ids[i : i + 20]
    for a, b in zip(chain, chain[1:]):
        pairs.add((a, b))
    edges = spark.createDataFrame(sorted(pairs), "id_a LONG, id_b LONG")
    nodes = spark.createDataFrame([(n,) for n in range(500)], "doc_id LONG")

    # RDD ids, not a count: blocks earlier tests left to Spark's
    # GC-driven cleaner may leave storage while this test runs
    def stored() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    with Scope():
        driver = connected_components(edges, nodes)  # default: driver path
        got_driver = {(r["doc_id"], r["component"]) for r in driver.collect()}
        # the union-find finish holds no checkpoint generation
        assert not stored() - before
        monkeypatch.setattr(graph, "DRIVER_FINISH_EDGES", 0)
        dist = connected_components(edges, nodes)
        got_dist = {(r["doc_id"], r["component"]) for r in dist.collect()}
        # the distributed result is backed by real state ...
        assert stored() - before
    # ... which the scope frees
    assert not stored() - before
    assert got_driver == got_dist
    # every label is the min member of its component
    by_comp: dict = {}
    for n, c in got_driver:
        by_comp.setdefault(c, []).append(n)
    for c, members in by_comp.items():
        assert c == min(members)


def test_redact_pii_positive_matches(spark):
    """Synthetic PII rows: each pattern kind is counted from the
    original text and masked in the redacted text; SSNs are not
    double-counted as phones after redaction ordering; clean text
    passes through untouched."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import redact_pii

    rows = [
        (1, "contact bob.smith+x@example.co.uk for details"),
        (2, "call +1-555-123-4567 or 555 123 4567 today"),
        (3, "ssn 123-45-6789 on file"),
        (4, "plain text with no private data"),
        (5, "mix: a@b.io and 987-65-4321 together"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}

    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ssn"]) == (1, 0, 0)
    assert "[PII]" in got[1]["redacted"] and "example" not in got[1]["redacted"]
    assert got[2]["n_phone"] == 2 and got[2]["n_email"] == 0
    assert "4567" not in got[2]["redacted"]
    assert got[3]["n_ssn"] == 1
    assert "123-45-6789" not in got[3]["redacted"]
    assert got[4]["redacted"] == rows[3][1]  # untouched
    assert (got[4]["n_email"], got[4]["n_phone"], got[4]["n_ssn"]) == (0, 0, 0)
    assert got[5]["n_email"] == 1 and got[5]["n_ssn"] == 1
    assert got[5]["redacted"].count("[PII]") == 2


def test_remove_repeated_ngrams_strikes_boilerplate(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import remove_repeated_ngrams

    boiler = "all rights reserved contact us"  # the planted 5-gram
    rows = [
        (1, f"intro words {boiler} outro"),
        (2, f"{boiler} second doc body here"),
        (3, f"third doc body {boiler}"),
        (4, "independent document with enough tokens here"),
        (5, "tiny doc"),  # shorter than n — passes through
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in remove_repeated_ngrams(df, n=5, min_docs=3).collect()}
    # every doc labeled; boilerplate struck from all three carriers
    assert sorted(out) == [1, 2, 3, 4, 5]
    assert out[1]["cleaned_text"] == "intro words outro"
    assert out[2]["cleaned_text"] == "second doc body here"
    assert out[3]["cleaned_text"] == "third doc body"
    assert all(out[i]["n_removed"] == 5 for i in (1, 2, 3))
    # non-carriers untouched, short docs pass through unchanged
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"].startswith("independent")
    assert out[5]["n_removed"] == 0 and out[5]["cleaned_text"] == "tiny doc"
    # min_docs=4 demotes the gram below the threshold: nothing removed
    out4 = remove_repeated_ngrams(df, n=5, min_docs=4).collect()
    assert sum(r["n_removed"] for r in out4) == 0


def test_bpe_merge_step_classic_and_overlap(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import (
        bpe_init_symbols,
        bpe_merge_step,
    )

    # Sennrich et al. worked example: ('e','s') wins with count 9
    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word STRING, wc LONG",
    )
    init = vocab.withColumn("symbols", bpe_init_symbols("word"))
    step1 = bpe_merge_step(init)
    r1 = {r["word"]: r for r in step1.collect()}
    assert all(r["merged_pair"] == "e s" for r in r1.values())
    assert r1["newest"]["symbols"] == "n e w es t"
    assert r1["widest"]["symbols"] == "w i d es t"
    assert r1["low"]["symbols"] == "l o w"        # untouched
    assert r1["lower"]["symbols"] == "l o w e r"  # 'e' not followed by 's'
    # step contract: re-feed the output for iteration 2 → ('es','t')
    r2 = {r["word"]: r for r in bpe_merge_step(step1.drop("merged_pair")).collect()}
    assert all(r["merged_pair"] == "es t" for r in r2.values())
    assert r2["newest"]["symbols"] == "n e w est"

    # left-to-right non-overlapping merge order (BPE canonical)
    solo = spark.createDataFrame([("aaaa", 1)], "word STRING, wc LONG")
    out = bpe_merge_step(solo.withColumn("symbols", bpe_init_symbols("word"))).collect()
    assert out[0]["merged_pair"] == "a a"
    assert out[0]["symbols"] == "aa aa"


def test_mad_filter_drops_outlier_keeps_body(spark):
    """MAD gate: a gross outlier is dropped, the body survives with
    robust_z <= n_sigmas; the outlier does not drag the threshold
    (which a mean±k·stddev gate would)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import mad_filter

    rows = [(i, v) for i, v in enumerate([100, 101, 99, 102, 98, 100, 101, 5000])]
    df = spark.createDataFrame(rows, "id LONG, x LONG")
    out = mad_filter(df, "x", n_sigmas=3.0)
    got = {r["id"]: r["robust_z"] for r in out.collect()}
    assert 7 not in got, "the 5000 outlier must be filtered"
    assert set(got) == set(range(7))
    assert all(z <= 3.0 for z in got.values())


def test_trailing_range_agg_window_semantics(spark):
    """Value-based frame: only events within the trailing interval
    (inclusive) count; partitions are independent; ties share frames."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import trailing_range_agg

    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00", 1.0),
            (2, 1, "2024-01-01 10:30:00", 2.0),
            (3, 1, "2024-01-01 11:00:00", 4.0),   # 10:00 still in [10:00,11:00]
            (4, 1, "2024-01-01 12:30:00", 8.0),   # everything aged out
            (5, 2, "2024-01-01 10:45:00", 16.0),  # other partition
        ],
        "event_id LONG, user_id LONG, ts_s STRING, value DOUBLE",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value")
    out = {r["event_id"]: (r["trail_sum"], r["trail_n"]) for r in
           trailing_range_agg(df, "user_id", "ts", "value", 3600).collect()}
    assert out == {
        1: (1.0, 1), 2: (3.0, 2), 3: (7.0, 3), 4: (8.0, 1), 5: (16.0, 1),
    }


def test_approx_cardinality_tracks_exact(spark):
    """HLL++ (approx_count_distinct, the 100 TB cardinality path) must
    track the exact per-group distinct counts verified by the
    corpus_cardinality oracle row within a few relative-standard-
    deviations."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    rsd = 0.05
    both = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd).alias("approx"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) <= 3 * rsd * r["exact"] + 1, (
            f"{r['event_type']}: approx {r['approx']} vs exact {r['exact']}"
        )


def test_asof_join_semantics(spark):
    """Backward as-of: same-timestamp right rows are visible, largest
    right id wins ties, keys never cross, missing history yields
    NULLs."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 10:00:00"),
            (2, 10, "2024-01-01 12:00:00"),
            (3, 20, "2024-01-01 09:00:00"),  # no prior right row
            (4, 20, "2024-01-01 11:00:00"),
        ],
        "event_id LONG, user_id LONG, ts_s STRING",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    right = spark.createDataFrame(
        [
            (100, 10, "2024-01-01 10:00:00", 1.0),   # tie with left 1: visible
            (101, 10, "2024-01-01 10:00:00", 2.0),   # same ts, larger id wins
            (102, 10, "2024-01-01 11:00:00", 3.0),
            (103, 20, "2024-01-01 10:30:00", 4.0),
        ],
        "rid LONG, user_id LONG, ts_s STRING, v DOUBLE",
    ).select("rid", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "v")

    out = {
        r["event_id"]: (r["asof_rid"], r["asof_v"])
        for r in asof_join(left, right, "user_id", "ts", ["v", "rid"], "rid").collect()
    }
    assert out[1] == (101, 2.0), "same-ts rows visible; largest id wins the tie"
    assert out[2] == (102, 3.0), "latest prior row"
    assert out[3] == (None, None), "no history -> NULLs"
    assert out[4] == (103, 4.0), "keys never cross"


def test_funnel_order_semantics(spark):
    """Funnel steps must happen IN ORDER: events present but out of
    order don't count, and a missed middle step nulls everything
    after it."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
        funnel_counts,
        funnel_times,
    )

    rows = [
        # u1: full ordered funnel
        (1, "click", "2024-01-01 09:00:00"),
        (1, "signup", "2024-01-01 10:00:00"),
        (1, "purchase", "2024-01-01 11:00:00"),
        # u2: purchase BEFORE signup -> reaches only step 2
        (2, "click", "2024-01-01 09:00:00"),
        (2, "purchase", "2024-01-01 09:30:00"),
        (2, "signup", "2024-01-01 10:00:00"),
        # u3: never clicked -> reaches nothing (order gate from step 1)
        (3, "signup", "2024-01-01 10:00:00"),
        (3, "purchase", "2024-01-01 11:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, event_type STRING, ts_s STRING")
    df = df.select("user_id", "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    f = funnel_times(df, ["click", "signup", "purchase"])
    reached = {r["user_id"]: r["reached"] for r in f.collect()}
    assert reached == {1: 3, 2: 2, 3: 0}
    chart = {r["step"]: r["n_users"] for r in funnel_counts(f, 3).collect()}
    assert chart == {1: 2, 2: 2, 3: 1}


def test_profile_single_scan_and_constraints(spark):
    """The profile must be ONE scan (one job per metric would be the
    100 TB anti-pattern), and the constraint gate evaluates
    declarative bounds against it."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.profiling import (
        check_constraints,
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "b", 3.0), (4, None, 4.0)],
        "id LONG, cat STRING, v DOUBLE",
    )
    prof = profile_columns(df, ["id", "cat", "v"])
    # single-scan shape: exactly one FileScan/LocalTableScan in the plan
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 2, plan  # scan + possible reuse marker
    rows = {r["column"]: r for r in prof.collect()}
    assert rows["cat"]["n_null"] == 1 and rows["cat"]["n_distinct"] == 2
    assert rows["v"]["null_frac"] == 0.25
    assert rows["id"]["min_str"] == "1" and rows["id"]["max_str"] == "4"

    checks = check_constraints(
        prof,
        {
            "id": {"max_null_frac": 0.0, "min_distinct": 4},
            "cat": {"max_null_frac": 0.1},   # violated: 0.25 null
            "v": {"min_distinct": 3},
        },
    )
    got = {(r["column"], r["constraint"]): r["passed"] for r in checks.collect()}
    assert got == {
        ("id", "max_null_frac"): True,
        ("id", "min_distinct"): True,
        ("cat", "max_null_frac"): False,
        ("v", "min_distinct"): True,
    }


def _gen_events(n=400, users=20, seed=11):
    """Deterministic pseudo-random event set (python-side, no RNG
    state shared with Spark)."""
    import hashlib

    rows = []
    types = ["click", "signup", "purchase", "view"]
    for i in range(n):
        h = int.from_bytes(
            hashlib.md5(f"{seed}:{i}".encode()).digest()[:8], "big"
        )
        rows.append(
            (
                i,
                h % users,
                types[(h >> 8) % len(types)],
                f"2024-01-{1 + (h >> 16) % 28:02d} {(h >> 24) % 24:02d}:{(h >> 32) % 60:02d}:00",
                float((h >> 40) % 1000) / 10.0,
            )
        )
    return rows


def test_asof_join_matches_python_reference(spark):
    """Union+window as-of vs a brute-force python reference over a
    deterministic generated event set — a third formulation,
    independent of both Spark windows and the DuckDB QUALIFY oracle."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import asof_join

    rows = _gen_events()
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts_s STRING, value DOUBLE"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value",
    )
    left = df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = df.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("v"), F.col("event_id").alias("rid")
    )
    got = {
        r["event_id"]: (r["asof_rid"], r["asof_v"])
        for r in asof_join(left, right, "user_id", "ts", ["v", "rid"], "rid").collect()
    }
    # python reference: per purchase, latest prior click; ties -> max rid
    clicks, purchases = {}, []
    for eid, uid, et, ts_s, v in rows:
        if et == "click":
            clicks.setdefault(uid, []).append((ts_s, eid, v))
        elif et == "purchase":
            purchases.append((eid, uid, ts_s))
    want = {}
    for eid, uid, ts_s in purchases:
        cand = [c for c in clicks.get(uid, []) if c[0] <= ts_s]
        want[eid] = (
            (max(cand)[1], max(cand)[2]) if cand else (None, None)
        )
    assert got == want


def test_funnel_matches_python_reference(spark):
    """Chained conditional-min funnel vs a per-user python scan."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import funnel_times

    rows = _gen_events()
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts_s STRING, value DOUBLE"
    ).select("user_id", "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    steps = ["click", "signup", "purchase"]
    got = {
        r["user_id"]: r["reached"]
        for r in funnel_times(df, steps).collect()
    }
    per_user = {}
    for _, uid, et, ts_s, _v in rows:
        per_user.setdefault(uid, []).append((ts_s, et))
    want = {}
    for uid, evs in per_user.items():
        prev, reached = None, 0
        for step in steps:
            cand = [t for t, et in evs if et == step and (prev is None or t > prev)]
            if not cand:
                break
            prev = min(cand)
            reached += 1
        want[uid] = reached
    assert got == want


def test_asof_join_single_shuffle_plan(spark):
    """The union+window as-of must cost exactly ONE hash shuffle (the
    window's) and ZERO joins — the property that makes it the scale
    path over a range join."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import asof_join

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00")], "event_id LONG, user_id LONG, ts_s STRING"
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    right = spark.createDataFrame(
        [(5, 10, "2024-01-01 09:00:00", 1.0)], "rid LONG, user_id LONG, ts_s STRING, v DOUBLE"
    ).select("rid", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "v")
    plan = (
        asof_join(left, right, "user_id", "ts", ["v"], "rid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_funnel_conversion_window(spark):
    """max_span_seconds: steps past the window (anchored at the first
    step-1 event) stop counting."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import funnel_times

    rows = [
        (1, "click", "2024-01-01 00:00:00"),
        (1, "signup", "2024-01-01 01:00:00"),
        (1, "purchase", "2024-01-03 00:00:00"),  # outside the 1-day window
        (2, "click", "2024-01-01 00:00:00"),
        (2, "signup", "2024-01-01 01:00:00"),
        (2, "purchase", "2024-01-01 23:00:00"),  # inside
    ]
    df = spark.createDataFrame(rows, "user_id LONG, event_type STRING, ts_s STRING")
    df = df.select("user_id", "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    out = {
        r["user_id"]: r["reached"]
        for r in funnel_times(
            df, ["click", "signup", "purchase"], max_span_seconds=86400
        ).collect()
    }
    assert out == {1: 2, 2: 3}


def test_mad_filter_degenerate_mad_passes_through(spark):
    """A majority-constant column has MAD 0: no robust scale exists,
    so the gate must pass everything through instead of dropping all
    off-median rows."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import mad_filter

    df = spark.createDataFrame(
        [(i, 100) for i in range(9)] + [(9, 5000)], "id LONG, x LONG"
    )
    out = mad_filter(df, "x", n_sigmas=3.0)
    assert out.count() == 10, "MAD == 0 must disable the gate"
    assert all(r["robust_z"] == 0.0 for r in out.collect())


def test_scd2_merge_semantics(spark):
    """SCD2 merge: change closes + opens, no-op passes through, new
    key opens, history untouched, and multiple same-batch updates
    collapse to the latest effective time (no intermediate version)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.scd import scd2_merge

    ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    dim = spark.createDataFrame(
        [
            (1, "gold", "2022-01-01 00:00:00", "2023-01-01 00:00:00", False),
            (1, "silver", "2023-01-01 00:00:00", None, True),   # will change
            (2, "bronze", "2023-01-01 00:00:00", None, True),   # no-op update
            (3, "gold", "2023-01-01 00:00:00", None, True),     # untouched
        ],
        "key LONG, seg STRING, vf_s STRING, vt_s STRING, is_current BOOLEAN",
    ).select(
        "key", "seg",
        F.col("vf_s").cast("timestamp_ntz").alias("valid_from"),
        F.col("vt_s").cast("timestamp_ntz").alias("valid_to"),
        "is_current",
    )
    upd = spark.createDataFrame(
        [
            (1, "plat", "2024-01-01 00:00:00"),
            (1, "gold", "2024-06-01 00:00:00"),  # later same-batch: wins
            (2, "bronze", "2024-01-01 00:00:00"),
            (9, "new", "2024-01-01 00:00:00"),
        ],
        "key LONG, seg STRING, eff_s STRING",
    ).select("key", "seg", F.col("eff_s").cast("timestamp_ntz").alias("effective_ts"))

    out = scd2_merge(dim, upd, "key", ["seg"])
    rows = {(r["key"], r["seg"], r["is_current"]): r for r in out.collect()}
    assert len(rows) == 6
    # key 1: old history intact, silver closed at the WINNING update's
    # eff (2024-06), one new current "gold" — no intermediate "plat"
    assert (1, "gold", False) in rows
    closed = rows[(1, "silver", False)]
    assert str(closed["valid_to"]).startswith("2024-06-01")
    assert (1, "gold", True) in rows and (1, "plat", True) not in rows
    # key 2 no-op: still one current bronze with original valid_from
    assert str(rows[(2, "bronze", True)]["valid_from"]).startswith("2023-01-01")
    # key 3 untouched; key 9 opened
    assert (3, "gold", True) in rows
    assert str(rows[(9, "new", True)]["valid_from"]).startswith("2024-01-01")


def test_cdc_apply_semantics_and_associativity(spark):
    """Last-writer-wins per key, D removes, I inserts, untouched keys
    pass through — and applying two batches sequentially equals
    applying their union in one call (log-offset ordering makes the
    operator associative over batches)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.scd import cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "key LONG, name STRING, bal DOUBLE",
    )
    batch1 = spark.createDataFrame(
        [(2, "U", 100, "b2", 21.0), (3, "D", 101, None, None),
         (4, "I", 102, "d", 40.0)],
        "key LONG, op STRING, seq LONG, name STRING, bal DOUBLE",
    )
    batch2 = spark.createDataFrame(
        # key 2 updated again (higher seq wins); key 4 deleted after
        # its insert; key 3 re-inserted after its delete
        [(2, "U", 200, "b3", 22.0), (4, "D", 201, None, None),
         (3, "I", 202, "c2", 31.0)],
        "key LONG, op STRING, seq LONG, name STRING, bal DOUBLE",
    )
    step = cdc_apply(
        cdc_apply(snap, batch1, "key", ["name", "bal"]),
        batch2, "key", ["name", "bal"],
    )
    merged = cdc_apply(
        snap, batch1.unionByName(batch2), "key", ["name", "bal"]
    )
    expect = {(1, "a", 10.0), (2, "b3", 22.0), (3, "c2", 31.0)}
    assert {tuple(r) for r in step.collect()} == expect
    assert {tuple(r) for r in merged.collect()} == expect


def test_merge_rollup_equals_full_recompute(spark):
    """Incremental refresh invariant: merging the standing aggregate
    with a new batch's partial aggregate equals recomputing over all
    facts — for every distributive measure (sum/count/min/max),
    including keys that exist only in one side."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.snapshots import (
        merge_rollup,
        partial_rollup,
    )

    rows = [
        ("a", 1, 5.0), ("a", 1, 7.0), ("b", 1, 1.0),
        ("a", 2, 2.0), ("c", 2, 9.0), ("b", 2, 4.0), ("b", 2, 3.0),
    ]
    facts = spark.createDataFrame(rows, "k STRING, batch INT, v DOUBLE")
    build = lambda df: partial_rollup(  # noqa: E731
        df, ["k"], sum_exprs={"s": "v"}, count_col="n",
        min_exprs={"mn": "v"}, max_exprs={"mx": "v"},
    )
    merged = merge_rollup(
        build(facts.filter("batch = 1")),
        build(facts.filter("batch = 2")),
        ["k"], sum_cols=["s"], count_cols=["n"],
        min_cols=["mn"], max_cols=["mx"],
    )
    full = build(facts)
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in full.collect()
    }
