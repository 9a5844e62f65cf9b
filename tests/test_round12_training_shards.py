"""Round-12 composition exhibit: the incremental-ingest →
exact-dedup → quality-gate → temperature-mix → pack training-shard
pipeline (queries/curation.py::q_training_shard_pipeline).

Oracle parity (row/column/hash vs the fused DuckDB plan) is covered by
the parametrized AUX gate in test_aux_queries.py; these tests pin the
COMPOSITION semantics on a hand-built fixture where each stage's
effect is individually observable.
"""

from __future__ import annotations

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.curation import (
    _INC_SPLIT_MOD,
    q_training_shard_pipeline,
)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id LONG, source STRING, text STRING, lang STRING"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_manifest_shape_and_token_accounting(spark, tmp_path):
    rows = []
    # 40 batch docs (doc_id % 4 == 0), distinct texts, two sources
    for i in range(40):
        rows.append(
            (
                i * _INC_SPLIT_MOD,
                "src_a" if i % 3 else "src_b",
                f"unique doc {i} " + "tok " * (20 + i),
                "en",
            )
        )
    # reference corpus rows (non-multiples of 4) never reach a shard
    rows.append((1, "src_a", "reference-only text", "en"))
    rows.append((2, "src_b", "another reference text", "en"))
    sf = _write_docs(spark, tmp_path, rows)
    out = q_training_shard_pipeline(spark, sf).collect()
    assert out, "pipeline produced an empty manifest"
    assert {r["shard"] for r in out} <= set(range(8))
    for r in out:
        assert r["pack_id"] >= 0
        assert r["n_docs"] >= 1
        assert r["pack_tokens"] >= 1
        assert 1 <= r["n_sources"] <= 2
        assert r["first_doc"] <= r["last_doc"]
        # only batch docs (multiples of the split modulus) get packed
        assert r["first_doc"] % _INC_SPLIT_MOD == 0
    # pack ids are contiguous from 0 within each shard
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pack_id"])
    for shard, pids in by_shard.items():
        assert sorted(pids) == list(range(len(pids))), (
            f"shard {shard} pack ids not contiguous: {sorted(pids)}"
        )


def test_cross_corpus_dedup_drops_known_content(spark, tmp_path):
    """A batch doc whose (normalized) text already exists in the
    reference corpus must not reach any shard; a batch-internal dup
    keeps only the canonical (min-id) copy."""
    filler = [
        (
            i * _INC_SPLIT_MOD,
            "src_a",
            f"filler document {i} " + "pad " * 30,
            "en",
        )
        for i in range(2, 12)
    ]
    rows = filler + [
        # doc 0: exact text of reference doc 1 (normalized equal)
        (0, "src_a", "  SHARED   Reference Text " + "pad " * 30, "en"),
        (1, "src_a", "shared reference text " + "pad " * 30, "en"),
        # docs 48/52: batch-internal dups — only 48 survives
        (48, "src_a", "batch dup text " + "pad " * 30, "en"),
        (52, "src_a", "batch dup text " + "pad " * 30, "en"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = q_training_shard_pipeline(spark, sf).collect()
    packed_span = [(r["first_doc"], r["last_doc"]) for r in out]
    packed_ids = set()
    for lo, hi in packed_span:
        packed_ids.add(lo)
        packed_ids.add(hi)
    # doc 0 (known to the reference) and doc 52 (non-canonical dup)
    # are never a span endpoint of any pack that could contain them:
    # verify via total doc count instead — count docs that survived
    total_docs = sum(r["n_docs"] for r in out)
    # 10 filler + doc 48; doc 0 and doc 52 dropped.  The quality and
    # mix gates may drop more, never add.
    assert total_docs <= 11
    assert 0 not in packed_ids or all(lo != 0 for lo, _ in packed_span)


def test_empty_batch_yields_empty_manifest(spark, tmp_path):
    # only reference-corpus docs (no doc_id % 4 == 0)
    rows = [
        (1, "src_a", "ref one " + "pad " * 20, "en"),
        (2, "src_a", "ref two " + "pad " * 20, "en"),
        (3, "src_b", "ref three " + "pad " * 20, "en"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    assert q_training_shard_pipeline(spark, sf).count() == 0


# --- exhibit 2: eval-safe split plan ---------------------------------

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.curation import (  # noqa: E402
    q_eval_safe_split_plan,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope  # noqa: E402


def test_eval_safe_split_quarantines_whole_cluster(spark, tmp_path):
    """A doc sharing a 24-gram with the eval set is dropped AND so is
    its near-duplicate twin (same minhash cluster), even though the
    twin itself shares nothing with the eval set."""
    bench_text = (
        "this is the held out benchmark question about spark internals "
        "and shuffle behavior " + "qq " * 30
    )
    # doc 100 embeds a >=24-char span of the benchmark text; doc 104 is
    # an exact dup of doc 100 (same cluster), sharing nothing with the
    # eval set on its own only via the copied span — make the twin NOT
    # contain the span: near-dup via minhash needs high shingle overlap
    # though, so use an exact dup (same cluster, same contamination) and
    # a THIRD doc that is a near-dup of a clean doc to check survival.
    contaminated = (
        "prefix words here " + "the held out benchmark question about "
        "spark internals padding " + "zz " * 40
    )
    clean_a = "totally unrelated document alpha " + "aa " * 50
    clean_b = "totally unrelated document alpha " + "aa " * 50  # dup of a
    rows = [
        (0, "eval", bench_text, "en"),  # the benchmark doc
        (100, "web", contaminated, "en"),
        (104, "web", contaminated, "en"),  # cluster-mate of 100
        (200, "web", clean_a, "en"),
        (204, "books", clean_b, "en"),  # cluster-mate of 200
        (300, "web", "another clean standalone doc " + "bb " * 40, "en"),
    ]
    spark.createDataFrame(
        rows, "doc_id LONG, source STRING, text STRING, lang STRING"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    with Scope():
        out = q_eval_safe_split_plan(spark, str(tmp_path))
        rows_out = out.collect()
    # eval doc 0 flags itself -> its cluster gone; docs 100/104 share
    # the benchmark 24-gram -> gone.  Survivors: 200, 204, 300.
    n_docs = sum(r["n_docs"] for r in rows_out)
    n_tokens = sum(r["n_tokens"] for r in rows_out)
    assert n_docs == 3
    assert n_tokens > 0
    assert {r["split"] for r in rows_out} <= {"train", "val", "test"}
    # 200 and 204 are the same cluster: they land in the SAME split,
    # so their two sources appear under exactly one split label
    split_of = {
        (r["split"], r["source"]): r["n_docs"] for r in rows_out
    }
    books_splits = {s for (s, src) in split_of if src == "books"}
    web_200_splits = {
        s for (s, src) in split_of if src == "web"
    }
    assert books_splits and books_splits <= web_200_splits


# --- exhibit 4: CDC diff -> apply round-trip --------------------------

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import scd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def test_cdc_diff_apply_identity_planted(spark):
    """The property the cdc_roundtrip oracle verifies on fixture data,
    pinned on a planted frame: apply(old, diff(old, new)) == new for
    every op kind at once (update, delete, insert, attr-to-NULL
    update, untouched pass-through)."""
    old = spark.createDataFrame(
        [
            (1, "A", 10),
            (2, "B", 20),
            (3, "C", 30),
            (4, "D", 40),
        ],
        "key LONG, seg STRING, nk INT",
    )
    new = spark.createDataFrame(
        [
            (1, "A", 10),      # untouched
            (2, "B2", 20),     # update
            (4, None, 40),     # update nulling an attribute
            (5, "E", 50),      # insert;  key 3 deleted
        ],
        "key LONG, seg STRING, nk INT",
    )
    feed = scd.snapshot_diff(old, new, "key", ["seg", "nk"])
    kinds = {r["key"]: r["change_type"] for r in feed.collect()}
    assert kinds == {2: "update", 3: "delete", 4: "update", 5: "insert"}
    log = feed.select(
        "key",
        F.when(F.col("change_type") == "delete", "D")
        .otherwise("U")
        .alias("op"),
        "seg",
        "nk",
        F.lit(1).alias("seq"),
    )
    rebuilt = scd.cdc_apply(old, log, "key", ["seg", "nk"])
    got = sorted(tuple(r) for r in rebuilt.collect())
    want = sorted(tuple(r) for r in new.collect())
    assert got == want


# --- exhibits 3 & 7: streaming shard feed, diverse retrieval ---------

import tempfile  # noqa: E402


def test_streaming_shard_feed_multibatch_equals_single_drain(spark):
    """Chained-stateful semantics across MICRO-BATCH boundaries: with
    maxFilesPerTrigger=1 the duplicate copy arrives in a SECOND
    micro-batch, after the watermark advanced past most of its rows —
    every duplicate is then removed either by the dedup state or by
    late-arrival drop, and the finalized-window manifest must equal
    the single-batch drain exactly."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.composed import (
        _stream_plan_shard_feed,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.streaming import incremental

    sf = "/root/testdata/sf0.001"

    def drain(name, mfpt):
        plan = _stream_plan_shard_feed(spark, sf, max_files_per_trigger=mfpt)
        ckpt = tempfile.mkdtemp(prefix=f"ssf_{name}_")
        incremental.run_to_memory_sink(plan, name, ckpt, output_mode="append")
        return {
            (r["event_type"], r["window_start"]): (r["n_events"], r["sum_value"])
            for r in spark.table(name).collect()
        }

    single = drain("ssf_single", None)
    multi = drain("ssf_multi", 1)
    assert single and single == multi


def test_streaming_shard_feed_fixture_assumption_pinned(spark):
    """The shard-feed oracle parity silently assumes the base events
    fixture carries UNIQUE, NON-NULL event_ids:
    dropDuplicatesWithinWatermark(["event_id"]) would also collapse
    genuine same-id (or NULL-id) rows that the batch oracle counts
    individually (round-12 advice).  Pin the assumption at both the
    pytest scale (sf0.001) and the driver oracle scale (sf0.01) so a
    fixture regeneration that breaks it fails HERE with a message,
    not as an inscrutable hash mismatch."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        stats = ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("event_id").alias("n_nonnull"),
            F.countDistinct("event_id").alias("n_distinct"),
        ).collect()[0]
        assert stats["n"] == stats["n_nonnull"], (
            f"{sf}: NULL event_ids break streaming_shard_feed parity"
        )
        assert stats["n"] == stats["n_distinct"], (
            f"{sf}: duplicate event_ids break streaming_shard_feed parity"
        )


def test_diverse_retrieval_diversifies(spark):
    """MMR output sanity on the fixture: 5 distinct candidates, rank 1
    is the highest-relevance candidate (MMR round 1 is pure
    relevance), scores weakly decrease is NOT required (MMR scores
    can rise when penalties shrink) — but every selected id must come
    from the fused candidate pool."""
    from conftest import SF_DIR

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.composed import (
        q_diverse_retrieval,
    )

    with Scope():
        out = q_diverse_retrieval(spark, SF_DIR)
        rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    ids = [r["cand_id"] for r in rows]
    assert len(set(ids)) == 5
    assert all(r["mmr_score"] is not None for r in rows)
    # note: later-round scores may EXCEED rank 1's (round 1 is raw
    # relevance; later rounds are 0.7*rel - 0.3*max_sim, and cosine
    # penalties can be negative), so no cross-rank ordering is pinned
    # here — the full greedy sequence is value-verified by the fused
    # DuckDB oracle in the AUX gate.
