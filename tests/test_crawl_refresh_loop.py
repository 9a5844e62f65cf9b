"""Round-13 exhibit: crawl-refresh operational loop
(queries/composed.py::q_crawl_refresh_loop).

Oracle parity (row/column/hash vs the fused DuckDB plan) is covered by
the parametrized AUX gate; these tests pin the COMPOSITION semantics
on a hand-built fixture where each stage's effect is individually
observable: the template-shifted source is quarantined by the health
gate, a lightly-edited page resurfaces as a near-dup (skip), a
syndicated fresh page as an exact dup (skip), and only rewritten /
genuinely-new content reaches the pack manifest.

Class rules (all on doc_id): % 11 == 5 deleted; % 17 == 2 rewritten;
% 7 == 3 or % 20 in (4, 9) lightly changed; % 13 == 1 spawns a fresh
page (even parent syndicates its own text, odd parent novel text).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.composed import (
    _CRL_FRESH_OFF,
    q_crawl_refresh_loop,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

LONG = " ".join(f"w{i}token" for i in range(80))


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id LONG, source STRING, text STRING, lang STRING"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_stage_semantics_on_planted_fixture(spark, tmp_path):
    rows = []
    # "good" source: 16 docs, churn 6/16 = 0.375 <= 0.5 -> healthy
    #   1: fresh parent (odd -> novel fresh page)
    #   2, 19, 36, 70: rewritten (-> novel, re-ingest)
    #   3: lightly changed long doc (-> near-dup of its old self, skip)
    #   14: fresh parent (even -> syndicated exact-dup fresh page)
    #   16: deleted
    #   6, 8, 12, 20, 22, 26, 28, 41: unchanged filler
    good_ids = [1, 2, 3, 6, 8, 12, 14, 16, 19, 20, 22, 26, 28, 36, 41, 70]
    for i in good_ids:
        rows.append((i, "good", f"{LONG} gooddoc{i}", "en"))
    # "bad" source: every doc at doc_id % 20 == 4 -> churn 1.0 ->
    # quarantined by the health gate
    for i in (4, 24, 44, 64):
        rows.append((i, "bad", f"{LONG} baddoc{i}", "en"))
    sf = _write_docs(spark, tmp_path, rows)
    with Scope():
        out = q_crawl_refresh_loop(spark, sf)
        got = out.collect()
    assert got, "manifest is empty — the mix gate dropped every novel doc"
    s = got[0]
    # CDC op mix: 4 bad + (4 rewritten + 1 changed) good = 9 updates;
    # fresh parents 1 and 14 = 2 inserts; doc 16 = 1 delete
    assert (s["n_inserts"], s["n_updates"], s["n_deletes"]) == (2, 9, 1)
    # health gate: only "good" passes
    assert s["n_src_healthy"] == 1
    # dedup on the GATED increment (good only): syndicated fresh page
    # of 14 exact-dups its parent; lightly-edited doc 3 near-dups its
    # old self; 4 rewritten + 1 novel fresh page = 5 novel
    assert (s["n_exact_dup"], s["n_near_dup"], s["n_novel"]) == (1, 1, 5)
    # packed docs are a subset of the novel set — never the skipped
    # near/exact dups, never anything from the quarantined source
    novel = {2, 19, 36, 70, 1 + _CRL_FRESH_OFF}
    for r in got:
        assert r["first_doc"] in novel and r["last_doc"] in novel
        assert r["n_sources"] == 1  # only "good" survives the gate


def test_quarantined_source_pays_no_dedup_cost(spark, tmp_path):
    """With EVERY source quarantined the increment is empty: the loop
    must return an empty manifest (no packs), not crash in the dedup
    or mix stages."""
    rows = [(i, "bad", f"{LONG} doc{i}", "en") for i in (4, 24, 44, 64)]
    rows += [(j, "bad2", f"{LONG} other{j}", "en") for j in (9, 29, 49, 69)]
    sf = _write_docs(spark, tmp_path, rows)
    with Scope():
        out = q_crawl_refresh_loop(spark, sf)
        n = out.count()
    assert n == 0


def test_rewritten_page_survives_changed_page_skipped(spark, tmp_path):
    """The re-ingest policy head-to-head: same source, one rewritten
    page and one lightly-edited page — only the rewritten one may be
    packed."""
    rows = [(i, "s", f"{LONG} filler{i}", "en") for i in (6, 8, 12, 20, 22, 26, 28, 41)]
    rows.append((2, "s", f"{LONG} rewrite-target", "en"))
    rows.append((3, "s", f"{LONG} light-edit-target", "en"))
    sf = _write_docs(spark, tmp_path, rows)
    with Scope():
        out = q_crawl_refresh_loop(spark, sf)
        got = out.collect()
    packed_ids = set()
    for r in got:
        packed_ids.add(r["first_doc"])
        packed_ids.add(r["last_doc"])
    assert 3 not in packed_ids, "near-dup page was re-ingested"
    if got:  # the mix gate may legitimately drop the single novel doc
        assert packed_ids <= {2}
        assert got[0]["n_near_dup"] == 1 and got[0]["n_novel"] == 1
