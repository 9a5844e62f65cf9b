"""Round-13 exhibit: the STREAMING twin of the bronze ingest landing
path (queries/composed.py::q_streaming_bronze_ingest) — SURVEY T2's
Auto-Loader analog: file-source CSV stream → watermark-bounded dedup
ledger → foreachBatch anti-join + batch-id-keyed overwrite.

Oracle parity (row/column/hash vs ORACLE_BRONZE_INGEST, the SAME
oracle as the batch replay) is covered by the AUX gate; these tests
pin the STREAMING semantics the oracle cannot see — exactly-once per
file across micro-batch boundaries AND across a checkpoint restart —
on a hand-built ≥3-file fixture with maxFilesPerTrigger=1 so every
file arrives in its own micro-batch.

Reference spec: code/ukg_open_census.py:357-375 (hand-rolled
processed-file set difference) + download_from_sharepoint.py:104-124.
"""

from __future__ import annotations

import csv
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.composed import (
    _stream_plan_bronze_ingest,
    drain_bronze_stream,
)

HEADER = [
    "pat_enc_csn_id", "pat_mrn_id", "encntr_dept_id",
    "arrival_dttm", "admsn_dttm", "dschrg_dttm",
    "bed_reqst_to_bed_asgnd",
]


def _write_file(csv_dir: str, name: str, rows: list[list[str]]) -> None:
    with open(os.path.join(csv_dir, name), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(HEADER)
        w.writerows(rows)


def _row(csn: str, bed: str = "1") -> list[str]:
    return [csn, "MRN1", "7", "2024-01-01 08:00:00", "", "2024-01-01 17:30:00", bed]


@pytest.fixture()
def bronze_env(spark):
    csv_dir = tempfile.mkdtemp(prefix="sbi_csv_")
    bronze = tempfile.mkdtemp(prefix="sbi_out_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="sbi_ckpt_")
    # F1 is pre-ledgered; F2 carries an in-file duplicate row (same
    # raw csn twice) the dedup state must collapse; F3 is plain.
    _write_file(csv_dir, "census__202401010800.csv", [_row("100")])
    _write_file(
        csv_dir,
        "census__202401011000.csv",
        [_row("200"), _row("201"), _row("200", bed="9")],
    )
    _write_file(csv_dir, "census__202401011200.csv", [_row("300"), _row("X301")])
    ledger = spark.createDataFrame(
        [("census__202401010800.csv",)], "file_nm STRING"
    )
    return csv_dir, bronze, ckpt, ledger


def _drain(spark, csv_dir, bronze, ckpt, ledger, mfpt=1):
    typed = _stream_plan_bronze_ingest(
        spark, sf_dir="unused", csv_dir=csv_dir, max_files_per_trigger=mfpt
    )
    drain_bronze_stream(typed, ledger, bronze, ckpt)


def test_multibatch_ledger_exactly_once(spark, bronze_env):
    """3 files, maxFilesPerTrigger=1 → ≥3 micro-batches: the ledgered
    file never lands, the in-file duplicate collapses to one row, and
    every surviving raw csn lands exactly once."""
    csv_dir, bronze, ckpt, ledger = bronze_env
    _drain(spark, csv_dir, bronze, ckpt, ledger)
    written = spark.read.parquet(bronze)
    by_file = {
        r["file_nm"]: r["n"]
        for r in written.groupBy("file_nm").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert "census__202401010800.csv" not in by_file, "ledgered file landed"
    assert by_file == {
        "census__202401011000.csv": 2,  # dup row collapsed
        "census__202401011200.csv": 2,
    }
    # the malkey cast NULLed in-flight but the row itself landed
    assert written.filter(F.col("pat_enc_csn_id").isNull()).count() == 1
    # at least 3 micro-batches actually ran (one per file): the
    # checkpoint's commit log records one entry per completed batch
    commits = [
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    ]
    assert len(commits) >= 3, f"expected >=3 micro-batches, got {commits}"


def test_checkpoint_restart_is_exactly_once(spark, bronze_env):
    """A second drain from the SAME checkpoint after a new file
    arrives lands ONLY the new file — nothing from the first drain is
    re-ingested (the file-source checkpoint is the new-file ledger;
    the explicit ledger still gates re-delivered known names)."""
    csv_dir, bronze, ckpt, ledger = bronze_env
    _drain(spark, csv_dir, bronze, ckpt, ledger)
    n_first = spark.read.parquet(bronze).count()
    _write_file(csv_dir, "census__202401011400.csv", [_row("400")])
    _drain(spark, csv_dir, bronze, ckpt, ledger)
    written = spark.read.parquet(bronze)
    assert written.count() == n_first + 1
    # every raw-distinct csn appears exactly once — no double landing
    dupes = (
        written.groupBy("file_nm", "pat_mrn_id", "bed_reqst_to_bed_asgnd",
                        "pat_enc_csn_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dupes == 0


def test_streaming_equals_batch_manifest(spark):
    """The streamed landing and the batch landing of the SAME
    synthesized fixture produce value-identical manifests (the AUX
    oracle checks each against DuckDB; this pins them against each
    other directly, at pytest scale)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    sf = "/root/testdata/sf0.001"
    batch = {
        tuple(sorted(r.asDict().items()))
        for r in q.AUX_QUERIES["bronze_ingest_replay"](spark, sf).collect()
    }
    stream = {
        tuple(sorted(r.asDict().items()))
        for r in q.AUX_QUERIES["streaming_bronze_ingest"](spark, sf).collect()
    }
    assert batch and batch == stream


def _crash_then_redrain(spark, csv_dir, bronze, ckpt, ledger):
    """Drive the crash-after-write-before-commit window: the fault
    seam raises INSIDE foreachBatch after the write of micro-batch 1
    — the first batch that actually lands rows (batch 0 is the
    pre-ledgered file, whose write is empty, so crashing there would
    make the scenario vacuous) — failing the streaming query after
    the data landed but before the checkpoint committed; the second
    drain (no fault) replays that batch."""
    state = {"fired": False}

    def fault(batch_id):
        if batch_id == 1 and not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash after write")

    typed = _stream_plan_bronze_ingest(
        spark, sf_dir="unused", csv_dir=csv_dir, max_files_per_trigger=1
    )
    with pytest.raises(Exception, match="injected crash"):
        drain_bronze_stream(typed, ledger, bronze, ckpt, fault=fault)
    typed2 = _stream_plan_bronze_ingest(
        spark, sf_dir="unused", csv_dir=csv_dir, max_files_per_trigger=1
    )
    drain_bronze_stream(typed2, ledger, bronze, ckpt)
    return spark.read.parquet(bronze)


def test_idempotent_landing_is_exactly_once_under_midbatch_crash(
    spark, bronze_env
):
    """The batch-id-keyed overwrite landing is exactly-once: the
    replayed batch lands on top of its previous attempt, so the crash
    leaves NO duplicates and the final content equals a clean
    drain's."""
    csv_dir, bronze, ckpt, ledger = bronze_env
    written = _crash_then_redrain(spark, csv_dir, bronze, ckpt, ledger)
    dupes = (
        written.groupBy(
            "file_nm", "pat_mrn_id", "bed_reqst_to_bed_asgnd", "pat_enc_csn_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dupes == 0
    by_file = {
        r["file_nm"]: r["n"]
        for r in written.groupBy("file_nm")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_file == {
        "census__202401011000.csv": 2,
        "census__202401011200.csv": 2,
    }
