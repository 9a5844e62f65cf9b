from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import maintenance
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.plans import census
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sinks import writers

NOW = dt.datetime(2023, 4, 12, 15, 30, tzinfo=dt.timezone.utc)


def _mapping(spark):
    return spark.createDataFrame(
        [
            (1, 10, "Yes", "org/e/ny/cc1/u1/d1"),
            (1, 11, "no", "org/e/ny/cc2/u2/d2"),
            (2, 10, "YES", "org/e/ny/cc1/u1/d1"),
            (2, 12, "yes", "org/e/ny/cc3/u3/d3"),
        ],
        "run_id LONG, epic_dept_id LONG, frcst_yn STRING, dept_bus_strctr STRING",
    )


def _census(spark):
    rows = [
        ("101", "10", "RWBFILE_230412150000.csv", dt.datetime(2023, 4, 12, 15, 0)),
        ("102", "10", "RWBFILE_230412150000.csv", dt.datetime(2023, 4, 12, 15, 0)),
        ("103", "12", "RWBFILE_230412150000.csv", dt.datetime(2023, 4, 12, 15, 0)),
        # older file: dropped by latest-batch selection
        ("104", "10", "RWBFILE_230412120000.csv", dt.datetime(2023, 4, 12, 12, 0)),
    ]
    return spark.createDataFrame(
        rows, "pat_enc_csn_id STRING, encntr_dept_id STRING, file_nm STRING, run_tsp TIMESTAMP"
    )


# perfbench's relational_mix workload: one query per operator family
RELATIONAL_MIX = ("flagship_census_count", "pricing_summary", "anti_join",
                  "sessionize", "exact_dedup")


def _zones(spark):
    return spark.createDataFrame(
        [
            (dt.date(2023, 4, 12), dt.date(2024, 1, 1), "org/e/ny/cc1/u1/d1",
             "Days", "07:00:00", "19:00:00"),
            # overnight zone at prefix-4 level
            (dt.date(2023, 4, 12), dt.date(2024, 1, 1), "org/e/ny/cc3",
             "Nights", "19:00:00", "07:00:00"),
        ],
        "effective_date DATE, expiration_date DATE, location STRING, "
        "zone_name STRING, start_time STRING, end_time STRING",
    )


def test_census_counts_snapshot_and_latest_batch(spark):
    counts = census.census_counts(spark, _census(spark), _mapping(spark), None)
    got = {(r["dept_bus_strctr"], r["census_cnt"]) for r in counts.collect()}
    # run_id=2 snapshot: depts 10,12 forecast-enabled; latest file only
    assert got == {("org/e/ny/cc1/u1/d1", 2), ("org/e/ny/cc3/u3/d3", 1)}


def test_census_counts_watermark_gate(spark):
    posted = spark.createDataFrame(
        [(dt.datetime(2023, 4, 12, 15, 0),)], "census_dttm TIMESTAMP"
    )
    counts = census.census_counts(spark, _census(spark), _mapping(spark), posted)
    assert counts.count() == 0  # nothing strictly newer than the watermark


def test_plan_zones_overnight_and_rowcount(spark):
    planned = census.plan_zones(_zones(spark), rolling_window=7)
    assert planned.count() == 2 * 8
    assert planned.filter(F.col("end_tm") < F.col("start_tm")).count() == 0


def test_full_pipeline_with_post_and_audit(spark, tmp_path):
    audit_path = str(tmp_path / "audit")
    posts = []

    def transport(url, body):
        posts.append(body)
        return 201, "created"

    run = census.run_census_pipeline(
        spark,
        _census(spark),
        _mapping(spark),
        _zones(spark),
        posted=None,
        post_url="http://ukg/api",
        transport=transport,
        audit_path=audit_path,
        run_id=writers.make_run_id(NOW),
        now=NOW,
    )
    rows = run.labeled.collect()
    # cc1 dept matches exact-level zone, cc3 dept matches prefix-4 zone
    assert {r["zone_name"] for r in rows} == {"Days", "Nights"}
    # 15:00 is inside 07-19 Days -> ACTUAL; for future-day replicas -> PLAN
    labels = {(r["zone_name"], r["day_offset"], r["actual"]) for r in rows}
    assert ("Days", 0, "ACTUAL") in labels
    assert ("Days", 1, "PLAN") in labels
    assert run.post_result is not None and run.post_result.report.ok
    assert spark.read.parquet(audit_path).count() == len(rows)


def test_census_post_and_audit_evaluate_the_labeled_plan_once(spark, tmp_path):
    """POST + audit cost one evaluation of the labeled plan plus a
    read of its materialisation each: at most three jobs beyond
    collecting the labeled frame alone."""
    from conftest import count_jobs

    def run(**post):
        return census.run_census_pipeline(
            spark, _census(spark), _mapping(spark), _zones(spark), posted=None,
            run_id=writers.make_run_id(NOW), now=NOW, **post,
        )

    alone = count_jobs(
        spark,
        lambda: run(post_url=None, transport=None, audit_path=None).labeled.collect(),
    )
    posted = count_jobs(
        spark,
        lambda: run(post_url="http://ukg/api", transport=lambda u, b: (201, "created"),
                    audit_path=str(tmp_path / "audit")),
    )
    assert posted <= alone + 3, (posted, alone)


def test_repeated_increment_compiles_no_new_code(spark, tmp_path):
    """The generated-code cache holds an ETL increment's working set
    across a relational query pass: the same increment again (same run
    id, clock and inputs, fresh output directories) finds its classes
    still compiled.  With Spark's default of 100 entries the query pass
    evicts them and the increment recompiles them all.

    AQE numbers whole-stage classes in stage-completion order, so a
    rerun of one plan may name a few classes anew; the bound allows
    for that."""
    import json

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.plans import workload
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import QUERIES
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    from conftest import SF_DIR

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "RWBFILE_230412150000.csv").write_text(
        "pat_enc_csn_id,pat_mrn_id,encntr_dept_id,arrival_dttm,admsn_dttm,"
        "dschrg_dttm,bed_reqst_to_bed_asgnd\n"
        "101,m1,10,2023-04-12 14:00:00,2023-04-12 14:30:00,,12\n"
        "102,m2,12,2023-04-12 13:00:00,,,\n"
    )
    doc = json.dumps({"data": {"children": [{
        "key": {"SCHEDULE_COVERAGE_SCHEDULED_COUNT": "12",
                "SCHEDULE_WORKLOAD_PLANNED_COUNT": "10"},
        "coreEntityKey": {"ORG": {"id": "7", "qualifier": "org/e/ny/cc1/u1/d1"},
                          "DAY": {"id": "2023-04-12"},
                          "SCH_ZONE": {"id": "3", "qualifier": "Days"}},
        "attributes": [{"key": "SCH_WORKLOAD_PLANNED_COUNT_DATE",
                        "value": "4/12/2023"}],
    }]}})
    run_id = writers.make_run_id(NOW)

    def increment(out):
        census.ingest_census(spark, str(landing), str(out / "bronze"), run_id, now=NOW)
        workload.ingest_workload(
            spark, "http://ukg/api", lambda url, body: (200, doc),
            ["org/e/ny/cc1/u1/d1"], "2023-04-12", "2023-04-12",
            str(out / "master"), str(out / "child"), run_id, now=NOW,
        )
        run = census.run_census_pipeline(
            spark, spark.read.parquet(str(out / "bronze")), _mapping(spark),
            _zones(spark), posted=None, post_url="http://ukg/api",
            transport=lambda url, body: (201, "created"),
            audit_path=str(out / "audit"), run_id=run_id, now=NOW,
        )
        assert run.post_result is not None and run.post_result.ok

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    increment(tmp_path / "first")
    for name in RELATIONAL_MIX:
        with Scope():
            QUERIES[name](spark, SF_DIR).collect()
    before = compiles.getCount()
    increment(tmp_path / "second")
    added = compiles.getCount() - before
    assert added <= 8, added


def test_relational_pass_job_count(spark):
    """A warm pass of the five relational-mix queries at sf0.001 starts
    exactly this many Spark jobs.  The count is a property of the plans
    (subqueries, broadcasts, AQE stages, schema inference), not of the
    host, so any change to it is a plan change to explain.

    Before the flagship ran in one scan and ``load_table`` memoised
    schemas, a pass started 33 jobs."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import QUERIES
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    from conftest import SF_DIR, count_jobs

    def relational_pass():
        for name in RELATIONAL_MIX:
            with Scope():
                QUERIES[name](spark, SF_DIR).collect()

    relational_pass()  # warm-up: schemas memoised, plans compiled
    assert count_jobs(spark, relational_pass) == 21


def test_compact_reduces_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(5):
        spark.createDataFrame([(i,)], "v INT").write.mode("append").parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    maintenance.compact(spark, path)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after < before
    assert spark.read.parquet(path).count() == 5


def test_retention_delete(spark, tmp_path):
    path = str(tmp_path / "tbl")
    old = NOW - dt.timedelta(days=100)
    writers.append_versioned(
        spark.createDataFrame([(1,)], "v INT"), path,
        run_id=writers.make_run_id(old), now=old,
    )
    writers.append_versioned(
        spark.createDataFrame([(2,)], "v INT"), path,
        run_id=writers.make_run_id(NOW), now=NOW,
    )
    kept = maintenance.retention_delete(
        spark, path, retention_days=30, now=NOW
    )
    assert kept == 1
    assert spark.read.parquet(path).first()["v"] == 2


def test_entry_contract(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    qs, oracles = m.queries(), m.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


def test_delta_mode_gates_cleanly(spark):
    """The container has no delta-spark: the probe must say so and the
    native-form runner must fail fast with a clear message instead of
    a parser error.  (On a Delta-enabled deployment the same probe
    flips and DELTA_FORMS run natively — covered by the skipif twin.)"""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import maintenance as m

    assert m.delta_enabled(spark) is False
    with pytest.raises(RuntimeError, match="Delta Lake is not available"):
        m.run_delta_maintenance(spark, "compact", table="t")
    with pytest.raises(KeyError):
        m.run_delta_maintenance(spark, "no_such_op")



def test_delta_form_templates_render_documented_sql():
    """The untested-on-this-container surface is exactly these four
    templated one-liners (COVERAGE.md round-11 audit); pin the
    rendered SQL verbatim so an accidental template edit can't ship
    silently to a Delta deployment."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.maintenance import (
        DELTA_FORMS,
    )

    assert DELTA_FORMS["compact"].format(table="t") == "OPTIMIZE t"
    assert DELTA_FORMS["retention_delete"].format(
        table="t", ts_col="ts", cutoff="2023-01-01 00:00:00"
    ) == "DELETE FROM t WHERE ts < TIMESTAMP '2023-01-01 00:00:00'"
    assert (
        DELTA_FORMS["vacuum"].format(table="t", retain_hours=168)
        == "VACUUM t RETAIN 168 HOURS"
    )
    assert (
        DELTA_FORMS["time_travel"].format(table="t", version=3)
        == "SELECT * FROM t VERSION AS OF 3"
    )
    assert set(DELTA_FORMS) == {
        "compact", "retention_delete", "vacuum", "time_travel",
    }


def test_delta_native_forms_execute():
    """Runs ONLY where delta-spark is installed (not this container):
    builds a Delta session and exercises OPTIMIZE/DELETE/VACUUM/
    VERSION AS OF through run_delta_maintenance."""
    delta = pytest.importorskip("delta")
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import maintenance as m
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    s = delta.configure_spark_with_delta_pip(builder).getOrCreate()
    try:
        assert m.delta_enabled(s) is True
        s.sql("CREATE TABLE __delta_probe (x INT, ts TIMESTAMP) USING delta")
        s.sql("INSERT INTO __delta_probe VALUES (1, TIMESTAMP '2020-01-01')")
        m.run_delta_maintenance(s, "compact", table="__delta_probe")
        m.run_delta_maintenance(
            s, "retention_delete", table="__delta_probe",
            ts_col="ts", cutoff="2021-01-01 00:00:00",
        )
        assert (
            m.run_delta_maintenance(
                s, "time_travel", table="__delta_probe", version=0
            ).count() >= 0
        )
    finally:
        s.sql("DROP TABLE IF EXISTS __delta_probe")


def test_curation_pipeline_each_stage_acts(spark, tmp_path):
    """Planted corpus where every stage must strike exactly one doc:
    an exact dup, a non-English doc, a low-quality doc, and a
    contaminated doc — the survivor set pins stage composition."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import curation as q

    good = ("the and is in to of it for on as this that with you "
            "are be have from one all words " * 3).strip()
    eval_text = "benchmark answer key alpha beta gamma delta " * 8
    rows = [
        # doc_ids < 10 are the pipeline's eval set
        (0, eval_text, "en", "s", len(eval_text)),
        # survivors
        (10, good + " extra tail one", "en", "s", 1),
        (11, good + " extra tail two", "en", "s", 1),
        # struck by exact dedup (duplicate of 10 modulo whitespace)
        (12, "  " + good + "   extra tail one ", "en", "s", 1),
        # struck by language filter
        (13, good + " langue cible", "fr", "s", 1),
        # struck by quality gate (no stopwords, heavy punctuation)
        (14, "@@@ ### $$$ %%% ^^^ &&& *** ((( )))", "en", "s", 1),
        # struck by decontamination (contains a 24-char eval gram)
        (15, good + " benchmark answer key alpha beta", "en", "s", 1),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    d = str(tmp_path / "fixture")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))

    survivors = {r["doc_id"] for r in q.q_curation_pipeline(spark, d).collect()}
    # 12 deduped, 13 language-filtered, 14 quality-gated, 15
    # decontaminated; 10 and 11 survive (eval doc 0 survives iff its
    # own quality clears the median — don't pin it)
    assert {10, 11} <= survivors
    assert survivors.isdisjoint({12, 13, 14, 15})
