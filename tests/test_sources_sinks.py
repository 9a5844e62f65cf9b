from __future__ import annotations

import datetime as dt
import json
import os
import uuid

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sinks import notify, writers
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sinks.rest_sink import (
    post_rows,
    post_then_audit,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources import (
    cleanser,
    csv_source,
    json_source,
    sharepoint,
)

NOW = dt.datetime(2023, 4, 12, 15, 30, tzinfo=dt.timezone.utc)


def test_csv_explicit_schema_and_filename(spark, tmp_path):
    d = tmp_path / "csvdir"
    d.mkdir()
    (d / "RWBFILE_230412120000.csv").write_text("id,name\n1,alice\n2,bob\n")
    (d / "RWBFILE_230412150000.csv").write_text("id,name\n3,carol\n")
    df = csv_source.read_csv_dir_with_filename(
        spark, str(d), "id INT, name STRING"
    )
    rows = df.collect()
    assert len(rows) == 3
    by_id = {r["id"]: r["file_nm"] for r in rows}
    assert by_id[3] == "RWBFILE_230412150000.csv"
    assert df.schema["id"].dataType.typeName() == "integer"


def test_json_workload_normalization(spark):
    doc = json.dumps(
        {
            "data": {
                "children": [
                    {
                        "key": {
                            "SCHEDULE_COVERAGE_SCHEDULED_COUNT": "12",
                            "SCHEDULE_WORKLOAD_PLANNED_COUNT": "10",
                        },
                        "coreEntityKey": {
                            "ORG": {"id": "1001", "qualifier": "Org/R/F/CC/U/D"},
                            "DAY": {"id": "2023-04-12"},
                            "SCH_ZONE": {"id": "3", "qualifier": "Days"},
                        },
                        "attributes": [
                            {"key": "SCH_WORKLOAD_PLANNED_COUNT_JOB", "value": "RN"},
                            {"key": "SCH_WORKLOAD_PLANNED_COUNT_DATE", "value": "4/12/2023"},
                        ],
                    }
                ]
            }
        }
    )
    doc_df = json_source.json_documents_df(spark, [doc], json_source.WORKLOAD_SCHEMA)
    master, child = json_source.normalize_workload(doc_df)
    m = master.first()
    assert m["org_id"] == 1001
    assert m["day_id"] == dt.date(2023, 4, 12)
    assert m["schdl_zn_id"] == 3
    c = child.first()
    assert c["plnd_cnt_job"] == "RN"
    assert c["plnd_cnt_dt"] == dt.date(2023, 4, 12)  # M/dd/yyyy parse


def test_json_staffing_normalization_defaults_count(spark):
    doc = json.dumps(
        [
            {
                "id": 7,
                "name": "ICU Matrix",
                "description": "d",
                "staffingMatrixRanges": [
                    {
                        "lowRange": 0.0,
                        "highRange": 5.5,
                        "staffingMatrixItems": [
                            {
                                "item": {"id": 1, "qualifier": "RN"},
                                "scheduleZone": {"id": 3, "qualifier": "Days"},
                                "column": {"id": 9, "qualifier": "CountCol"},
                                "columnNumber": 1,
                                "staffingCount": None,
                            }
                        ],
                    }
                ],
            }
        ]
    )
    doc_df = json_source.json_documents_df(spark, [doc], json_source.STAFFING_SCHEMA)
    master, child = json_source.normalize_staffing(doc_df)
    assert master.first()["stf_matrx_nm"] == "ICU Matrix"
    c = child.first()
    # optional staffingCount defaults to 0 (code/ukg_stf_matrx.py:137-141)
    assert float(c["stf_cnt"]) == 0.0
    assert float(c["hi_range"]) == 5.5


def test_json_zones_normalization(spark):
    doc = json.dumps(
        [
            {
                "effectiveDate": "2023-04-12",
                "expirationDate": "2024-01-01",
                "location": {"qualifier": "Org/R/F/CC/U/D"},
                "scheduleZoneSet": {
                    "scheduleZones": [
                        {"name": "Days", "description": "", "startTime": "07:00:00",
                         "endTime": "19:00:00"},
                        {"name": "Nights", "description": "", "startTime": "19:00:00",
                         "endTime": "07:00:00"},
                    ]
                },
            }
        ]
    )
    doc_df = json_source.json_documents_df(spark, [doc], json_source.ZONES_SCHEMA)
    zones = json_source.normalize_zones(doc_df)
    assert zones.count() == 2
    assert {r["zone_name"] for r in zones.collect()} == {"Days", "Nights"}


def test_json_documents_frame_is_jvm_local(spark):
    """The documents reach the JVM once: the frame's only leaf is a
    LocalRelation, never a Python-backed LogicalRDD."""
    doc_df = json_source.json_documents_df(spark, ["{}", "[]"], json_source.WORKLOAD_SCHEMA)
    leaves = doc_df._jdf.queryExecution().analyzed().collectLeaves()
    names = [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]
    assert names == ["LocalRelation"]


def _workload_doc(i, qualifier):
    return json.dumps({"data": {"children": [{
        "key": {"SCHEDULE_COVERAGE_SCHEDULED_COUNT": str(i),
                "SCHEDULE_WORKLOAD_PLANNED_COUNT": str(i + 1)},
        "coreEntityKey": {"ORG": {"id": str(1000 + i), "qualifier": qualifier},
                          "DAY": {"id": "2023-04-12"},
                          "SCH_ZONE": {"id": "3", "qualifier": "Días"}},
        "attributes": [{"key": "SCH_WORKLOAD_PLANNED_COUNT_JOB", "value": "RN"},
                       {"key": "SCH_WORKLOAD_PLANNED_COUNT_DATE", "value": "4/12/2023"}],
    }]}}, ensure_ascii=False)


def _staffing_doc(i, name):
    item = {"item": {"id": 1, "qualifier": "RN"},
            "scheduleZone": {"id": 3, "qualifier": "Días"},
            "column": {"id": 9, "qualifier": "C"},
            "columnNumber": 1, "staffingCount": i}
    ranges = [{"lowRange": 0.0, "highRange": 5.5, "staffingMatrixItems": [item]}]
    return json.dumps([{"id": i, "name": name, "description": "d",
                        "staffingMatrixRanges": ranges}], ensure_ascii=False)


def test_json_documents_normalize_as_the_list_built_frame(spark):
    """Normalizing the Arrow-built frame gives the rows a frame built
    from a list of tuples gave: empty input, non-ASCII text, malformed
    documents (a NULL struct) and more documents than partitions."""
    from pyspark.sql import functions as F

    def list_built(docs, schema):
        df = spark.createDataFrame([(d,) for d in docs], "raw STRING")
        return df.select(F.from_json(F.col("raw"), schema).alias("doc"))

    def rows(df):
        return sorted(df.collect(), key=repr)

    many = spark.sparkContext.defaultParallelism + 3
    cases = {
        "empty": ([], []),
        "non_ascii": ([_workload_doc(1, "Org/Zürich/病院")],
                      [_staffing_doc(1, "Unidad de cuidados intensivos ñ")]),
        "malformed": (["{not json", _workload_doc(2, "Org/a")],
                      ["[{", _staffing_doc(2, "ICU")]),
        "many": ([_workload_doc(i, f"Org/{i}") for i in range(many)],
                 [_staffing_doc(i, f"M{i}") for i in range(many)]),
    }
    for case, (workload_docs, staffing_docs) in cases.items():
        for docs, schema, normalize in (
            (workload_docs, json_source.WORKLOAD_SCHEMA, json_source.normalize_workload),
            (staffing_docs, json_source.STAFFING_SCHEMA, json_source.normalize_staffing),
        ):
            got = json_source.json_documents_df(spark, docs, schema)
            want = list_built(docs, schema)
            assert got.schema == want.schema, case
            assert rows(got) == rows(want), case
            for g, w in zip(normalize(got), normalize(want)):
                assert rows(g) == rows(w), case
    bad = json_source.json_documents_df(spark, ["[{"], json_source.STAFFING_SCHEMA)
    assert bad.first()["doc"] is None
    many_master, _ = json_source.normalize_workload(
        json_source.json_documents_df(spark, cases["many"][0], json_source.WORKLOAD_SCHEMA)
    )
    assert many_master.count() == many


def test_cleanser_bare_newlines_and_quotes(tmp_path):
    raw = 'h1,h2\r\nval1,"with,comma"\r\nbroken\nline,x\r\n'.encode()
    src = tmp_path / "in.csv"
    dst = tmp_path / "out.csv"
    src.write_bytes(raw)
    cleanser.cleanse_file(str(src), str(dst))
    out = dst.read_text()
    assert "withcomma" in out  # embedded comma dropped, quotes stripped
    assert "broken line,x" in out  # bare \n became a space
    assert "h1,h2" not in out  # header dropped


def test_cleanser_cp1252_fallback(tmp_path):
    raw = "h\r\ncaf\xe9,1\r\n".encode("cp1252")
    src = tmp_path / "in.csv"
    dst = tmp_path / "out.csv"
    src.write_bytes(raw)
    cleanser.cleanse_file(str(src), str(dst))
    assert "café" in dst.read_text()


def test_audit_columns_and_latest_snapshot_export(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,), (2,)], "v INT")
    writers.append_versioned(df, path, run_id=writers.make_run_id(NOW), now=NOW)
    later = NOW + dt.timedelta(hours=1)
    writers.append_versioned(df, path, run_id=writers.make_run_id(later), now=later)
    full = spark.read.parquet(path)
    assert full.count() == 4
    assert set(full.columns) >= {"run_id", "row_insert_tsp", "insert_user_id"}
    out = str(tmp_path / "export")
    writers.export_latest_snapshot(spark, path, out)
    assert spark.read.parquet(out).count() == 2  # only the later run


def test_post_success_gated_audit(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(5)], "v INT")
    audit_path = str(tmp_path / "audit")

    def ok_transport(url, body):
        return 200, "ok"

    def bad_transport(url, body):
        return 500, "boom"

    wrote = []
    res = post_then_audit(df, "http://x", ok_transport, lambda d: wrote.append(1),
                          batch_size=2)
    assert res.report.ok and wrote == [1]
    wrote.clear()
    res = post_then_audit(df, "http://x", bad_transport, lambda d: wrote.append(1),
                          batch_size=2)
    # R6: no audit write when any batch ultimately failed
    assert not res.report.ok and wrote == []


def test_audit_holds_exactly_the_posted_rows(spark, tmp_path):
    """R6: the audit is written from the rows that were POSTed, not from
    a second evaluation of the input.  The transport appends a row to
    the source table (rewriting its one parquet file) during the POST;
    the appended row must not reach the audit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sinks.rest_sink import (
        post_then_audit_distributed,
    )

    def write_source(path, values):
        pq.write_table(pa.table({"v": pa.array(values, pa.int32())}), path)

    for form in ("driver", "distributed"):
        src_dir = tmp_path / form / "src"
        posts = tmp_path / form / "posts"
        src_dir.mkdir(parents=True)
        posts.mkdir()
        src, posts_dir = str(src_dir / "part-0.parquet"), str(posts)
        audit_path = str(tmp_path / form / "audit")
        write_source(src, [1, 2, 3])

        # the distributed form calls it in Python workers: evidence goes to disk
        def transport(url, body):
            write_source(src, [1, 2, 3, 99])
            with open(os.path.join(posts_dir, uuid.uuid4().hex), "w") as f:
                f.write(body)
            return 200, "ok"

        df = spark.read.parquet(str(src_dir))
        write_audit = lambda d: d.write.parquet(audit_path)  # noqa: E731
        if form == "driver":
            assert post_then_audit(df, "http://x", transport, write_audit).ok
        else:
            post_then_audit_distributed(df, "http://x", transport, write_audit)
        posted = sorted(r["v"] for p in posts.iterdir() for r in json.loads(p.read_text()))
        audited = sorted(r["v"] for r in spark.read.parquet(audit_path).collect())
        assert posted == [1, 2, 3], form
        assert audited == posted, form


def test_excel_magic_bytes_never_misparse_as_csv(spark):
    """A payload with Excel magic bytes must never silently fall back
    to the CSV parser (which would yield one garbage column): it raises
    whatever pd.read_excel raised (no engine / corrupt workbook)."""
    import pytest

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources import sharepoint

    fake_xlsx = b"PK\x03\x04" + b"\x00" * 64  # zip magic, truncated junk
    with pytest.raises((ImportError, ValueError, Exception)):
        sharepoint.excel_bytes_to_df(spark, fake_xlsx)
    # plain CSV bytes still parse through the fallback
    df = sharepoint.excel_bytes_to_df(spark, b"a,b\n1,2\n")
    assert df.columns == ["a", "b"] and df.count() == 1


def test_post_distributed_ledger_and_audit_gate(spark, tmp_path):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sinks.rest_sink import (
        post_rows_distributed,
        post_then_audit_distributed,
    )

    df = spark.createDataFrame([(i,) for i in range(20)], "v INT").repartition(4)
    postdir = tmp_path / "posts"
    postdir.mkdir()
    pd_str = str(postdir)

    # partition-local fake transport: executors run in separate Python
    # worker processes, so evidence goes to disk, not a closure list
    def disk_transport(url, body):
        import json as j
        import os as o
        import uuid

        rows = j.loads(body)
        if any(r["v"] == 13 for r in rows) and len(rows) > 1:
            return 500, "batch poison"
        if any(r["v"] == 7 for r in rows):
            return 500, "permanent failure"  # fails even alone
        with open(o.path.join(pd_str, uuid.uuid4().hex), "w") as f:
            f.write(body)
        return 200, "ok"

    ledger = post_rows_distributed(df, "http://x", disk_transport, batch_size=5)
    rows = ledger.collect()
    posted = sum(r["n_posted"] for r in rows)
    failed = [r for r in rows if r["failed_row"] is not None]
    assert posted == 19  # everything except the permanent failure
    assert len(failed) == 1 and '"v": 7' in failed[0]["failed_row"]
    assert "permanent failure" in failed[0]["error"]
    # poison row 13 succeeded alone after shrink-to-1 (it's in a file)
    import json as j

    posted_vs = {
        r["v"]
        for p in postdir.iterdir()
        for r in j.loads(p.read_text())
    }
    assert 13 in posted_vs and 7 not in posted_vs
    # re-reading the ledger must NOT re-POST (eager checkpoint)
    n_files = len(list(postdir.iterdir()))
    assert ledger.filter(ledger.failed_row.isNotNull()).count() == 1
    assert len(list(postdir.iterdir())) == n_files

    # R6 gate: audit only when ledger is failure-free
    wrote = []
    post_then_audit_distributed(
        df, "http://x", disk_transport, lambda d: wrote.append(1), batch_size=5
    )
    assert wrote == []  # v=7 still fails

    ok_df = df.filter(df.v != 7)
    post_then_audit_distributed(
        ok_df, "http://x", disk_transport, lambda d: wrote.append(1), batch_size=5
    )
    assert wrote == [1]


def test_post_retry_shrink_to_one(spark):
    df = spark.createDataFrame([(i,) for i in range(4)], "v INT")
    seen_sizes = []

    def flaky(url, body):
        rows = json.loads(body)
        seen_sizes.append(len(rows))
        if any(r["v"] == 2 for r in rows) and len(rows) > 1:
            return 500, "batch poison"
        return 200, "ok"

    res = post_rows(df, "http://x", flaky, batch_size=4)
    assert res.report.ok  # poison row succeeded alone on retry
    assert 1 in seen_sizes  # shrink-to-1 happened


def test_sharepoint_change_gate(spark, tmp_path):
    control = str(tmp_path / "control")
    os.makedirs(control)
    t1 = dt.datetime(2023, 4, 12, 10, 0)
    calls = []

    def fetcher():
        calls.append(1)
        return sharepoint.RemoteFile(content=b"id,name\n1,a\n", last_modified=t1)

    first = sharepoint.fetch_if_modified(spark, fetcher, control, "mapping")
    assert first is not None
    second = sharepoint.fetch_if_modified(spark, fetcher, control, "mapping")
    assert second is None  # unchanged -> pipeline skip (T4)
    df = sharepoint.excel_bytes_to_df(spark, first.content)
    assert df.count() == 1


def test_notify_capturing_mailer():
    mailer = notify.CapturingMailer()
    notify.expiration_alert(mailer, "a@x", ["b@x"], ["Org/R/F/CC"], "hourly census load")
    notify.failure_alert(mailer, "a@x", ["b@x"], [("q1", "timeout")], "staffing post")
    assert len(mailer.sent) == 2
    assert "expiring" in mailer.sent[0].subject
    assert "1 failure" in mailer.sent[1].subject


def test_smtp_mailer_sends_html_message(monkeypatch):
    """The production transport builds one HTML MIME message per alert
    and hands it to an SMTP client on the configured host and port."""
    import smtplib

    calls = []

    class FakeSMTP:
        def __init__(self, host, port):
            calls.append(("connect", host, port))

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            calls.append(("close",))
            return False

        def send_message(self, m):
            calls.append(("send", m))

    monkeypatch.setattr(smtplib, "SMTP", FakeSMTP)
    mailer = notify.smtp_mailer("mail.example", port=2525)
    notify.failure_alert(mailer, "a@x", ["b@x", "c@x"], [("q1", "timeout")], "staffing post")
    assert [c[0] for c in calls] == ["connect", "send", "close"]
    assert calls[0][1:] == ("mail.example", 2525)
    m = calls[1][1]
    assert m["From"] == "a@x"
    assert m["To"] == "b@x, c@x"
    assert m["Subject"] == "[engine] staffing post: 1 failure(s)"
    (part,) = m.get_payload()
    assert part.get_content_subtype() == "html"
    assert "<b>q1</b>: timeout" in part.get_payload(decode=True).decode()


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """K2 on parquet: evolved appends need mergeSchema at READ time;
    the merged read sees the union schema with NULLs backfilled."""
    path = str(tmp_path / "evolving")
    writers.append_versioned(
        spark.createDataFrame([(1,)], "a INT"), path, run_id=1, now=NOW
    )
    writers.append_versioned(
        spark.createDataFrame([(2, "x")], "a INT, b STRING"), path,
        run_id=2, now=NOW, merge_schema=True,
    )
    merged = writers.read_table(spark, path, merge_schema=True)
    assert {"a", "b"} <= set(merged.columns)
    rows = {r["a"]: r["b"] for r in merged.collect()}
    assert rows == {1: None, 2: "x"}


def test_load_table_infers_each_schema_once(spark, tmp_path):
    """A second ``load_table`` of an unchanged path reads with the
    memoised schema and starts no Spark job (inference is one job per
    call otherwise)."""
    from conftest import count_jobs

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    spark.range(5).write.parquet(str(tmp_path / "t.parquet"))
    first = load_table(spark, str(tmp_path), "t")
    assert count_jobs(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    assert load_table(spark, str(tmp_path), "t").schema == first.schema


def test_load_table_sees_appended_and_rewritten_paths(spark, tmp_path):
    """Listing still runs on every call: a file appended to a directory
    dataset between two calls is read, and a path rewritten with other
    columns is read with its new schema."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").count() == 3
    spark.range(10, 14).write.mode("append").parquet(path)
    assert sorted(r["id"] for r in load_table(spark, str(tmp_path), "t").collect()) == [
        0, 1, 2, 10, 11, 12, 13,
    ]
    spark.createDataFrame([("a", 1.5)], "k STRING, v DOUBLE").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("k", "string"), ("v", "double")]
    assert [tuple(r) for r in df.collect()] == [("a", 1.5)]


def test_load_table_reinfers_under_other_inference_confs(spark, tmp_path):
    """The memo is keyed on the session's inference confs: a second
    session sharing the SparkContext with ``binaryAsString`` on reads a
    parquet BINARY column as ``string``, not through the first
    session's ``binary`` schema, and the first session still reads
    ``binary``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), str(tmp_path / "t.parquet"))
    assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    df = load_table(other, str(tmp_path), "t")
    assert df.dtypes == [("b", "string")]
    assert [r["b"] for r in df.collect()] == ["x"]
    assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]


def test_load_table_rejects_nanos_timestamps(spark, tmp_path):
    """A table stored as parquet TIMESTAMP(NANOS) fails with Spark's own
    PARQUET_TYPE_ILLEGAL error: no fixture stores nanos, and the
    registry reads timestamps as stored."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources import registry

    pq.write_table(
        pa.table({"ts": pa.array([1_681_313_400_000_001_999], pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    with pytest.raises(AnalysisException) as err:
        registry.load_table(spark, str(tmp_path), "events")
    assert err.value.getCondition() == "PARQUET_TYPE_ILLEGAL"
