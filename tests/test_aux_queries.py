"""Hard correctness signal for the AUX registry (queries.AUX_QUERIES):
oracle-verified forms folded out of the driver's 50-slot capture.

Each AUX entry runs on Spark and its DuckDB oracle twin on the same
parquet fixtures, compared with the driver's own digest discipline
(row count, column names, order-insensitive normalized value hash) —
the same gate tools/verify_local.py applies to the main registry.
"""

from __future__ import annotations

import pytest
from conftest import assert_oracle_parity

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(q.AUX_ORACLES))
def test_aux_query_matches_oracle(spark, oracle_db, name):
    assert_oracle_parity(spark, oracle_db(SF_DIR), q.AUX_QUERIES[name],
                         q.AUX_ORACLES[name], SF_DIR)


def test_fast_hash_lsh_plan_matches_portable(spark):
    """Structural sanity for the fast-hash LSH path (full value parity
    is covered by the parametrized oracle test via the spark_xxhash64
    DuckDB UDF since round 6): non-vacuous, symmetric-free
    (id_a < id_b), no self-pairs."""
    out = q.AUX_QUERIES["minhash_lsh_pairs_fast"](spark, SF_DIR)
    rows = out.collect()
    assert rows, "fast-hash LSH returned no candidate pairs"
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_events_fixture_ts_dtype_pinned(spark):
    """Pin the events fixture's physical ts type: timestamp[us], the
    only one the registry reads (a TIMESTAMP(NANOS) table fails with
    Spark's PARQUET_TYPE_ILLEGAL).  The round-4 streaming_tumbling bug
    was a hard-coded INT64-nanos decode silently shifting every event
    to 1970 when the fixture moved to timestamp[us]; the loaded column
    must stay a real timestamp in the fixture's era."""
    import pyarrow.parquet as pq

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    phys = pq.read_schema(f"{SF_DIR}/events.parquet").field("ts").type
    assert str(phys) == "timestamp[us]", (
        f"events.ts physical type changed to {phys}"
    )
    # a real timestamp in the fixture's era (2024+), never the 1970 epoch
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    from pyspark.sql import functions as F

    years = ev.select(F.year("ts").alias("y")).agg(
        F.min("y").alias("lo"), F.max("y").alias("hi")
    ).collect()[0]
    assert years["lo"] >= 2000, f"loaded ts collapsed to epoch: {years}"


def test_xxh64_twin_matches_spark(spark):
    """The DuckDB-side spark_xxhash64 UDF (tools/xxh64_oracle) must be
    bit-exact with Spark's F.xxhash64 on strings — the fast-MinHash
    oracle is only as good as this twin.  Covers every length-class
    branch of the algorithm (empty, <4, 4-7, 8-31, >=32 bytes),
    multibyte UTF-8, and null."""
    from xxh64_oracle import spark_xxhash64

    from pyspark.sql import functions as F

    cases = ["", "a", "abc", "abcd", "abcdefg", "y" * 8, "z" * 31,
             "w" * 32, "w" * 33, "long " * 50, "üñïçødé ẞtring", "中文字符"]
    df = spark.createDataFrame([(t,) for t in cases], ["s"]).select(
        "s", F.xxhash64("s").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for t in cases:
        assert got[t] == spark_xxhash64(t), f"mismatch on {t!r}"
    assert spark_xxhash64(None) is None

