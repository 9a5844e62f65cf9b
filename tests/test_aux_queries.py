"""Hard correctness signal for the AUX registry (queries.AUX_QUERIES):
oracle-verified forms folded out of the driver's 50-slot capture.

Each AUX entry runs on Spark and its DuckDB oracle twin on the same
parquet fixtures, compared with the driver's own digest discipline
(row count, column names, order-insensitive normalized value hash) —
the same gate tools/verify_local.py applies to the main registry.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _digest(cols: list[str], rows: list[tuple]) -> tuple[int, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_normalize(r[i]) for i in order) for r in rows
    )
    return len(rows), lines


@pytest.fixture(scope="module")
def duck():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from xxh64_oracle import register as register_xxh64

    con = duckdb.connect()
    # the fast-MinHash oracle calls spark_xxhash64 (tools/xxh64_oracle)
    register_xxh64(con)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(q.AUX_ORACLES))
def test_aux_query_matches_oracle(spark, duck, name):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    # free operator-persisted intermediates/checkpoints and cached
    # plans NOW: 80+ parameterized runs in one session would otherwise
    # accumulate storage, and leftover cache entries change how later
    # tests' plans print (the plan-audit suite-order flake)
    with Scope():
        sdf = q.AUX_QUERIES[name](spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    spark.catalog.clearCache()

    res = duck.execute(q.AUX_ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    sn, slines = _digest(scols, srows)
    dn, dlines = _digest(dcols, drows)
    assert sn == dn, f"{name}: row count {sn} != {dn}"
    assert sn > 0, f"{name}: vacuous (0 rows)"
    assert slines == dlines, f"{name}: value mismatch"


def test_fast_hash_lsh_plan_matches_portable(spark):
    """Structural sanity for the fast-hash LSH path (full value parity
    is covered by the parametrized oracle test via the spark_xxhash64
    DuckDB UDF since round 6): non-vacuous, symmetric-free
    (id_a < id_b), no self-pairs."""
    out = q.AUX_QUERIES["minhash_lsh_pairs_fast"](spark, SF_DIR)
    rows = out.collect()
    assert rows, "fast-hash LSH returned no candidate pairs"
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_aux_covers_everything_not_in_registry():
    """Every query function in the module is reachable through either
    the driver registry or AUX — nothing silently unverified."""
    import inspect

    public_queries = {
        n for n, _ in inspect.getmembers(q, inspect.isfunction)
        if n.startswith("q_")
    }
    registered = {fn.__name__ for fn in q.QUERIES.values()} | {
        fn.__name__ for fn in q.AUX_QUERIES.values()
    }
    missing = public_queries - registered
    assert not missing, f"query functions not in QUERIES or AUX_QUERIES: {missing}"


def test_events_fixture_ts_dtype_pinned(spark):
    """Pin the events fixture's physical ts type AND the decode
    contract.  The round-4 streaming_tumbling bug was a hard-coded
    INT64-nanos decode silently shifting every event to 1970 when the
    fixture moved to timestamp[us].  If this test fails, the fixture's
    dtype changed again: verify sources/registry.decode_event_ts still
    covers the new physical type before touching anything else."""
    import pyarrow.parquet as pq

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    phys = pq.read_schema(f"{SF_DIR}/events.parquet").field("ts").type
    assert str(phys) in ("timestamp[us]", "timestamp[ns]", "int64"), (
        f"events.ts physical type changed to {phys}; "
        "update decode_event_ts and this pin together"
    )
    # Whatever the physical type, the decoded column must be a real
    # timestamp in the fixture's era (2024+), never the 1970 epoch.
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    from pyspark.sql import functions as F

    years = ev.select(F.year("ts").alias("y")).agg(
        F.min("y").alias("lo"), F.max("y").alias("hi")
    ).collect()[0]
    assert years["lo"] >= 2000, f"decoded ts collapsed to epoch: {years}"


def test_xxh64_twin_matches_spark(spark):
    """The DuckDB-side spark_xxhash64 UDF (tools/xxh64_oracle) must be
    bit-exact with Spark's F.xxhash64 on strings — the fast-MinHash
    oracle is only as good as this twin.  Covers every length-class
    branch of the algorithm (empty, <4, 4-7, 8-31, >=32 bytes),
    multibyte UTF-8, and null."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
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


def test_registry_integrity():
    """r11 verdict task 4 — cheap insurance after the r11 module split,
    designed to catch the r10 shadowing class before an artifact ships:

    1. the driver registry and AUX never share a key (a shared key
       makes one artifact row silently verify the wrong query);
    2. every query has an oracle twin and vice versa, in BOTH
       registries (driver-facing pairing comes from __spark_entry__);
    3. no top-level ``q_*`` function or ``ORACLE_*`` constant is
       DEFINED twice across the 8 family modules — a second definition
       silently wins at import time (exactly how q_dedup_keep_best
       shadowed its twin in r10).
    """
    import ast
    import pathlib

    import __spark_entry__ as entry

    # 1. key-set disjointness
    shared = set(q.QUERIES) & set(q.AUX_QUERIES)
    assert not shared, f"keys in BOTH driver registry and AUX: {shared}"

    # 2. query<->oracle pairing, both registries
    assert set(q.AUX_ORACLES) == set(q.AUX_QUERIES), (
        f"AUX pairing broken: {set(q.AUX_ORACLES) ^ set(q.AUX_QUERIES)}"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs), (
        f"oracle without a query: {set(oracles) - set(qs)}"
    )
    # oracle-less driver entries must be a deliberate, pinned decision
    # (the driver records only a weaker rows-only check for them)
    assert set(qs) - set(oracles) == set(), (
        f"driver queries without an oracle: {set(qs) - set(oracles)}"
    )

    # 3. duplicate top-level definitions across family modules
    pkg = pathlib.Path(q.__file__).parent
    seen: dict[str, str] = {}
    dupes: list[str] = []
    for mod in sorted(pkg.glob("*.py")):
        if mod.name == "__init__.py":
            continue
        names: list[str] = []
        for node in ast.parse(mod.read_text()).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
                names.append(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name) and t.id.startswith("ORACLE_"):
                        names.append(t.id)
        for n in names:
            if n in seen:
                dupes.append(f"{n} in {seen[n]} AND {mod.name}")
            seen[n] = mod.name
        # within-module redefinition also lands here: names collects
        # every definition, so a double-def produces a self-dupe
        local_dupes = {n for n in names if names.count(n) > 1}
        dupes.extend(f"{n} twice in {mod.name}" for n in local_dupes)
    assert not dupes, f"shadowing definitions: {dupes}"
