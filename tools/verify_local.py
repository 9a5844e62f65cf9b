"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the given scale factor; compare them with ``parity_problems`` (column
names, row count, a non-empty result, type drift, an order-insensitive
value hash), the comparison the tests' oracle-parity helper also uses.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # cheap float canonicalization: 12 significant digits
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per fixture table, plus the
    Spark-compatible ``spark_xxhash64`` the fast-MinHash oracle calls
    (DuckDB has no native xxhash64; see tools/xxh64_oracle.py)."""
    import duckdb

    from xxh64_oracle import register as register_xxh64

    con = duckdb.connect()
    register_xxh64(con)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def parity_problems(scols, srows, dcols, drows) -> list[str]:
    """The driver's correctness gate for one query's Spark result
    against its oracle's: column names, row count, a non-empty result,
    cell types the driver's canonicaliser renders alike, and the
    order-insensitive digest.  Returns what differs; empty means parity."""
    problems = []
    ok_cols = sorted(scols) == sorted(dcols)
    if not ok_cols:
        problems.append(f"columns: spark {sorted(scols)} vs duck {sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rows: spark {len(srows)} vs duck {len(drows)}")
    if not srows:
        problems.append("0 rows: vacuous check")
    # The driver's pandas canonicalizer renders int64 and float
    # differently (150 vs 150.0) and crashes on list cells.  Flag any
    # column whose Python type class differs between engines, or any
    # unhashable cell, even when the 12-sig-digit hash happens to agree.
    if srows and drows and ok_cols:
        sidx = {c: i for i, c in enumerate(scols)}
        didx = {c: i for i, c in enumerate(dcols)}
        for c in scols:
            sv = next((r[sidx[c]] for r in srows if r[sidx[c]] is not None), None)
            dv = next((r[didx[c]] for r in drows if r[didx[c]] is not None), None)
            if sv is None or dv is None:
                continue
            if isinstance(sv, (list, dict)) or isinstance(dv, (list, dict)):
                problems.append(f"type drift: {c}: unhashable cell type")
            elif isinstance(sv, bool) != isinstance(dv, bool) or (
                isinstance(sv, int) != isinstance(dv, int)
                and {type(sv), type(dv)} <= {int, float}
            ):
                problems.append(
                    f"type drift: {c}: spark {type(sv).__name__} vs duck {type(dv).__name__}"
                )
    sh = table_digest(scols, srows)
    dh = table_digest(dcols, drows)
    if sh != dh:
        problems.append(f"hash: spark {sh} vs duck {dh}")
        if ok_cols and len(srows) == len(drows):
            sset = _canonical_rows(scols, srows)
            dset = _canonical_rows(dcols, drows)
            problems.append(f"only-spark: {list(sset - dset)[:3]}")
            problems.append(f"only-duck: {list(dset - sset)[:3]}")
    return problems


def _canonical_rows(cols, rows) -> set[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {tuple(normalize_cell(r[i]) for i in order) for r in rows}


def main() -> int:
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("verify-local")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = oracle_connection(sf_dir)

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(srows)} ({spark_s:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = parity_problems(scols, srows, dcols, drows)
        status = "FAIL" if problems else "OK"
        print(f"{status} {name}: rows {len(srows)}/{len(drows)} ({spark_s:.1f}s)")
        for p in problems:
            print(f"    {p}")
        if problems:
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL GREEN")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
