"""Scalar column functions (SURVEY.md section 2.8 and 2.10).

Everything here is a native Column expression — no Python UDFs — so the
whole surface stays inside whole-stage codegen and remains visible to
Catalyst (pushdown, join-key planning).  This fixes the reference's one
optimizer-hostile pattern: ``get_cost_center_udf`` used inside a join
condition (code/ukg_open_census.py:183-193, :716), which blocked
codegen and pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def prefix_path(col: Column | str, levels: int, sep: str = "/") -> Column:
    """First ``levels`` segments of a separator-delimited path.

    Native replacement for the reference's Python UDFs
    ``get_cost_center`` (4 levels, code/ukg_open_census.py:183-186) and
    ``get_cost_center_5`` (5 levels, :190-193).  Being a plain
    expression it can sit in a join key and still hash-partition
    correctly (J3, code/ukg_open_census.py:716,721).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(sep, F.slice(F.split(c, sep), 1, levels))


def last_path_segment(col: Column | str, sep: str = "/") -> Column:
    """Filename from a full path (F1: ``element_at(split(path,'/'),-1)``,
    code/ukg_open_census.py:371)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, sep), -1)


def filename_embedded_ts(col: Column | str, pos: int = 9, length: int = 12) -> Column:
    """Timestamp digits embedded in a filename, as a long (F2:
    ``cast(substr(file_nm, 9, 12) as long)``, code/ukg_open_census.py:345,349).

    try_cast: a renamed/short filename yields NULL (and so never wins a
    max-batch selection) instead of crashing the job under ANSI mode.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, pos, length).try_cast("long")


def portable_hash64(col: Column | str, seed: int = 0) -> Column:
    """Deterministic 60-bit hash reproducible in any SQL engine.

    ``conv(substr(md5(concat(seed,':',x)), 1, 15), 16, 10)`` — 15 hex
    chars = 60 bits, always fits a signed BIGINT.  Used by the dedup /
    fingerprint operators (MinHash, SimHash) so the DuckDB oracle can
    compute the *identical* value with
    ``CAST('0x' || substr(md5(seed||':'||x),1,15) AS BIGINT)``.
    Engine-native ``xxhash64`` is faster but not reproducible outside
    Spark.  Four operators take ``portable=False`` for an xxhash64 path,
    each behind a registered ``*_fast`` query: ``dedup.minhash_signatures``
    and ``sampling.stable_sample``, ``stratified_sample`` and
    ``hash_split``; every other hash operator is md5-only.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def fast_hash64(col: Column | str, seed: int = 0) -> Column:
    """Engine-native 64-bit hash (``xxhash64``), ~3x cheaper than the
    md5-based :func:`portable_hash64` and with the same call shape: the
    ``portable=False`` side of ``sampling.stable_sample``,
    ``stratified_sample`` and ``hash_split``.  Verifiable cross-engine
    only against an oracle that implements Spark's xxhash64 chaining
    (``tools/xxh64_oracle.py``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c, F.lit(seed))


def overnight_corrected_end(start: Column, end: Column) -> Column:
    """Overnight-shift fix: if an interval's end precedes its start the
    zone wraps midnight, so push the end one day forward (P8/F6,
    code/ukg_open_census.py:146-149, code/ukg_open_census_old.py:107)."""
    return F.when(end < start, end + F.expr("INTERVAL 1 DAY")).otherwise(end)


def normalize_text(col: Column | str) -> Column:
    """Shingling/dedup normalization: lower, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-grams of an ALREADY-NORMALISED string
    column, as an array<string>.

    Built from native higher-order functions (no UDF): sequence over
    offsets -> transform(substring) -> array_distinct.  Strings shorter
    than ``k`` yield a single shingle (the whole string) so every
    document gets a signature.

    The caller normalises first: materialize
    ``withColumn("__norm", normalize_text(text))`` and shingle that
    column.  Expressions captured by a higher-order-function lambda are
    re-evaluated PER ELEMENT (no common-subexpression elimination inside
    lambda bodies), so normalising inside this call would run the regex
    once per shingle instead of once per row — measured 2.3x on the
    whole signature pipeline; an attribute reference costs nothing per
    element.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(k)))
    )


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokenization to array<string> (lower-cased),
    dropping empties — the basic unit for the text-analysis operators."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")
