from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import batching
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources import cleanser

# ---- batching (R1/R2): pure python, exhaustive-ish ----


@given(st.lists(st.integers(), max_size=200), st.integers(min_value=1, max_value=50))
def test_generate_batches_partitions_exactly(items, size):
    batches = batching.generate_batches(items, size)
    assert [x for b in batches for x in b] == items
    assert all(1 <= len(b) <= size for b in batches)


@given(
    st.lists(st.integers(min_value=0, max_value=99), max_size=60),
    st.sets(st.integers(min_value=0, max_value=99)),
    st.integers(min_value=1, max_value=7),
)
def test_retry_report_is_a_partition_of_items(items, poison, size):
    """Every item ends up in exactly one of succeeded/failed, and only
    genuinely poisoned items fail (shrink-to-1 isolates them)."""

    def action(batch):
        if any(x in poison for x in batch):
            raise RuntimeError("poison")

    report = batching.run_batched_with_retry(items, action, size)
    failed = [x for x, _ in report.failed]
    assert sorted(report.succeeded + failed) == sorted(items)
    assert set(failed) == {x for x in items if x in poison}


# ---- cleanser (S9): output invariants for arbitrary field content ----

# fields may contain embedded commas (the cleanser's job) but not raw
# quote chars: the reference's quote-toggling cleanser has no escape
# convention (code/ukg_open_census_file_cleanser.py:69-93), so a quote
# inside a field is unrepresentable input, not a cleanser defect
field_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters='\r\n"'
    ),
    max_size=30,
)


@given(st.lists(st.tuples(field_text, field_text), min_size=1, max_size=20))
@settings(max_examples=200)
def test_cleanse_preserves_row_count_and_strips_quotes(rows):
    raw = "h1,h2\r\n" + "\r\n".join(f'"{a}","{b}"' for a, b in rows) + "\r\n"
    out = cleanser.cleanse_csv_text(raw)
    lines = [ln for ln in out.split("\r\n") if ln != ""]
    assert len(lines) == len(rows)  # header dropped, data rows kept
    assert all('"' not in ln for ln in lines)
    # embedded commas inside quoted fields are gone: every line has
    # exactly the delimiter comma
    assert all(ln.count(",") == 1 for ln in lines)


@given(st.binary(max_size=200))
def test_decode_bytes_never_raises(raw):
    # utf-8 with cp1252 fallback must decode ANY byte string (cp1252
    # maps all 256 byte values except a 5-byte hole python tolerates
    # via its cp1252 superset behavior -- if not, the fallback raising
    # is a real finding)
    try:
        cleanser.decode_bytes(raw)
    except UnicodeDecodeError:
        # document the residual hole: bytes undefined in cp1252
        assert any(b in (0x81, 0x8D, 0x8F, 0x90, 0x9D) for b in raw)


@given(st.text(max_size=100))
def test_strip_bare_newlines_idempotent(text):
    once = cleanser.strip_bare_newlines(text)
    assert cleanser.strip_bare_newlines(once) == once
    assert "\n" not in once.replace("\r\n", "")


# ---- spark-side invariants: few examples, vectorized within each ----


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=0, max_value=6))
def test_rolling_window_rowcount_property(spark, w):
    import datetime as dt

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.intervals import (
        rolling_window_expand,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2023, 1, 1 + i),) for i in range(5)], "d TIMESTAMP"
    )
    out = rolling_window_expand(df, w, ["d"])
    assert out.count() == 5 * (w + 1)


# ---- BPE merge step vs a pure-python reference (few examples) ----


def _bpe_reference_step(vocab: dict[str, int]) -> tuple[tuple[str, str], dict[str, str]]:
    """Textbook BPE iteration over {symbols_str: count}: returns the
    winning pair and each input's merged symbol string."""
    counts: dict[tuple[str, str], int] = {}
    for symbols, wc in vocab.items():
        s = symbols.split(" ")
        for a, b in zip(s, s[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + wc
    if not counts:
        return ("", ""), {k: k for k in vocab}
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    out = {}
    for symbols in vocab:
        s = symbols.split(" ")
        merged, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                merged.append(s[i] + s[i + 1])
                i += 2
            else:
                merged.append(s[i])
                i += 1
        out[symbols] = " ".join(merged)
    return best, out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
def test_bpe_merge_step_matches_reference(spark, words):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import (
        bpe_init_symbols,
        bpe_merge_step,
    )

    df = spark.createDataFrame(words, "word STRING, wc LONG").withColumn(
        "symbols", bpe_init_symbols("word")
    )
    got = {r["word"]: r for r in bpe_merge_step(df).collect()}
    if all(len(w) < 2 for w, _ in words):
        # terminal contract: no adjacent pair anywhere -> empty result
        # (the training loop's stop signal)
        assert got == {}
        return
    init = {w: " ".join(w) for w, _ in words}
    ref_pair, ref_merged = _bpe_reference_step(
        {init[w]: wc for w, wc in words}
    )
    for w, wc in words:
        assert got[w]["merged_pair"] == f"{ref_pair[0]} {ref_pair[1]}"
        assert got[w]["symbols"] == ref_merged[init[w]], (w, ref_pair)


# ---- hash_split: total, deterministic, weight-shaped ----


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=1, max_value=10))
def test_hash_split_is_total_and_respects_zero_free_weights(spark, scale):
    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import hash_split

    df = spark.range(0, 40 * scale).select(F.col("id").alias("k"))
    out = hash_split(df, "k", splits=(("a", 3), ("b", 1)), salt=7).collect()
    # every row gets exactly one label from the declared set
    assert len(out) == 40 * scale
    labels = {r["split"] for r in out}
    assert labels <= {"a", "b"} and "a" in labels


# ---- widening-batch invariants ----


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=12),
)
# a subnormal range: (hi - lo) / bins underflows to 0.0
@example(values=[0.0, 5e-324], bins=2)
def test_histogram_partitions_all_rows(spark, values, bins):
    """Histogram invariants on arbitrary float columns: counts sum to
    the row count, bin ids stay inside [0, bins), bounds bracket the
    data."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import histogram

    df = spark.createDataFrame([(v,) for v in values], ["v"])
    rows = histogram(df, "v", bins=bins).collect()
    assert sum(r["n"] for r in rows) == len(values)
    assert all(0 <= r["bin"] < bins for r in rows)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user
            st.integers(min_value=0, max_value=50),  # minute offset
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=60,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_transition_matrix_probabilities_sum_to_one(spark, events):
    """For every prev state with outgoing transitions, the conditional
    probabilities sum to 1 (within rounding)."""
    from datetime import datetime, timedelta

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
        transition_matrix,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, u, base + timedelta(minutes=m), t)
        for i, (u, m, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    out = transition_matrix(df).collect()
    by_prev: dict[str, float] = {}
    for r in out:
        by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0.0) + r["p"]
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-4, (prev, total)


@settings(max_examples=5, deadline=None)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=40),
)
def test_weighted_priority_sample_k_bounds(spark, k, n):
    """k >= n returns every positive-weight row; k < n returns exactly
    k; output is always a subset of the input."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import (
        weighted_priority_sample,
    )

    df = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in range(n)], ["doc_id", "w"]
    )
    got = {r["doc_id"] for r in weighted_priority_sample(df, k, "w", "doc_id").collect()}
    assert len(got) == min(k, n)
    assert got <= set(range(n))


# ---- round-13 journey-operator algebra (few examples, vectorized) ----

from pyspark.sql import functions as F  # noqa: E402


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),          # key
            st.one_of(st.none(), st.integers(0, 3)),        # old attr
        ),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.one_of(st.none(), st.integers(0, 3)),
        ),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
)
def test_cdc_diff_apply_identity_property(spark, old_rows, new_rows):
    """cdc_apply(old, snapshot_diff(old, new)) == new for ARBITRARY
    keyed snapshots — overlapping/disjoint key sets and NULL attribute
    values included (the struct-packing presence-vs-NULL case the
    operator's comment calls out).  The r12 exhibit proves this on one
    fixture; this pins the algebra over randomized shapes."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import scd

    old = spark.createDataFrame(old_rows, "key INT, v INT") if old_rows else (
        spark.createDataFrame([], "key INT, v INT")
    )
    new = spark.createDataFrame(new_rows, "key INT, v INT") if new_rows else (
        spark.createDataFrame([], "key INT, v INT")
    )
    feed = scd.snapshot_diff(old, new, "key", ["v"])
    log = feed.select(
        "key",
        F.when(F.col("change_type") == "delete", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "v",
        F.lit(1).alias("seq"),
    )
    rebuilt = scd.cdc_apply(old, log, "key", ["v"])
    got = {(r["key"], r["v"]) for r in rebuilt.collect()}
    want = set(new_rows)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=40),  # token counts
        min_size=1, max_size=12,
    ),
    st.integers(min_value=5, max_value=60),      # pack budget
)
def test_pack_sequences_offset_algebra(spark, token_counts, budget):
    """pack_sequences invariants on arbitrary corpora: every doc packs
    exactly once, and each doc's pack_id equals
    floor(prefix_offset / budget) under doc_id order within its shard
    (the concat-and-chunk definition, restated independently)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import sampling

    rows = [
        (i, i % 3, t) for i, t in enumerate(token_counts)
    ]
    df = spark.createDataFrame(rows, "doc_id INT, shard INT, tokens INT")
    out = sampling.pack_sequences(
        df, token_col="tokens", budget=budget, shard_col="shard"
    ).collect()
    assert sorted(r["doc_id"] for r in out) == [r[0] for r in rows]
    # independent prefix-sum recomputation
    by_shard: dict[int, list] = {}
    for i, shard, t in rows:
        by_shard.setdefault(shard, []).append((i, t))
    expect = {}
    for shard, docs in by_shard.items():
        off = 0
        for i, t in sorted(docs):
            expect[i] = off // budget
            off += t
    for r in out:
        assert r["pack_id"] == expect[r["doc_id"]], (
            f"doc {r['doc_id']}: pack {r['pack_id']} != {expect[r['doc_id']]}"
        )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=20),
        min_size=1, max_size=8,
    )
)
def test_incremental_dedup_statuses_partition_the_increment(spark, texts):
    """incremental_dedup invariants on arbitrary text: the output is
    exactly one row per NEW doc; status is a partition into
    exact_dup / near_dup / novel; match_id is NULL iff novel; and an
    exact_dup's normalized text equals its match's normalized text."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import dedup

    # new = odd ids, ref = even ids; texts assigned round-robin so
    # cross-frame exact matches occur whenever hypothesis repeats text
    rows = [(i, texts[i % len(texts)]) for i in range(2 * len(texts))]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    new_df = df.filter(F.col("doc_id") % 2 == 1)
    ref_df = df.filter(F.col("doc_id") % 2 == 0)
    out = dedup.incremental_dedup(new_df, ref_df, k=3, num_hashes=8, bands=4)
    got = out.collect()
    assert sorted(r["doc_id"] for r in got) == sorted(
        r[0] for r in rows if r[0] % 2 == 1
    )
    norm = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", dedup.normalize_text("text").alias("t")
        ).collect()
    }
    for r in got:
        assert r["status"] in ("exact_dup", "near_dup", "novel")
        assert (r["match_id"] is None) == (r["status"] == "novel")
        if r["status"] == "exact_dup":
            assert norm[r["doc_id"]] == norm[r["match_id"]]


# ---- hierarchical zone match: exploded single join vs the union reference ----

# a two-letter segment alphabet makes prefixes collide; the empty path
# and NULL ride along (prefix_path(NULL) is "", so a NULL path meets a
# "" zone through its prefix keys in both forms)
zone_paths = st.one_of(
    st.none(), st.lists(st.sampled_from("ab"), max_size=6).map("/".join)
)


@st.composite
def facts_and_zones(draw):
    facts = draw(st.lists(zone_paths, max_size=8))
    known = [p for p in facts if p is not None]
    prefixes = (
        st.tuples(st.sampled_from(known), st.integers(0, 6)).map(
            lambda pk: "/".join(pk[0].split("/")[: pk[1]])
        )
        if known
        else zone_paths
    )
    zones = draw(
        st.lists(st.tuples(st.one_of(zone_paths, prefixes), st.integers(0, 2)), max_size=8)
    )
    return facts, zones


@settings(max_examples=8, deadline=None)
@given(facts_and_zones())
# fewer than 4 segments: exact, 4- and 5-prefix keys coincide
@example(case=(["a/b", "b"], [("a/b", 0), ("b", 1)]))
# the exact path equals its own 4-segment prefix
@example(case=(["a/b/a/b"], [("a/b/a/b", 0)]))
# one fact matching at the exact, 5- and 4-segment levels at once
@example(case=(["a/b/a/b/a/b"], [("a/b/a/b/a/b", 0), ("a/b/a/b/a", 1), ("a/b/a/b", 2)]))
# NULL paths on both sides; repeated fact rows
@example(case=([None, "a", None, "a"], [("", 0), ("a", 1), (None, 2)]))
def test_fallback_join_exploded_matches_union_reference(spark, case):
    """The census plan labels counts with ``fallback_join_exploded``;
    it must return the same rows, in the same columns, as the
    union-of-joins reference ``hierarchical_fallback_join``."""
    from collections import Counter

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import hierarchy

    facts_rows, zone_rows = case
    facts = spark.createDataFrame(
        [(i % 3, p) for i, p in enumerate(facts_rows)], "k INT, loc STRING"
    )
    zones = spark.createDataFrame(zone_rows, "zone STRING, z INT")
    ref = hierarchy.hierarchical_fallback_join(facts, zones, "loc", "zone")
    got = hierarchy.fallback_join_exploded(facts, zones, "loc", "zone")
    assert got.columns == ref.columns
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, ref.collect()))
