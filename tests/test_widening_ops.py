"""Planted-fixture tests for the round-6 widening operators:
triangle counting, count-min sketch, novelty scoring, inverted index,
covariance reduction.  Corpus-level oracle parity is covered by the
parameterized AUX test; these pin the SEMANTICS on inputs small enough
to verify by hand (and against numpy where arithmetic is involved).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import sketch, text
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import triangle_counts
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import (
    embedding_covariance,
)


def test_triangle_counts_planted(spark):
    """K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5 and a
    triangle-free star at 10 — counts exact, star absent."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    star = [(10, x) for x in (11, 12, 13, 14)]
    edges = spark.createDataFrame(
        k4 + [(4, 5)] + star, ["src", "dst"]
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_direction_and_dup_insensitive(spark):
    """Duplicate edges, reversed orientation, and self-loops must not
    change the count — the canonicalization contract."""
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)]
    edges = spark.createDataFrame(messy, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_cms_estimate_one_sided_and_exact_when_unaliased(spark):
    """CMS point estimates are >= truth always, and exact when the
    sketch is wide enough that no collision occurred (10 terms into
    width 1024 collides with probability ~ depth * 45/1024 per pair —
    assert the dominant case holds for every term instead of relying
    on luck: overcount is nonnegative and bounded by total mass)."""
    rows = [(f"t{i}", i * 10 + 1) for i in range(10)]
    tf = spark.createDataFrame(rows, ["term", "cnt"])
    cells = sketch.cms_cells(tf, "term", "cnt", depth=4, width=1024)
    est = {
        r["term"]: r["cms_est"]
        for r in sketch.cms_estimate(
            cells, tf, "term", depth=4, width=1024
        ).collect()
    }
    total = sum(c for _, c in rows)
    for term, cnt in rows:
        assert cnt <= est[term] <= total


def test_cms_cells_bounded_and_mass_preserving(spark):
    """Each sketch row partitions the full mass: sum(cell) per row ==
    total count, and there are at most depth x width cells."""
    rows = [(f"w{i}", 7) for i in range(50)]
    tf = spark.createDataFrame(rows, ["term", "cnt"])
    cells = sketch.cms_cells(tf, "term", "cnt", depth=3, width=16).collect()
    assert len(cells) <= 3 * 16
    per_row = {}
    for c in cells:
        per_row[c["row"]] = per_row.get(c["row"], 0) + c["cell"]
    assert per_row == {0: 350, 1: 350, 2: 350}


def test_novelty_score_planted(spark):
    """Two identical documents share every 3-gram (novelty 0); a
    distinct document is all-novel (novelty 1); a too-short doc is
    excluded."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "one two three four five"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in text.novelty_score(docs, n=3).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0
    assert got[3]["novelty"] == 1.0
    assert got[1]["n_distinct_grams"] == 2  # 4 tokens -> 2 trigrams
    assert got[3]["n_distinct_grams"] == 3


def test_inverted_index_planted(spark):
    """Postings are ascending doc ids; df counts distinct docs, cf
    total occurrences; the df band filter drops hapax and head terms
    (n=1 keeps the planted vocabulary readable)."""
    docs = spark.createDataFrame(
        [
            (3, "cat cat dog"),
            (1, "cat mouse"),
            (2, "cat dog"),
            (4, "unique"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["term"]: r
        for r in text.inverted_index(
            docs, n=1, min_df=2, max_df=2
        ).collect()
    }
    # cat has df 3 (> max_df) -> dropped; mouse/unique df 1 -> dropped
    assert set(rows) == {"dog"}
    assert rows["dog"]["df"] == 2
    assert rows["dog"]["cf"] == 2
    assert rows["dog"]["postings"] == "2,3"


def test_inverted_index_bigrams_and_derived_cap(spark):
    """n=2 emits phrase terms; max_df=None derives ceil(|docs|/10) —
    with 20 docs the cap is 2, so a 3-doc phrase is excluded."""
    common = [(i, "the big cat sat") for i in range(3)]
    pair = [(10, "rare phrase here"), (11, "rare phrase there")]
    fill = [(100 + i, f"filler{i}") for i in range(15)]
    docs = spark.createDataFrame(common + pair + fill, ["doc_id", "text"])
    rows = {
        r["term"]: r
        for r in text.inverted_index(docs, n=2, min_df=2).collect()
    }
    # 20 docs -> cap = 2: 'rare phrase' (df 2) survives, the df-3
    # phrases from the common docs are head terms and are dropped
    assert rows["rare phrase"]["postings"] == "10,11"
    assert all(r["df"] <= 2 for r in rows.values())
    assert "big cat" not in rows


def test_embedding_covariance_matches_numpy(spark):
    """The distributed reduction equals numpy's population covariance
    on a small random matrix, for every upper-triangle pair."""
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(40, 5)).astype(np.float32)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in mat], ["embedding"]
    )
    got = {
        (r["i"], r["j"]): (r["n_vecs"], r["cov_pop"])
        for r in embedding_covariance(df).collect()
    }
    cov = np.cov(mat.astype(np.float64), rowvar=False, bias=True)
    assert len(got) == 5 * 6 // 2
    for i in range(5):
        for j in range(i, 5):
            n, c = got[(i, j)]
            assert n == 40
            assert c == pytest.approx(cov[i, j], abs=2e-6)


def test_weighted_priority_sample_deterministic_and_biased(spark):
    """Same input -> identical survivors across runs and partition
    layouts; heavier rows are sampled more often (weight bias
    sanity over independent salts); zero-weight rows never appear."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import (
        weighted_priority_sample,
    )

    rows = [(i, 1000 if i < 5 else 1) for i in range(100)] + [(200, 0)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    first = {
        r["doc_id"]
        for r in weighted_priority_sample(df, 10, "w", "doc_id").collect()
    }
    again = {
        r["doc_id"]
        for r in weighted_priority_sample(
            df.repartition(7), 10, "w", "doc_id"
        ).collect()
    }
    assert first == again and len(first) == 10
    assert 200 not in first
    heavy_hits = 0
    for salt in range(12):
        got = {
            r["doc_id"]
            for r in weighted_priority_sample(
                df, 10, "w", "doc_id", salt=salt
            ).collect()
        }
        heavy_hits += sum(1 for d in got if d < 5)
    # 5 heavy rows at weight 1000 vs 95 at weight 1: heavy rows are
    # ~certain picks each round; demand a clear majority of the 60
    # possible heavy slots rather than a flaky exact count
    assert heavy_hits >= 45


def test_chi_square_matches_reference(spark):
    """Planted 2x2 table against the hand-computed statistic."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import chi_square_assoc

    # contingency: a1b1=30, a1b2=10, a2b1=10, a2b2=50
    data = (
        [("a1", "b1")] * 30 + [("a1", "b2")] * 10
        + [("a2", "b1")] * 10 + [("a2", "b2")] * 50
    )
    df = spark.createDataFrame(data, ["x", "y"])
    row = chi_square_assoc(df, "x", "y").collect()[0]
    n = 100
    expected = {
        ("a1", "b1"): 40 * 40 / n,
        ("a1", "b2"): 40 * 60 / n,
        ("a2", "b1"): 60 * 40 / n,
        ("a2", "b2"): 60 * 60 / n,
    }
    obs = {("a1", "b1"): 30, ("a1", "b2"): 10, ("a2", "b1"): 10, ("a2", "b2"): 50}
    chi2 = sum((obs[k] - e) ** 2 / e for k, e in expected.items())
    assert row["n"] == 100 and row["dof"] == 1
    assert row["chi2"] == pytest.approx(chi2, abs=1e-6)
    assert row["cramers_v"] == pytest.approx((chi2 / 100) ** 0.5, abs=1e-6)


def test_ohlc_bucket_planted(spark):
    """Open/close pick by (ts, id) order inside the bucket; sub-second
    events stay in their floored bucket."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import ohlc_bucket

    rows = [
        (1, "m", datetime(2024, 1, 1, 10, 0, 5), 10.0),
        (2, "m", datetime(2024, 1, 1, 10, 30, 0), 99.0),
        (3, "m", datetime(2024, 1, 1, 10, 59, 59, 900000), 7.0),
        (4, "m", datetime(2024, 1, 1, 11, 0, 0), 55.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "etype", "ts", "value"])
    got = {
        r["bucket_epoch"]: r
        for r in ohlc_bucket(df, "etype", "ts", "value", "event_id").collect()
    }
    h10 = got[int(datetime(2024, 1, 1, 10).timestamp())]
    assert (h10["open"], h10["close"]) == (10.0, 7.0)
    assert (h10["high"], h10["low"], h10["n_events"]) == (99.0, 7.0, 3)
    h11 = got[int(datetime(2024, 1, 1, 11).timestamp())]
    assert h11["n_events"] == 1 and h11["open"] == 55.0


def test_pagerank_matches_numpy_power_iteration(spark):
    """3-iteration PR on a planted graph equals the dense-matrix
    computation; ranks stay a probability-ish vector (sum ~ 1 on a
    symmetric graph with no dangling mass)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        pagerank,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]  # triangle + pendant
    df = spark.createDataFrame(edges, ["src", "dst"])
    with Scope():
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, iterations=3, damping=0.85).collect()
        }

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = np.zeros((4, 4))
    for u, v in edges:
        adj[idx[u], idx[v]] = adj[idx[v], idx[u]] = 1
    deg = adj.sum(axis=1)
    r = np.full(4, 0.25)
    for _ in range(3):
        r = (1 - 0.85) / 4 + 0.85 * (adj.T @ (r / deg))
    for n in nodes:
        assert got[n] == pytest.approx(r[idx[n]], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


def test_bpe_encode_consistent_with_training(spark):
    """Encoding a training word with the learned merge list must
    reproduce the training-state symbol count (the train/encode
    round-trip contract), and fertility rolls up per document."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import (
        bpe_encode,
        bpe_init_symbols,
        bpe_merge_step,
    )

    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        ["word", "wc"],
    ).withColumn("symbols", bpe_init_symbols("word"))
    merges: list[tuple[str, str]] = []
    state = vocab
    for _ in range(6):
        state = bpe_merge_step(state)
        rows = state.collect()
        if not rows:
            break
        a, b = rows[0]["merged_pair"].split(" ")
        merges.append((a, b))
        state = spark.createDataFrame(
            [(r["word"], r["wc"], r["symbols"]) for r in rows],
            ["word", "wc", "symbols"],
        )
    trained = {r["word"]: len(r["symbols"].split(" ")) for r in state.collect()}

    docs = spark.createDataFrame(
        [(1, "low lower newest"), (2, "newest newest widest unknownword")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    assert got[1]["n_words"] == 3
    assert got[1]["n_subwords"] == (
        trained["low"] + trained["lower"] + trained["newest"]
    )
    assert got[2]["n_words"] == 4
    # unknown word falls back to whatever merges apply; never fewer
    # than 1 subword, never more than its character count
    extra = got[2]["n_subwords"] - 2 * trained["newest"] - trained["widest"]
    assert 1 <= extra <= len("unknownword")


def test_bpe_encode_no_merges_is_char_count(spark):
    """With an empty merge list every word encodes to its characters."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import bpe_encode

    docs = spark.createDataFrame([(1, "ab cde")], ["doc_id", "text"])
    r = bpe_encode(docs, []).collect()[0]
    assert (r["n_words"], r["n_subwords"]) == (2, 5)


def test_bm25_hand_computed(spark):
    """Two-doc corpus against the textbook formula."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import bm25_score

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in bm25_score(docs, ["apple", "cherry"], k1=1.2, b=0.75).collect()
    }
    n, avgdl = 2, 2.5
    def idf(df_): return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
    def tnorm(tf, dl): return tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert got[1]["n_matched_terms"] == 1
    assert got[1]["bm25"] == pytest.approx(idf(1) * tnorm(2, 3), abs=1e-6)
    assert got[2]["bm25"] == pytest.approx(idf(1) * tnorm(1, 2), abs=1e-6)


def test_tfidf_doc_similarity_identical_docs(spark):
    """Identical documents score cosine 1.0; an unrelated document
    never pairs above threshold.  Corpus is padded with distinct
    filler docs so the shared bigrams stay under the df cap."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import (
        tfidf_doc_similarity,
    )

    twin = "alpha beta gamma delta epsilon"
    fill = [(100 + i, f"filler{i} void{i} null{i}") for i in range(30)]
    docs = spark.createDataFrame(
        [(1, twin), (2, twin), (3, "zeta eta theta iota kappa")] + fill,
        ["doc_id", "text"],
    )
    rows = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in tfidf_doc_similarity(docs, threshold=0.5).collect()}
    assert rows == {(1, 2): 1.0}


def test_token_entropy_known_values(spark):
    """Uniform tokens -> ln(k); constant tokens -> 0."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import token_entropy

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x"), (3, "a a b b")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["entropy"] for r in token_entropy(docs).collect()}
    assert got[1] == pytest.approx(math.log(4), abs=1e-6)
    assert got[2] == pytest.approx(0.0, abs=1e-9)
    assert got[3] == pytest.approx(math.log(2), abs=1e-6)


def test_source_kl_identical_distribution_is_zero(spark):
    """A source distributed exactly like the corpus has KL ~ 0; a
    skewed source scores strictly higher."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import (
        source_kl_divergence,
    )

    # dominant balanced source -> corpus marginal ~ its own
    # distribution; the tiny all-a source is the far one
    base = [(f"s{i}", "base", "a b") for i in range(50)]
    skew = [("k0", "skewed", "a a a a")]
    docs = spark.createDataFrame(base + skew, ["doc_id", "source", "text"])
    got = {r["source"]: r["kl_nats"] for r in source_kl_divergence(docs).collect()}
    assert got["skewed"] > got["base"] >= 0.0
    assert got["base"] < 0.01


def test_pmi_collocation_detects_fixed_phrase(spark):
    """A pair that always co-occurs scores high positive PMI; an
    independent pair scores near zero."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import pmi_collocations

    # 'new york' always adjacent; filler words vary
    docs = spark.createDataFrame(
        [(i, f"new york w{i % 3} w{(i + 1) % 3}") for i in range(12)],
        ["doc_id", "text"],
    )
    got = {(r["w1"], r["w2"]): r["pmi"] for r in pmi_collocations(docs, min_count=5).collect()}
    assert ("new", "york") in got
    # P(new york)=12/36 bigrams, P(new)=P(york)=12/48 unigrams
    expected = math.log((12 / 36) / ((12 / 48) * (12 / 48)))
    assert got[("new", "york")] == pytest.approx(expected, abs=1e-6)


def test_histogram_planted(spark):
    """10 values over [0, 10): bins cover the range, max lands in the
    last bin, counts sum to n."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import histogram

    df = spark.createDataFrame([(float(i),) for i in range(11)], ["v"])
    rows = {r["bin"]: r for r in histogram(df, "v", bins=5).collect()}
    assert sum(r["n"] for r in rows.values()) == 11
    # width 2: bins {0:[0,2) ...}; v=10 (the max) joins bin 4
    assert rows[0]["n"] == 2 and rows[4]["n"] == 3
    assert rows[0]["lo"] == 0.0 and rows[4]["hi"] == 10.0


def test_histogram_constant_column(spark):
    """Degenerate all-equal column: one bin, all rows."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import histogram

    df = spark.createDataFrame([(5.0,)] * 7, ["v"])
    rows = histogram(df, "v", bins=4).collect()
    assert len(rows) == 1 and rows[0]["n"] == 7 and rows[0]["bin"] == 0


def test_corr_matrix_known_signs(spark):
    """Perfectly correlated / anti-correlated planted columns."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import corr_matrix

    rows = [(float(i), 2.0 * i + 1, -3.0 * i) for i in range(20)]
    df = spark.createDataFrame(rows, ["x", "y", "z"])
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert got[("x", "y")] == pytest.approx(1.0, abs=1e-9)
    assert got[("x", "z")] == pytest.approx(-1.0, abs=1e-9)
    assert got[("y", "z")] == pytest.approx(-1.0, abs=1e-9)


def test_transition_matrix_planted(spark):
    """Hand-built two-user timeline: counts and conditional
    probabilities per previous state."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
        transition_matrix,
    )

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, "u1", t(0), "a"), (2, "u1", t(1), "b"), (3, "u1", t(2), "a"),
        (4, "u2", t(0), "a"), (5, "u2", t(1), "b"), (6, "u2", t(2), "b"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {(r["prev_type"], r["next_type"]): (r["n_transitions"], r["p"])
           for r in transition_matrix(df).collect()}
    # a->b twice (all of a's transitions); b->a and b->b once each
    assert got[("a", "b")] == (2, 1.0)
    assert got[("b", "a")] == (1, 0.5)
    assert got[("b", "b")] == (1, 0.5)


def test_cms_cells_are_mergeable(spark):
    """The sketch's 100 TB contract: cells built on two disjoint
    corpus halves, summed per (row, bucket), equal the cells built on
    the union — executors can sketch locally and merge."""
    rows_a = [(f"t{i}", i + 1) for i in range(30)]
    rows_b = [(f"t{i}", 2 * i + 1) for i in range(15, 45)]
    fa = spark.createDataFrame(rows_a, ["term", "cnt"])
    fb = spark.createDataFrame(rows_b, ["term", "cnt"])
    whole = spark.createDataFrame(rows_a + rows_b, ["term", "cnt"])
    # NOTE: cms_cells expects collapsed (term, cnt); the union keeps
    # duplicate terms as separate rows, which the sketch build sums —
    # exactly the merge property under test
    half_sum = (
        sketch.cms_cells(fa, "term", "cnt", depth=3, width=64)
        .unionAll(sketch.cms_cells(fb, "term", "cnt", depth=3, width=64))
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    merged = {(r["row"], r["bucket"]): r["cell"] for r in half_sum.collect()}
    direct = {
        (r["row"], r["bucket"]): r["cell"]
        for r in sketch.cms_cells(whole, "term", "cnt", depth=3, width=64).collect()
    }
    assert merged == direct


def test_winsorize_clamps_to_exact_quantiles(spark):
    """Planted uniform 1..100: p05/p95 are exact interpolated
    quantiles; outliers clamp, interior survives untouched."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import winsorize

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 101)], ["g", "v"]
    )
    out = winsorize(df, ["g"], "v", 0.05, 0.95).collect()
    lo = np.percentile(np.arange(1.0, 101.0), 5)
    hi = np.percentile(np.arange(1.0, 101.0), 95)
    for r in out:
        assert r["lo_bound"] == pytest.approx(lo, abs=1e-9)
        assert r["hi_bound"] == pytest.approx(hi, abs=1e-9)
        assert r["v_w"] == pytest.approx(min(max(r["v"], lo), hi), abs=1e-9)


def test_benford_digits_and_mass(spark):
    """Digits cover 1..9 only, observed mass sums to 1, expected mass
    follows log10(1 + 1/d); zero/negative rows are excluded."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
        benford_first_digit,
    )

    vals = [1.0, 19.5, 23.0, 0.031, 950.0, -7.0, 0.0, 4.2e6]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    rows = benford_first_digit(df, "v").collect()
    got = {r["digit"]: r for r in rows}
    assert set(got) <= set(range(1, 10))
    assert sum(r["n"] for r in rows) == 6  # -7 and 0 excluded
    assert got[1]["n"] == 2  # 1.0 and 19.5
    assert got[9]["n"] == 1  # 950
    assert sum(r["observed_p"] for r in rows) == pytest.approx(1.0, abs=1e-5)
    import math
    for d, r in got.items():
        assert r["expected_p"] == pytest.approx(math.log10(1 + 1 / d), abs=1e-6)


def test_gini_known_distributions(spark):
    """Even distribution -> 0; fully concentrated -> (n-1)/n."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
        gini_concentration,
    )

    even = spark.createDataFrame([(f"t{i}", 10) for i in range(8)], ["t", "cnt"])
    assert gini_concentration(even, "cnt").collect()[0]["gini"] == pytest.approx(
        0.0, abs=1e-9
    )
    conc = spark.createDataFrame(
        [("big", 1000)] + [(f"t{i}", 0) for i in range(9)], ["t", "cnt"]
    )
    # all mass on one of 10 items: G = (n-1)/n = 0.9
    assert gini_concentration(conc, "cnt").collect()[0]["gini"] == pytest.approx(
        0.9, abs=1e-9
    )


def test_streaming_cms_maintenance_equals_batch(spark, tmp_path):
    """Production sketch maintenance: each micro-batch sketches its own
    slice (foreachBatch) and appends cells; the per-(row,bucket) sum of
    the appended cells must equal the sketch built over the whole
    table in one batch pass — the mergeability contract, exercised
    through real Structured Streaming."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import core as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")

    def sketch_batch(batch_df, _bid):
        tf = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        sketch.cms_cells(tf, "event_type", "cnt", depth=3, width=32).write.mode(
            "append"
        ).parquet(out)

    events, _ = q._stream_events(spark, sf_dir)
    stream = (
        events.select("event_type")
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(sketch_batch)
        .start()
    )
    stream.awaitTermination()

    merged = {
        (r["row"], r["bucket"]): r["cell"]
        for r in spark.read.parquet(out)
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
        .collect()
    }
    whole_tf = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    direct = {
        (r["row"], r["bucket"]): r["cell"]
        for r in sketch.cms_cells(
            whole_tf, "event_type", "cnt", depth=3, width=32
        ).collect()
    }
    assert merged == direct and len(direct) > 0


def test_key_skew_profile_detects_hot_key(spark):
    """Planted hot key dominates top1_share; uniform keys profile
    flat (skew_ratio 1)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.skew import key_skew_profile

    hot = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    r = key_skew_profile(spark.createDataFrame(hot, ["k"]), "k").collect()[0]
    assert r["top_key"] == "hot" and r["top_count"] == 90
    assert r["top1_share"] == pytest.approx(0.9, abs=1e-9)
    assert r["n_keys"] == 11 and r["n_rows"] == 100

    flat = [(f"k{i % 20}",) for i in range(100)]
    r2 = key_skew_profile(spark.createDataFrame(flat, ["k"]), "k").collect()[0]
    assert r2["skew_ratio"] == pytest.approx(1.0, abs=1e-9)


def test_rolling_active_users_planted(spark):
    """Three users across four days: DAU exact per day; WAU(3d) is the
    trailing distinct union; trailing windows clip at the last
    observed day."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import (
        rolling_active_users,
    )

    d = lambda day: datetime(2024, 1, day, 12)  # noqa: E731
    rows = [
        ("a", d(1)), ("b", d(1)),
        ("a", d(2)),
        ("c", d(4)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {str(r["day"]): (r["dau"], r["wau"])
           for r in rolling_active_users(df, window_days=3).collect()}
    assert got["2024-01-01"] == (2, 2)
    assert got["2024-01-02"] == (1, 2)   # a,b from d1; a from d2 -> {a,b}
    assert got["2024-01-03"] == (0, 2)   # window d1..d3 -> {a,b}
    assert got["2024-01-04"] == (1, 2)   # window d2..d4 -> {a,c}
    assert "2024-01-05" not in got       # clipped past last activity


def test_time_weighted_avg_planted(spark):
    """A value held for 50 minutes dominates a 10-minute spike —
    exactly the case plain avg gets wrong."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import (
        time_weighted_avg,
    )

    rows = [
        (1, "m", datetime(2024, 1, 1, 10, 0), 10.0),   # held 50 min
        (2, "m", datetime(2024, 1, 1, 10, 50), 100.0), # held 10 min
    ]
    df = spark.createDataFrame(rows, ["event_id", "etype", "ts", "value"])
    r = time_weighted_avg(df, "etype", "ts", "value", "event_id").collect()[0]
    # (10*3000 + 100*600) / 3600 = 25.0 ; plain avg would say 55
    assert r["twap"] == pytest.approx(25.0, abs=1e-9)
    assert r["n_obs"] == 2


def test_cusum_drift_detects_level_shift(spark):
    """A series whose mean shifts halfway scores a far larger
    normalized excursion than a flat series with the same noise."""
    from datetime import datetime, timedelta

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import cusum_drift

    base = datetime(2024, 1, 1)
    noise = [0.1, -0.1] * 20
    flat = [(i, "flat", base + timedelta(minutes=i), 5.0 + noise[i])
            for i in range(40)]
    shifted = [(100 + i, "shift", base + timedelta(minutes=i),
                (5.0 if i < 20 else 9.0) + noise[i]) for i in range(40)]
    df = spark.createDataFrame(
        flat + shifted, ["event_id", "key", "ts", "value"]
    )
    got = {r["key"]: r for r in
           cusum_drift(df, "key", "ts", "value", "event_id").collect()}
    assert got["shift"]["max_drift_sigmas"] > 5 * got["flat"]["max_drift_sigmas"]
    # the excursion of a mid-series shift peaks at the shift boundary
    assert got["shift"]["peak_ts"] == base + timedelta(minutes=19)


def test_duplicate_passages_planted(spark):
    """A 16-token passage shared verbatim by two documents is
    reported; unique text is not."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    passage = " ".join(f"tok{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, passage + " unique tail one"),
            (2, passage + " other ending here"),
            (3, "entirely different words " * 4),
        ],
        ["doc_id", "text"],
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix="pass_fixture_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = q.AUX_QUERIES["duplicate_passages"](spark, d).collect()
    assert len(out) == 1
    assert {r["n_docs"] for r in out} == {2}
    assert out[0]["first_doc"] == 1 and out[0]["last_doc"] == 2


def test_url_stats_planted(spark):
    """URL tokens are counted and the >10% link-density gate flags the
    spammy document."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    docs = spark.createDataFrame(
        [
            (1, "s", "read this https://a.example/x and http://b.example"),
            (2, "s", "clean text with no links at all " * 3),
            (3, "t", "https://spam.example " * 5),
        ],
        ["doc_id", "source", "text"],
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix="url_fixture_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r["source"]: r for r in q.AUX_QUERIES["url_stats"](spark, d).collect()}
    assert got["s"]["n_urls"] == 2
    assert got["s"]["n_link_spam_docs"] == 1  # doc 1 is 2/8 = 25% URLs
    assert got["t"]["n_urls"] == 5 and got["t"]["n_link_spam_docs"] == 1


def test_pca_whitening_loop_closes(spark):
    """The full PCA story: reduce the covariance with
    embedding_covariance, eigendecompose the tiny d×d on the driver,
    whiten the corpus with apply_linear_map — the transformed
    covariance must be the identity.  Covariance reduction, driver
    eigh, and the distributed BLAS apply all exercised together."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import (
        apply_linear_map,
        embedding_covariance,
    )

    rng = np.random.default_rng(11)
    # anisotropic data: distinct variances + correlation
    raw = rng.normal(size=(300, 4)) @ np.array(
        [[2.0, 0, 0, 0], [0.5, 1.0, 0, 0], [0, 0, 0.3, 0], [0, 0, 0.4, 1.5]]
    )
    df = spark.createDataFrame(
        [(row.astype(np.float32).tolist(),) for row in raw], ["embedding"]
    )
    cov_rows = embedding_covariance(df).collect()
    d = 4
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov_pop"]
    # driver-side: whitening matrix W = Λ^{-1/2} Vᵀ (d×d — trivial)
    vals, vecs = np.linalg.eigh(cov)
    w = np.diag(1.0 / np.sqrt(vals)) @ vecs.T
    # also remove the mean first (whitening is defined on centered data)
    mean = raw.mean(axis=0)
    centered = spark.createDataFrame(
        [((row - mean).astype(np.float32).tolist(),) for row in raw],
        ["embedding"],
    )
    white = apply_linear_map(centered, "embedding", w.tolist())
    out_cov_rows = embedding_covariance(white).collect()
    out = np.zeros((d, d))
    for r in out_cov_rows:
        out[r["i"], r["j"]] = out[r["j"], r["i"]] = r["cov_pop"]
    assert np.allclose(out, np.eye(d), atol=5e-3), out


def test_apply_linear_map_drops_ragged_rows(spark):
    """NULL and wrong-dimension vectors are dropped, valid rows map
    exactly."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import (
        apply_linear_map,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, 2.0, 3.0])],
        ["vec_id", "embedding"],
    )
    out = apply_linear_map(df, "embedding", [[2.0, 0.0], [0.0, 3.0]]).collect()
    assert len(out) == 1 and out[0]["vec_id"] == 1
    assert list(out[0]["embedding"]) == [2.0, 6.0]


def test_pr_threshold_sweep_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import pr_threshold_sweep

    # scores/labels chosen so each bucket's confusion matrix is hand
    # checkable: positives at .9 .9 .7, negatives at .7 .5
    df = spark.createDataFrame(
        [(0.9, True), (0.9, True), (0.7, True), (0.7, False), (0.5, False)],
        "score DOUBLE, y BOOLEAN",
    )
    out = {r["threshold"]: r for r in pr_threshold_sweep(df, "score", "y").collect()}
    assert set(out) == {0.9, 0.7, 0.5}
    assert (out[0.9]["tp"], out[0.9]["fp"], out[0.9]["fn"]) == (2, 0, 1)
    assert out[0.9]["precision"] == 1.0
    assert round(out[0.9]["recall"], 6) == round(2 / 3, 6)
    assert (out[0.7]["tp"], out[0.7]["fp"]) == (3, 1)
    assert out[0.7]["recall"] == 1.0
    assert out[0.5]["precision"] == 0.6  # all rows kept
    assert out[0.5]["f1"] == 0.75


def test_ks_2sample_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import ks_2sample

    # A = {1, 2, 3}, B = {3, 4, 5, 6}: CDFs diverge most at v=2
    # (2/3 - 0 = 0.666667) and collapse to 3/3 - 1/4 = 0.75 at v=3
    rows = [(True, 1), (True, 2), (True, 3),
            (False, 3), (False, 4), (False, 5), (False, 6)]
    df = spark.createDataFrame(rows, "s BOOLEAN, v LONG")
    out = ks_2sample(df, "s", "v").collect()[0]
    assert (out["n_a"], out["n_b"]) == (3, 4)
    assert out["ks_stat"] == 0.75
    assert out["ks_at"] == 3
    import math
    assert out["ks_lambda"] == round(0.75 * math.sqrt(12 / 7), 6)
    # identical distributions: D = 0
    same = spark.createDataFrame(
        [(True, 1), (True, 2), (False, 1), (False, 2)], "s BOOLEAN, v LONG"
    )
    assert ks_2sample(same, "s", "v").collect()[0]["ks_stat"] == 0.0


def test_roc_auc_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import roc_auc

    # perfect separation -> 1.0
    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)],
        "score DOUBLE, y BOOLEAN",
    )
    assert roc_auc(perfect, "score", "y").collect()[0]["auc"] == 1.0
    # all scores tied -> 0.5 (average-rank tie credit)
    tied = spark.createDataFrame(
        [(0.5, True), (0.5, True), (0.5, False), (0.5, False)],
        "score DOUBLE, y BOOLEAN",
    )
    assert roc_auc(tied, "score", "y").collect()[0]["auc"] == 0.5
    # hand case: pos {0.8, 0.4}, neg {0.6, 0.2}: pairs won 3/4,
    # no ties -> 0.75
    mixed = spark.createDataFrame(
        [(0.8, True), (0.4, True), (0.6, False), (0.2, False)],
        "score DOUBLE, y BOOLEAN",
    )
    out = roc_auc(mixed, "score", "y").collect()[0]
    assert (out["n_pos"], out["n_neg"], out["auc"]) == (2, 2, 0.75)


def test_calibration_bins_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import calibration_bins

    # bin 0 ([0, .5) with bins=2): scores .2 .4, labels F T -> avg .3,
    # frac .5, gap .2; bin 1: scores .8 1.0, labels T T -> avg .9,
    # frac 1.0, gap .1; ECE = (2*.2 + 2*.1)/4 = .15.  score 1.0 clamps
    # into the top bin.
    df = spark.createDataFrame(
        [(0.2, False), (0.4, True), (0.8, True), (1.0, True)],
        "score DOUBLE, y BOOLEAN",
    )
    out = {r["bin"]: r for r in calibration_bins(df, "score", "y", bins=2).collect()}
    assert set(out) == {0, 1}
    assert (out[0]["avg_score"], out[0]["frac_pos"], out[0]["gap"]) == (0.3, 0.5, 0.2)
    assert (out[1]["avg_score"], out[1]["frac_pos"], out[1]["gap"]) == (0.9, 1.0, 0.1)
    assert out[0]["ece"] == 0.15 and out[1]["ece"] == 0.15


def test_welch_t_test_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import welch_t_test

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
            ("b", 2.0), ("b", 4.0), ("b", 6.0), ("c", 99.0)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = welch_t_test(df, "v", "g", "a", "b").collect()[0]
    assert (out["n_a"], out["n_b"]) == (4, 3)
    assert (out["mean_a"], out["mean_b"]) == (2.5, 4.0)
    # recompute with the operator's rounded-moments convention
    va, vb = round(5 / 3, 6), 4.0
    sa, sb = va / 4, vb / 3
    se2 = sa + sb
    assert out["t_stat"] == round((2.5 - 4.0) / se2 ** 0.5, 4)
    assert out["dof"] == round(se2 ** 2 / (sa ** 2 / 3 + sb ** 2 / 2), 2)


def test_mann_whitney_u_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import mann_whitney_u

    # A = {1, 3, 5}, B = {2, 3, 4}: tie at 3 takes average rank 3.5;
    # R_a = 1 + 3.5 + 6 = 10.5, U_a = 4.5 = n_a*n_b/2 -> z = 0
    rows = [("a", 1.0), ("a", 3.0), ("a", 5.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert (out["n_a"], out["n_b"]) == (3, 3)
    assert out["u_stat"] == 4.5
    assert out["z_score"] == 0.0
    # complete separation: U = n_a*n_b (max), z = 2/sqrt(5/3)
    sep = spark.createDataFrame(
        [("a", 5.0), ("a", 6.0), ("b", 1.0), ("b", 2.0)], "g STRING, v DOUBLE"
    )
    o2 = mann_whitney_u(sep, "v", "g", "a", "b").collect()[0]
    assert o2["u_stat"] == 4.0
    assert o2["z_score"] == round(2 / (5 / 3) ** 0.5, 6)


def test_association_rules_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import association_rules

    # baskets: 1 = {10, 20}, 2 = {10, 20}, 3 = {10, 30};
    # only (10, 20) reaches min_shared = 2
    rows = [(1, 10), (1, 20), (2, 10), (2, 20), (2, 20), (3, 10), (3, 30)]
    df = spark.createDataFrame(rows, "b LONG, i LONG")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "b", "i", min_shared=2).collect()
    }
    assert set(out) == {(10, 20), (20, 10)}
    r = out[(10, 20)]
    # support 2/3; conf(10->20) = 2/3 (10 in 3 baskets); lift = 1.0
    assert (r["n_both"], r["support"], r["confidence"], r["lift"]) == (
        2, round(2 / 3, 6), round(2 / 3, 6), 1.0
    )
    r = out[(20, 10)]
    assert (r["confidence"], r["lift"]) == (1.0, 1.0)
    # a basket above max_basket contributes nothing
    wide = rows + [(4, k) for k in range(100, 106)] + [(4, 10), (4, 20)]
    df2 = spark.createDataFrame(wide, "b LONG, i LONG")
    out2 = {
        (r["antecedent"], r["consequent"]): r["n_both"]
        for r in association_rules(
            df2, "b", "i", min_shared=2, max_basket=5
        ).collect()
    }
    assert out2 == {(10, 20): 2, (20, 10): 2}


def test_rfm_segments_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import rfm_segments

    rows = [
        ("c1", "2026-01-10", 10.0), ("c1", "2026-01-09", 20.0),
        ("c2", "2026-01-05", 100.0),
        ("c3", "2026-01-10", 5.0), ("c3", "2026-01-01", 5.0),
        ("c3", "2026-01-02", 5.0),
    ]
    df = spark.createDataFrame(rows, "c STRING, d STRING, v DOUBLE").select(
        "c", F.to_timestamp("d").alias("d"), "v"
    )
    out = {r["c"]: r for r in rfm_segments(df, "c", "d", "v", tiers=3).collect()}
    # anchor = 01-10; recency c1=0, c3=0, c2=5; freq c3=3,c1=2,c2=1;
    # monetary c2=100, c1=30, c3=15 — 3 tiers over 3 rows = 1 each
    assert (out["c1"]["recency_days"], out["c1"]["frequency"],
            out["c1"]["monetary"]) == (0, 2, 30.0)
    assert out["c1"]["segment"] == "322"
    assert out["c2"]["segment"] == "113"
    assert out["c3"]["segment"] == "231"


def test_embedding_group_drift_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import embedding_group_drift

    rows = [("a", [1.0, 0.0]), ("a", [1.0, 0.0]), ("b", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "g STRING, embedding ARRAY<FLOAT>")
    out = {r["g"]: r for r in embedding_group_drift(df, "g").collect()}
    # centroids: a = (1,0), b = (0,1); global = (2/3, 1/3) rounded 6
    g0, g1 = round(2 / 3, 6), round(1 / 3, 6)
    import math
    gn = math.sqrt(g0 * g0 + g1 * g1)
    assert out["a"]["n_vectors"] == 2
    assert out["a"]["cosine_to_global"] == round(g0 / gn, 6)
    assert out["a"]["l2_to_global"] == round(
        math.sqrt((1 - g0) ** 2 + g1 ** 2), 6
    )
    assert out["b"]["n_vectors"] == 1
    assert out["b"]["cosine_to_global"] == round(g1 / gn, 6)
    assert out["b"]["l2_to_global"] == round(
        math.sqrt(g0 ** 2 + (1 - g1) ** 2), 6
    )


def test_two_sample_tests_match_pure_python_reference(spark):
    """Random-data equivalence of mann_whitney_u / welch_t_test
    against independent pure-Python implementations (rank-sum with
    average ranks + tie correction; Welch from rounded moments)."""
    import math
    import random

    rng = random.Random(13)
    rows = [
        ("a" if rng.random() < 0.5 else "b", rng.randint(0, 20) / 4.0)
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import (
        mann_whitney_u,
        welch_t_test,
    )

    # --- reference Mann-Whitney ---
    xs = sorted(rows, key=lambda r: r[1])
    ranks, i = {}, 0
    while i < len(xs):
        j = i
        while j < len(xs) and xs[j][1] == xs[i][1]:
            j += 1
        avg = (i + 1 + j) / 2.0  # average of ranks i+1..j
        ranks[xs[i][1]] = avg
        i = j
    a_vals = [v for g, v in rows if g == "a"]
    b_vals = [v for g, v in rows if g == "b"]
    na, nb = len(a_vals), len(b_vals)
    ra = sum(ranks[v] for v in a_vals)
    ua = ra - na * (na + 1) / 2.0
    from collections import Counter

    cnt = Counter(v for _, v in rows)
    tie = sum(t ** 3 - t for t in cnt.values())
    n = na + nb
    var = na * nb / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z_ref = (ua - na * nb / 2.0) / math.sqrt(var)
    out = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert (out["n_a"], out["n_b"]) == (na, nb)
    assert out["u_stat"] == round(ua, 1)
    assert out["z_score"] == round(z_ref, 6)

    # --- reference Welch from rounded moments ---
    def moments(vals):
        m = sum(vals) / len(vals)
        var_s = sum((x - m) ** 2 for x in vals) / (len(vals) - 1)
        return round(m, 6), round(var_s, 6)

    ma, va = moments(a_vals)
    mb, vb = moments(b_vals)
    sa, sb = va / na, vb / nb
    t_ref = (ma - mb) / math.sqrt(sa + sb)
    dof_ref = (sa + sb) ** 2 / (sa ** 2 / (na - 1) + sb ** 2 / (nb - 1))
    w = welch_t_test(df, "v", "g", "a", "b").collect()[0]
    assert (w["n_a"], w["n_b"], w["mean_a"], w["mean_b"]) == (na, nb, ma, mb)
    assert w["t_stat"] == round(t_ref, 4)
    assert w["dof"] == round(dof_ref, 2)


def test_confusion_metrics_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import confusion_metrics

    rows = [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")]
    df = spark.createDataFrame(rows, "y STRING, p STRING")
    out = {r["cls"]: r for r in confusion_metrics(df, "y", "p").collect()}
    assert set(out) == {"a", "b", "c"}
    a = out["a"]
    assert (a["n_actual"], a["n_pred"], a["n_correct"]) == (2, 2, 1)
    assert (a["precision"], a["recall"], a["f1"]) == (0.5, 0.5, 0.5)
    b = out["b"]
    assert (b["n_actual"], b["n_pred"], b["n_correct"]) == (2, 3, 2)
    assert (b["precision"], b["recall"], b["f1"]) == (
        round(2 / 3, 6), 1.0, 0.8
    )
    c = out["c"]  # never predicted: precision/f1 NULL, recall 0
    assert (c["n_actual"], c["n_pred"], c["n_correct"]) == (1, 0, 0)
    assert c["precision"] is None and c["f1"] is None and c["recall"] == 0.0


def test_cohort_ltv_hand_computed(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import cohort_ltv

    rows = [
        ("c1", "2026-01-05", 10.0), ("c1", "2026-02-15", 20.0),
        ("c2", "2026-01-20", 30.0),
        ("c3", "2026-02-10", 40.0), ("c3", "2026-04-01", 5.0),
    ]
    df = spark.createDataFrame(rows, "c STRING, d STRING, v DOUBLE").select(
        "c", F.to_timestamp("d").alias("d"), "v"
    )
    out = {
        (str(r["cohort_start"])[:7], r["period_offset"]): r
        for r in cohort_ltv(df, "c", "d", "v").collect()
    }
    jan0 = out[("2026-01", 0)]
    assert (jan0["n_customers"], jan0["period_revenue"],
            jan0["cum_revenue_per_customer"]) == (2, 40.0, 20.0)
    jan1 = out[("2026-01", 1)]
    assert (jan1["period_revenue"], jan1["cum_revenue_per_customer"]) == (
        20.0, 30.0
    )
    feb0 = out[("2026-02", 0)]
    assert (feb0["n_customers"], feb0["cum_revenue_per_customer"]) == (1, 40.0)
    # the gap month (offset 1) has no row; offset 2 cumulates past it
    assert ("2026-02", 1) not in out
    feb2 = out[("2026-02", 2)]
    assert feb2["cum_revenue_per_customer"] == 45.0


def test_per_group_ks_matches_two_sample(spark):
    """With exactly two groups, each group's vs-rest KS equals the
    plain two-sample KS on the same split."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import per_group_ks

    rows = [("a", 1), ("a", 2), ("a", 3),
            ("b", 3), ("b", 4), ("b", 5), ("b", 6)]
    df = spark.createDataFrame(rows, "g STRING, v LONG")
    out = {r["g"]: r for r in per_group_ks(df, "g", "v").collect()}
    a, b = out["a"], out["b"]
    assert (a["n_group"], a["n_rest"], a["ks_stat"], a["ks_at"]) == (
        3, 4, 0.75, 3
    )
    assert (b["n_group"], b["n_rest"], b["ks_stat"], b["ks_at"]) == (
        4, 3, 0.75, 3
    )


# ------------------------------------------------------------ sequence match


def test_sequence_match_exclusion_and_window(spark):
    """A then B matches; an X strictly between blocks; B outside the
    window doesn't count; anchor is the MOST RECENT preceding A."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import sequence_match

    t = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)  # noqa: E731
    rows = [
        # u1: A .. B 120 s apart -> one match
        ("u1", t(0), "A", 1), ("u1", t(2), "B", 2),
        # u2: A X B -> in window but blocked by the X between
        ("u2", t(0), "A", 3), ("u2", t(1), "X", 4), ("u2", t(2), "B", 5),
        # u3: A X A B -> X before the matched (most recent) anchor: match
        ("u3", t(0), "A", 6), ("u3", t(1), "X", 7),
        ("u3", t(2), "A", 8), ("u3", t(3), "B", 9),
        # u4: A ... B past the 240 s window -> no match
        ("u4", t(0), "A", 10), ("u4", t(5), "B", 11),
        # u5: B with no A -> no match
        ("u5", t(0), "B", 12),
    ]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, et STRING, eid LONG")
    out = {
        r["k"]: r
        for r in sequence_match(
            df, "ts", "et", ["k"], first="A", then="B", exclude="X",
            within_seconds=240, tiebreak_col="eid",
        ).collect()
    }
    assert set(out) == {"u1", "u3"}
    assert out["u1"]["n_complete"] == 1
    assert out["u3"]["n_complete"] == 1
    assert out["u3"]["first_completion_ts"] == t(3)


def test_sequence_match_counts_every_completion(spark):
    """Each qualifying `then` row counts once (A B B -> 2 matches, both
    anchored at the same A)."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import sequence_match

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [("u", t(0), "A", 1), ("u", t(1), "B", 2), ("u", t(2), "B", 3)]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, et STRING, eid LONG")
    r = sequence_match(
        df, "ts", "et", ["k"], first="A", then="B", tiebreak_col="eid"
    ).collect()[0]
    assert (r["n_complete"], r["first_completion_ts"]) == (2, t(1))


# -------------------------------------------------------- neighbor jaccard


def test_neighbor_jaccard_scores_and_hub_prune(spark):
    """Square 1-2-3-4: opposite corners share both neighbors
    (J = 2/2 = 1.0); adjacent corners share none.  Adding a hub wired
    to everything and pruning it with max_degree leaves the square's
    scores untouched."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import neighbor_jaccard

    square = [(1, 2), (2, 3), (3, 4), (4, 1)]
    df = spark.createDataFrame(square, "src LONG, dst LONG")
    out = {(r["u"], r["v"]): r for r in neighbor_jaccard(df, "src", "dst").collect()}
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)]["n_common"] == 2
    assert out[(1, 3)]["jaccard"] == 1.0

    hub = 99
    with_hub = square + [(hub, n) for n in (1, 2, 3, 4)]
    df2 = spark.createDataFrame(with_hub, "src LONG, dst LONG")
    # unpruned: the hub is now a shared neighbor of EVERY corner pair,
    # so adjacent corners (which share nothing real) pair up via it
    noisy = {(r["u"], r["v"]): r for r in neighbor_jaccard(df2, "src", "dst").collect()}
    assert noisy[(1, 3)]["n_common"] == 3
    assert (1, 2) in noisy and noisy[(1, 2)]["n_common"] == 1
    # pruned at max_degree=3 the hub (degree 4) disappears entirely
    clean = {
        (r["u"], r["v"]): r
        for r in neighbor_jaccard(df2, "src", "dst", max_degree=3).collect()
    }
    assert set(clean) == {(1, 3), (2, 4)}
    assert clean[(1, 3)]["jaccard"] == 1.0


def test_neighbor_jaccard_min_common_filter(spark):
    """min_common drops pairs below the support floor."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import neighbor_jaccard

    # 1 and 2 share only node 10
    df = spark.createDataFrame([(1, 10), (2, 10)], "src LONG, dst LONG")
    assert neighbor_jaccard(df, "src", "dst", min_common=2).count() == 0
    one = neighbor_jaccard(df, "src", "dst", min_common=1).collect()
    assert [(r["u"], r["v"], r["n_common"]) for r in one] == [(1, 2, 1)]


# ------------------------------------------------------------- adamic-adar


def test_adamic_adar_weights_and_prune(spark):
    """Square 1-2-3-4 plus a chord: AA weight of a shared neighbor w
    is 1/ln(deg(w)); hub pruning removes hub-mediated pairs."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import adamic_adar

    # square: 1-2, 2-3, 3-4, 4-1 (all degree 2)
    square = [(1, 2), (2, 3), (3, 4), (4, 1)]
    df = spark.createDataFrame(square, "src LONG, dst LONG")
    out = {(r["u"], r["v"]): r for r in adamic_adar(df, "src", "dst").collect()}
    # opposite corners share two degree-2 neighbors: 2 / ln 2
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)]["n_common"] == 2
    assert abs(out[(1, 3)]["aa_score"] - 2.0 / math.log(2.0)) < 1e-6

    hub = 99
    df2 = spark.createDataFrame(
        square + [(hub, n) for n in (1, 2, 3, 4)], "src LONG, dst LONG"
    )
    noisy = {
        (r["u"], r["v"]): r for r in adamic_adar(df2, "src", "dst").collect()
    }
    # hub (degree 4) now mediates adjacent pairs with weight 1/ln 4,
    # and corners have degree 3
    assert abs(noisy[(1, 2)]["aa_score"] - 1.0 / math.log(4.0)) < 1e-6
    assert abs(
        noisy[(1, 3)]["aa_score"] - (2.0 / math.log(3.0) + 1.0 / math.log(4.0))
    ) < 1e-6
    clean = {
        (r["u"], r["v"]): r
        for r in adamic_adar(df2, "src", "dst", max_degree=3).collect()
    }
    assert set(clean) == {(1, 3), (2, 4)}
    assert abs(clean[(1, 3)]["aa_score"] - 2.0 / math.log(2.0)) < 1e-6


# -------------------------------------------------- clustering coefficient


def test_clustering_coefficient_triangle_plus_tail(spark):
    """Triangle 1-2-3 with a pendant 4 hanging off 3: the triangle's
    closed pair ratio vs node 3's 1-of-3 pairs; pendant scores 0."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        clustering_coefficient,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src LONG, dst LONG"
    )
    with Scope():
        res = clustering_coefficient(df, "src", "dst")
        out = {r["node"]: r for r in res.collect()}
    assert out[1]["coeff"] == 1.0 and out[1]["n_triangles"] == 1
    assert out[2]["coeff"] == 1.0
    # node 3: deg 3, one closed pair of three -> 2*1/(3*2) = 1/3
    assert out[3]["deg"] == 3 and abs(out[3]["coeff"] - 0.333333) < 1e-6
    assert out[4]["coeff"] == 0.0 and out[4]["n_triangles"] == 0


# ------------------------------------------------------------ kaplan-meier


def test_kaplan_meier_hand_computed(spark):
    """Classic textbook check: subjects with durations/events
    (1,E) (2,C) (3,E) (3,E) (4,C): S(1)=4/5, S(3)=4/5 * 1/3."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import kaplan_meier

    rows = [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0)]
    df = spark.createDataFrame(rows, "duration INT, event INT")
    out = {r["duration"]: r for r in kaplan_meier(df, "duration", "event").collect()}
    assert set(out) == {1, 3}
    assert (out[1]["n_risk"], out[1]["n_events"]) == (5, 1)
    assert abs(out[1]["survival"] - 0.8) < 1e-6
    assert (out[3]["n_risk"], out[3]["n_events"]) == (3, 2)
    assert abs(out[3]["survival"] - 0.8 * (1 / 3)) < 1e-6


def test_kaplan_meier_hits_zero_and_groups(spark):
    """d == n at the last event time drives survival to exactly 0;
    groups estimate independently."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import kaplan_meier

    rows = [("a", 1, 1), ("a", 2, 1), ("b", 5, 0), ("b", 7, 1)]
    df = spark.createDataFrame(rows, "g STRING, duration INT, event INT")
    out = {
        (r["g"], r["duration"]): r
        for r in kaplan_meier(df, "duration", "event", ["g"]).collect()
    }
    assert out[("a", 1)]["survival"] == 0.5
    assert out[("a", 2)]["survival"] == 0.0  # last subject fails
    # b: censored at 5, then the lone remaining subject fails at 7
    assert out[("b", 7)]["n_risk"] == 1
    assert out[("b", 7)]["survival"] == 0.0


# ------------------------------------------------------------ fk integrity


def test_fk_integrity_orphans_and_nulls(spark):
    """Orphan keys, their row weights, and null keys all land in the
    right buckets; a clean relation reports zeros."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.profiling import fk_integrity

    child = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (9, "o1"), (9, "o2"), (None, "n")],
        "fk INT, payload STRING",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk INT")
    out = {
        r["relation"]: r
        for r in fk_integrity(
            [
                ("dirty", child, "fk", parent, "pk"),
                ("clean", parent, "pk", parent, "pk"),
            ]
        ).collect()
    }
    d = out["dirty"]
    assert d["n_rows"] == 6 and d["n_null_rows"] == 1
    assert d["n_keys"] == 3  # 1, 2, 9 (null excluded)
    assert d["n_orphan_keys"] == 1 and d["n_orphan_rows"] == 2
    c = out["clean"]
    assert (c["n_orphan_keys"], c["n_orphan_rows"], c["n_null_rows"]) == (0, 0, 0)


# -------------------------------------------------------- interarrival


def test_interarrival_periodic_vs_bursty(spark):
    """Perfectly periodic gaps -> CV 0, burstiness -1; a bursty key
    scores positive-of-that; short keys drop below min_gaps."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import interarrival_stats

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = (
        [("per", t(i * 10), i) for i in range(5)]        # gaps 10,10,10,10
        + [("bur", t(s), 100 + i) for i, s in enumerate([0, 1, 2, 3, 40])]
        + [("tiny", t(0), 200), ("tiny", t(5), 201)]     # 1 gap only
    )
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, eid LONG")
    out = {
        r["k"]: r
        for r in interarrival_stats(
            df, ["k"], "ts", tiebreak_col="eid", min_gaps=2
        ).collect()
    }
    assert set(out) == {"per", "bur"}
    p = out["per"]
    assert (p["n_gaps"], p["mean_gap_s"], p["cv"], p["burstiness"]) == (
        4, 10.0, 0.0, -1.0
    )
    b = out["bur"]
    assert b["n_gaps"] == 4 and b["mean_gap_s"] == 10.0
    assert b["cv"] > 1.0 and -1.0 < b["burstiness"] < 1.0


# -------------------------------------------------------- diff in diff


def test_diff_in_diff_hand_computed(spark):
    """treat pre 10, post 25 (+15); ctrl pre 5, post 10 (+5): DiD 10."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import diff_in_diff

    rows = [
        (True, False, 9.0), (True, False, 11.0),
        (True, True, 24.0), (True, True, 26.0),
        (False, False, 4.0), (False, False, 6.0),
        (False, True, 9.0), (False, True, 11.0),
    ]
    df = spark.createDataFrame(rows, "treated BOOLEAN, post BOOLEAN, y DOUBLE")
    r = diff_in_diff(df, "treated", "post", "y").collect()[0]
    assert (r["mean_treat_pre"], r["mean_treat_post"]) == (10.0, 25.0)
    assert (r["mean_ctrl_pre"], r["mean_ctrl_post"]) == (5.0, 10.0)
    assert r["did"] == 10.0
    assert (r["n_treat_pre"], r["n_ctrl_post"]) == (2, 2)


# ------------------------------------------------------ period overlap


def test_period_overlap_jaccard_and_retention(spark):
    """day1 {a,b,c}, day2 {b,c,d}, day3 {x}: J(1,2)=2/4, retained 2/3;
    (2,3) shares nothing -> absent."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.funnels import period_overlap

    rows = [
        (datetime(2024, 1, 1, 5), "a"), (datetime(2024, 1, 1, 6), "b"),
        (datetime(2024, 1, 1, 7), "c"), (datetime(2024, 1, 1, 8), "b"),
        (datetime(2024, 1, 2, 5), "b"), (datetime(2024, 1, 2, 6), "c"),
        (datetime(2024, 1, 2, 7), "d"),
        (datetime(2024, 1, 3, 5), "x"),
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, u STRING")
    out = [r.asDict() for r in period_overlap(df, "ts", "u").collect()]
    assert len(out) == 1
    r = out[0]
    assert str(r["period"]) == "2024-01-01" and str(r["next_period"]) == "2024-01-02"
    assert (r["n_prev"], r["n_next"], r["n_shared"]) == (3, 3, 2)
    assert r["jaccard"] == 0.5 and abs(r["retained"] - 0.666667) < 1e-6


# -------------------------------------------------------- doc keywords


def test_doc_keywords_ranks_and_min_df(spark):
    """Shared rare term outranks ubiquitous filler; hapax terms are
    dropped by min_df; top_k truncates per document."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import doc_keywords

    rows = [
        (1, "zebra apple apple"),
        (2, "zebra banana banana"),
        (3, "apple banana unique"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = doc_keywords(df, "doc_id", "text", top_k=2, min_df=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'unique' (df=1) never appears
    assert all(r["term"] != "unique" for r in out)
    # every doc keeps <= 2 keywords, ranks are 1..k
    for doc, rs in by_doc.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == list(
            range(1, len(rs) + 1)
        )
    # doc 1: apple tf=2 (df=2) beats zebra tf=1 (df=2)
    top1 = next(r for r in by_doc[1] if r["rank"] == 1)
    assert top1["term"] == "apple" and top1["tf"] == 2


def test_doc_keywords_tie_breaks_alphabetically(spark):
    """Equal tfidf -> term ASC decides the rank deterministically."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import doc_keywords

    rows = [(1, "aa bb"), (2, "aa bb")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        (r["doc_id"], r["rank"]): r["term"]
        for r in doc_keywords(df, "doc_id", "text", top_k=2, min_df=2).collect()
    }
    assert out[(1, 1)] == "aa" and out[(1, 2)] == "bb"


# ---------------------------------------------------- ANSI degeneracies


def test_adamic_adar_degree_one_endpoints_ansi_safe(spark):
    """Path graph 1-2-3: the endpoints have degree 1 (1/ln(1) must
    never evaluate under ANSI mode); the middle node mediates the
    single pair."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import adamic_adar

    df = spark.createDataFrame([(1, 2), (2, 3)], "src LONG, dst LONG")
    out = adamic_adar(df, "src", "dst").collect()
    assert [(r["u"], r["v"], r["n_common"]) for r in out] == [(1, 3, 1)]
    assert abs(out[0]["aa_score"] - 1.0 / math.log(2.0)) < 1e-6


def test_interarrival_zero_gaps_ansi_safe(spark):
    """A key whose events all share one timestamp has mu = 0: the
    ratios must come back NULL, not raise DIVIDE_BY_ZERO."""
    from datetime import datetime

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import interarrival_stats

    t = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("z", t, i) for i in range(4)], "k STRING, ts TIMESTAMP, eid LONG"
    )
    out = interarrival_stats(df, ["k"], "ts", tiebreak_col="eid", min_gaps=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["mean_gap_s"] == 0.0 and r["cv"] is None and r["burstiness"] is None


# ------------------------------------------------------------ term keyness


def test_term_keyness_g2_hand_computed(spark):
    """A term exclusive to corpus A gets the full Dunning G²; a term
    split evenly scores ~0; min_count drops rare terms."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import term_keyness

    rows = (
        [("a", "alpha common " * 3)] + [("b", "beta common " * 3)]
    )
    df = spark.createDataFrame(rows, "src STRING, text STRING")
    out = {
        r["term"]: r
        for r in term_keyness(
            df, "src", "a", "b", "text", top_k=10, min_count=3
        ).collect()
    }
    assert set(out) == {"alpha", "beta", "common"}
    # alpha: a=3, b=0, na=nb=6 -> E_a=1.5, G2 = 2*3*ln(2)
    assert abs(out["alpha"]["g2"] - 2 * 3 * math.log(2.0)) < 1e-5
    assert out["alpha"]["overrep"] == "a"
    assert out["beta"]["overrep"] == "b"
    assert out["common"]["g2"] == 0.0


# ------------------------------------------------------------ mutual top-k


def test_mutual_topk_requires_reciprocity(spark):
    """1<->2 are each other's best match; 3's best is 1 but 1 prefers
    2, so 3 pairs with nobody."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import mutual_topk_pairs

    rows = [
        (1, 2, 0.9), (1, 3, 0.5),
        (2, 1, 0.9), (2, 3, 0.4),
        (3, 1, 0.5), (3, 2, 0.4),
    ]
    df = spark.createDataFrame(rows, "query_id LONG, doc_id LONG, cosine DOUBLE")
    out = mutual_topk_pairs(df).collect()
    assert [(r["id_a"], r["id_b"], r["score_ab"], r["score_ba"]) for r in out] == [
        (1, 2, 0.9, 0.9)
    ]


# -------------------------------------------------------- log-rank test


def test_log_rank_identical_curves_score_zero(spark):
    """Two groups with identical duration/fate profiles: O = E, chi2
    = 0."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import log_rank_test

    rows = []
    for g in ("a", "b"):
        rows += [(g, 1, 1), (g, 2, 0), (g, 3, 1)]
    df = spark.createDataFrame(rows, "g STRING, duration INT, event INT")
    r = log_rank_test(df, "duration", "event", "g", "a").collect()[0]
    assert r["observed_a"] == r["expected_a"] == 2.0
    assert r["chi2"] == 0.0


def test_log_rank_hand_computed_divergence(spark):
    """a fails at t=1 (both groups full): E_a = 1*2/4 = 0.5,
    V = 1*(2/4)*(2/4)*(4-1)/(4-1) = 0.25; b never fails."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import log_rank_test

    rows = [("a", 1, 1), ("a", 5, 0), ("b", 5, 0), ("b", 5, 0)]
    df = spark.createDataFrame(rows, "g STRING, duration INT, event INT")
    r = log_rank_test(df, "duration", "event", "g", "a").collect()[0]
    assert (r["observed_a"], r["expected_a"], r["variance"]) == (1.0, 0.5, 0.25)
    assert r["chi2"] == 1.0


def test_log_rank_zero_variance_is_null(spark):
    """Everyone shares one duration and everyone fails: n = d at the
    only grid row, V = 0, chi2 NULL (undefined, not infinite)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import log_rank_test

    rows = [("a", 1, 1), ("b", 1, 1)]
    df = spark.createDataFrame(rows, "g STRING, duration INT, event INT")
    r = log_rank_test(df, "duration", "event", "g", "a").collect()[0]
    assert r["variance"] == 0.0 and r["chi2"] is None


# -------------------------------------------------- linear interpolation


def test_resample_interpolate_fills_gaps_linearly(spark):
    """Observations at d0=10 and d3=40: the two missing days take 20
    and 30; ends stay observed; a key with one observation emits one
    observed row."""
    from datetime import date

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.windows import resample_interpolate

    rows = [
        ("a", date(2024, 1, 1), 10.0),
        ("a", date(2024, 1, 4), 40.0),
        ("b", date(2024, 1, 2), 7.0),
    ]
    df = spark.createDataFrame(rows, "k STRING, d DATE, v DOUBLE")
    out = {
        (r["k"], str(r["d"])): r
        for r in resample_interpolate(df, "k", "d", "v").collect()
    }
    assert len(out) == 5
    assert out[("a", "2024-01-01")]["filled"] == 10.0
    assert out[("a", "2024-01-02")]["filled"] == 20.0
    assert not out[("a", "2024-01-02")]["is_observed"]
    assert out[("a", "2024-01-03")]["filled"] == 30.0
    assert out[("a", "2024-01-04")]["filled"] == 40.0
    assert out[("b", "2024-01-02")]["is_observed"]


# ---------------------------------------------------- two-proportion z


def test_two_proportion_ztest_hand_computed(spark):
    """a: 30/100 vs b: 20/100 -> pooled 0.25, z = 0.1/sqrt(0.25*0.75
    *0.02)."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import two_proportion_ztest

    rows = (
        [("a", 1)] * 30 + [("a", 0)] * 70 + [("b", 1)] * 20 + [("b", 0)] * 80
    )
    df = spark.createDataFrame(rows, "g STRING, s INT")
    r = two_proportion_ztest(df, "g", "a", "s").collect()[0]
    assert (r["n_a"], r["conv_a"], r["rate_a"]) == (100, 30, 0.3)
    want = 0.1 / math.sqrt(0.25 * 0.75 * 0.02)
    assert abs(r["z"] - want) < 1e-5


def test_two_proportion_ztest_degenerate_is_null(spark):
    """Nobody converts anywhere: z undefined, not a zero division."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import two_proportion_ztest

    df = spark.createDataFrame(
        [("a", 0), ("b", 0)], "g STRING, s INT"
    )
    r = two_proportion_ztest(df, "g", "a", "s").collect()[0]
    assert r["z"] is None


# ------------------------------------------------------------ geo nearest


def test_geo_nearest_crosses_cell_boundaries(spark):
    """A right point in the ADJACENT grid cell (just across the
    boundary) must still be found — the 3x3 neighborhood replication
    is the whole point; a farther point in the same cell loses."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import nearest_within_radius

    # cell_deg=1: cells split at integer degrees.  Left point at
    # (0.99, 0.5); right A at (1.01, 0.5) is ~2.2 km away but in the
    # cell NORTH; right B at (0.01, 0.5) is ~109 km away in the same
    # cell.
    left = spark.createDataFrame([(1, 0.99, 0.5)], "lid LONG, lat DOUBLE, lon DOUBLE")
    right = spark.createDataFrame(
        [(10, 1.01, 0.5), (20, 0.01, 0.5)], "rid LONG, lat DOUBLE, lon DOUBLE"
    )
    out = nearest_within_radius(
        left, right, radius_km=100.0, cell_deg=1.0,
        left_id="lid", right_id="rid", max_abs_lat=5.0,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["nearest_rid"] == 10
    assert r["distance_km"] < 3.0


def test_geo_nearest_radius_and_tiebreak(spark):
    """Points beyond the radius drop; equidistant candidates break
    the tie on the smaller right id."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import nearest_within_radius

    left = spark.createDataFrame([(1, 0.0, 0.0), (2, 3.0, 100.0)],
                                 "lid LONG, lat DOUBLE, lon DOUBLE")
    right = spark.createDataFrame(
        [(7, 0.1, 0.0), (3, -0.1, 0.0)], "rid LONG, lat DOUBLE, lon DOUBLE"
    )
    out = {r["lid"]: r for r in nearest_within_radius(
        left, right, radius_km=50.0, cell_deg=1.0,
        left_id="lid", right_id="rid", max_abs_lat=5.0,
    ).collect()}
    assert set(out) == {1}           # lid=2 has nothing within 50 km
    assert out[1]["nearest_rid"] == 3  # tie at ~11.1 km -> smaller id


def test_geo_nearest_rejects_undersized_cell(spark):
    """A cell smaller than the radius would silently drop true
    neighbors: must raise, not degrade."""
    import pytest

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import nearest_within_radius

    df = spark.createDataFrame([(1, 0.0, 0.0)], "id LONG, lat DOUBLE, lon DOUBLE")
    with pytest.raises(ValueError, match="too small"):
        nearest_within_radius(df, df, radius_km=500.0, cell_deg=1.0)


# ------------------------------------------------ sorted neighborhood


def test_sorted_neighborhood_window_pairs(spark):
    """Sort order c < m < s1 < s2: window 2 pairs each record with
    its <=2 successors; smyth/smith-style neighbors pair despite
    sharing no token; volume is exactly window per record (minus the
    tail)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.dedup import sorted_neighborhood_pairs
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    rows = [(1, "smith"), (2, "smyth"), (3, "carter"), (4, "miller")]
    df = spark.createDataFrame(rows, "id LONG, name STRING")
    with Scope():
        res = sorted_neighborhood_pairs(df, "id", "name", window=2)
        out = {(r["id_a"], r["id_b"]): r["pos_gap"] for r in res.collect()}
    # order: carter(3) miller(4) smith(1) smyth(2)
    assert out == {
        (3, 4): 1, (3, 1): 2,
        (4, 1): 1, (4, 2): 2,
        (1, 2): 1,
    }


def test_pairs_within_radius_matches_brute_force(spark):
    """Grid-join pair enumeration equals brute force on a small
    planted set spanning cell boundaries."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import (
        haversine_km,
        pairs_within_radius,
    )
    from pyspark.sql import functions as F

    pts = [(i, (i * 13 % 40) / 100.0 + 0.8, (i * 29 % 60) / 100.0 + 0.7)
           for i in range(25)]
    df = spark.createDataFrame(pts, "id LONG, lat DOUBLE, lon DOUBLE")
    got = {
        (r["id_a"], r["id_b"])
        for r in pairs_within_radius(
            df, radius_km=60.0, cell_deg=1.0, max_abs_lat=5.0
        ).collect()
    }
    a = df.alias("a")
    b = df.alias("b")
    brute = {
        (r["ida"], r["idb"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            F.round(
                haversine_km(
                    F.col("a.lat"), F.col("a.lon"),
                    F.col("b.lat"), F.col("b.lon"),
                ),
                3,
            ).alias("d"),
        )
        .filter(F.col("d") <= 60.0)
        .collect()
    }
    assert len(brute) > 0
    assert got == brute


# ------------------------------------------------------------ lsh planner


def test_plan_lsh_picks_inflection_near_target(spark):
    """128 hashes, target 0.8: the planner lands on a split whose
    (1/b)^(1/r) inflection is nearest 0.8, the curve is monotone, and
    a looser target picks MORE bands (shorter rows)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.dedup import plan_lsh

    tight = plan_lsh(0.8, 128)
    assert tight["bands"] * tight["rows"] == 128
    assert abs(tight["threshold"] - 0.8) < 0.15
    probs = [p for _, p in tight["curve"]]
    assert all(b >= a for a, b in zip(probs, probs[1:]))
    loose = plan_lsh(0.4, 128)
    assert loose["bands"] > tight["bands"]
    # masses are reported and sane
    assert 0 <= tight["fp_mass"] < 0.5 and 0 <= tight["fn_mass"] < 0.5


def test_plan_lsh_rejects_bad_input(spark):
    import pytest

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.dedup import plan_lsh

    with pytest.raises(ValueError):
        plan_lsh(1.5, 128)
    with pytest.raises(ValueError):
        plan_lsh(0.8, 128, candidates=[(3, 7)])


# ------------------------------------------------------------ contraction


def test_contract_edges_preserves_components(spark):
    """A dense clique + a chain + a separate pair, shuffled across
    partitions: the contracted forest has far fewer edges but the
    SAME connected components (verified through connected_components
    on both edge sets)."""
    import itertools

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
        connected_components,
        contract_edges,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    clique = list(itertools.combinations(range(1, 9), 2))       # 28 edges
    chain = [(i, i + 1) for i in range(20, 25)]                  # 5 edges
    pair = [(50, 51)]
    edges = spark.createDataFrame(
        clique + chain + pair, "id_a LONG, id_b LONG"
    ).repartition(6)
    nodes = spark.createDataFrame(
        [(n,) for n in ([*range(1, 9), *range(20, 26), 50, 51, 99])],
        "doc_id LONG",
    )
    contracted = contract_edges(edges)
    assert contracted.count() < len(clique + chain + pair)

    def comps(e):
        with Scope():
            c = connected_components(e, nodes)
            return {r["doc_id"]: r["component"] for r in c.collect()}

    assert comps(contracted) == comps(edges)
    # isolated node labels itself in both
    assert comps(contracted)[99] == 99


# ------------------------------------------- round-10 ANSI-guard fixes


def test_two_proportion_ztest_empty_arm_yields_nulls(spark):
    """An arm with zero members (n_b = 0) must yield NULL rate_b and
    NULL z — not an ANSI DIVIDE_BY_ZERO (ADVICE r9)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import two_proportion_ztest

    df = spark.createDataFrame(
        [("a", 1), ("a", 0)], "g STRING, s INT"
    )
    r = two_proportion_ztest(df, "g", "a", "s").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 0)
    assert r["rate_a"] == 0.5
    assert r["rate_b"] is None
    assert r["z"] is None


def test_cuped_constant_covariate_yields_null_theta(spark):
    """A covariate with zero variance carries no adjustment signal:
    theta / var_reduction_pct go NULL and the adjusted mean falls back
    to the raw mean — never a DIVIDE_BY_ZERO (ADVICE r9)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import cuped

    df = spark.createDataFrame(
        [("t", 5.0, 10.0), ("t", 5.0, 12.0),
         ("c", 5.0, 8.0), ("c", 5.0, 9.0)],
        "arm STRING, x DOUBLE, y DOUBLE",
    )
    out = {
        r["arm"]: r
        for r in cuped(
            df, metric_col="y", covariate_col="x", arm_col="arm"
        ).collect()
    }
    assert out["t"]["theta"] is None
    assert out["t"]["var_reduction_pct"] is None
    assert abs(out["t"]["mean_y_adj"] - out["t"]["mean_y"]) < 1e-9
    assert abs(out["c"]["mean_y_adj"] - out["c"]["mean_y"]) < 1e-9


def test_psi_drift_missing_base_split_no_crash(spark):
    """A base split value matching no rows (renamed label) must not
    DIVIDE_BY_ZERO under ANSI: all n_base land at 0 (ADVICE r9)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.stats import psi_drift

    df = spark.createDataFrame(
        [("new", 1.0), ("new", 2.0), ("new", 3.0)],
        "period STRING, v DOUBLE",
    )
    rows = psi_drift(
        df, value_col="v", split_col="period",
        base_value="old", cmp_value="new", bins=2,
    ).collect()
    assert sum(r["n_base"] for r in rows) == 0
    assert sum(r["n_cmp"] for r in rows) == 3


def test_term_keyness_one_empty_group(spark):
    """When one group contributes zero tokens, every surviving term is
    overrepresented in the other group — no rate division crash
    (ADVICE r9)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import term_keyness

    df = spark.createDataFrame(
        [("a", ""), ("b", "spark spark catalyst")],
        "g STRING, text STRING",
    )
    rows = term_keyness(
        df, "g", "a", "b", text_col="text", min_count=1, top_k=10
    ).collect()
    assert rows, "terms from the non-empty group must survive"
    assert all(r["overrep"] == "b" for r in rows)
    assert all(r["count_a"] == 0 for r in rows)


def test_pairs_within_radius_wraps_antimeridian(spark):
    """Two points straddling ±180° longitude (~78 km apart at lat 45)
    must pair up — the lon cell index wraps modulo the globe
    (ADVICE r9)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import pairs_within_radius

    df = spark.createDataFrame(
        [(1, 45.0, 179.8), (2, 45.0, -179.7), (3, 45.0, 150.0)],
        "id LONG, lat DOUBLE, lon DOUBLE",
    )
    rows = pairs_within_radius(
        df, radius_km=100.0, cell_deg=2.0, max_abs_lat=50.0
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    # haversine at lat 45 over 0.5 deg lon: ~39.3 km
    assert 35.0 < rows[0]["distance_km"] < 45.0


def test_nearest_within_radius_wraps_antimeridian(spark):
    """nearest_within_radius finds a right point across the
    antimeridian seam (ADVICE r9)."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import nearest_within_radius

    left = spark.createDataFrame(
        [(1, 10.0, 179.9)], "lid LONG, lat DOUBLE, lon DOUBLE"
    )
    right = spark.createDataFrame(
        [(7, 10.0, -179.9), (8, 10.0, 170.0)],
        "rid LONG, lat DOUBLE, lon DOUBLE",
    )
    out = nearest_within_radius(
        left, right, radius_km=100.0, cell_deg=1.0,
        left_id="lid", right_id="rid", max_abs_lat=20.0,
    ).collect()
    assert len(out) == 1
    assert out[0]["nearest_rid"] == 7


def test_lon_cell_count_rejects_non_divisor(spark):
    """cell_deg that does not divide 360 evenly is rejected up front
    (a seam cell of odd width would silently drop neighbor pairs)."""
    import pytest

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.geo import nearest_within_radius

    df = spark.createDataFrame([(1, 0.0, 0.0)], "id LONG, lat DOUBLE, lon DOUBLE")
    with pytest.raises(ValueError, match="divide 360"):
        nearest_within_radius(df, df, radius_km=10.0, cell_deg=0.7)
