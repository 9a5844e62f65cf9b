from __future__ import annotations

from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import sampling


def _docs(spark, n=400):
    return spark.createDataFrame(
        [(i, "en" if i % 4 else "es", 10 + i % 50) for i in range(n)],
        "doc_id LONG, lang STRING, tokens LONG",
    )


def test_stable_sample_deterministic_subset(spark):
    d = _docs(spark)
    a = {r["doc_id"] for r in sampling.stable_sample(d, 0.3).collect()}
    b = {r["doc_id"] for r in sampling.stable_sample(d, 0.3).collect()}
    assert a == b  # reproducible, no RNG state
    bigger = {r["doc_id"] for r in sampling.stable_sample(d, 0.6).collect()}
    assert a <= bigger  # gates nest: raising the fraction only adds rows
    assert 0.15 <= len(a) / 400 <= 0.45  # near the target rate
    # different salt -> a decorrelated sample
    c = {r["doc_id"] for r in sampling.stable_sample(d, 0.3, salt=99).collect()}
    assert c != a


def test_stable_sample_fast_path_matches_shape(spark):
    d = _docs(spark)
    fast = sampling.stable_sample(d, 0.3, portable=False)
    n = fast.count()
    assert 0.15 * 400 <= n <= 0.45 * 400
    assert fast.count() == n  # deterministic too


def test_stratified_sample_respects_per_stratum_rates(spark):
    d = _docs(spark)  # 300 en / 100 es
    out = sampling.stratified_sample(
        d, {"en": 0.5, "es": 0.0}, strata_col="lang"
    )
    by_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert "es" not in by_lang  # 0% stratum fully dropped
    assert 0.3 * 300 <= by_lang["en"] <= 0.7 * 300
    # unlisted strata use default_fraction (0.0 here -> only en survives)
    assert set(by_lang) == {"en"}


def test_pack_sequences_contract(spark):
    d = _docs(spark)
    packed = sampling.pack_sequences(
        d.withColumn("shard", F.pmod("doc_id", F.lit(4))),
        token_col="tokens",
        budget=100,
        shard_col="shard",
    ).collect()
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        offset = 0
        for r in rows:
            # offsets are the exact concatenation layout, in order
            assert r["pack_offset"] == offset
            assert r["pack_id"] == offset // 100
            assert r["pack_pos"] == offset % 100
            offset += r["tokens"]


def test_repeated_ngram_ratio_signals(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),     # maximal repetition
            (2, "one two three four five six seven"), # no repetition
            (3, "a b"),                               # shorter than n
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in text.repeated_ngram_ratio(docs, n=3).collect()}
    assert out[1]["rep_3gram_ratio"] == 0.75  # 4 grams, 1 distinct
    assert out[2]["rep_3gram_ratio"] == 0.0
    assert out[3]["rep_3gram_ratio"] == 0.0  # gated, not NaN


def test_contamination_flags(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import text

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different piece of writing here today"),
            (3, "quick brown fox jumps over"),  # overlaps eval gram
        ],
        "doc_id LONG, text STRING",
    )
    eval_set = spark.createDataFrame(
        [(100, "the quick brown fox is a benchmark sentence")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r["contaminated"]
           for r in text.contamination_flags(corpus, eval_set, k=8).collect()}
    assert out[1] is True and out[3] is True
    assert out[2] is False
    # the plan must broadcast the eval grams, never shuffle corpus text
    plan = text.contamination_flags(corpus, eval_set, k=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_pack_sequences_rejects_bad_budget(spark):
    import pytest

    with pytest.raises(ValueError):
        sampling.pack_sequences(_docs(spark), "tokens", 0, "lang")
    with pytest.raises(ValueError):
        sampling.stable_sample(_docs(spark), 1.5)


def test_target_mix_rates_and_determinism(spark):
    """rate_g = min(1, w_g*N/n_g): over-represented groups thin toward
    the target share, at-or-under groups pass whole (never replicated),
    unlisted groups drop, and the hash gate keeps identical rows on
    re-run."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import target_mix

    rows = (
        [(i, "big") for i in range(800)]
        + [(i + 800, "small") for i in range(100)]
        + [(i + 900, "drop") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = target_mix(
        df, "lang", {"big": 0.5, "small": 0.5}, key_col="doc_id", salt=3
    )
    got = out.select("doc_id", "lang", "__rate").collect()
    by_lang = {}
    rates = {}
    for r in got:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
        rates[r["lang"]] = r["__rate"]
    assert set(by_lang) == {"big", "small"}          # unlisted dropped
    assert rates["small"] == 1.0                     # under target: capped, kept whole
    assert len(by_lang["small"]) == 100
    assert abs(rates["big"] - 0.5 * 1000 / 800) < 1e-12
    # thinned roughly to rate (hash gate is uniform-ish, not exact)
    assert 0.45 * 800 < len(by_lang["big"]) < 0.80 * 800
    again = {
        r["doc_id"]
        for r in target_mix(
            df, "lang", {"big": 0.5, "small": 0.5}, key_col="doc_id", salt=3
        ).collect()
    }
    assert again == by_lang["big"] | by_lang["small"]  # stable re-run


def test_doc_chunks_boundaries(spark, tmp_path):
    """Chunk-count arithmetic at the boundaries: exactly one window,
    one-past-a-window (ragged tail), shorter than a window, and empty
    text (still one zero-length chunk, so no document vanishes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries import curation as q

    docs = {
        1: " ".join(f"w{i}" for i in range(64)),    # exactly one window
        2: " ".join(f"w{i}" for i in range(65)),    # 64 + ragged tail of 17
        3: " ".join(f"w{i}" for i in range(10)),    # sub-window doc
        4: "",                                       # empty
        5: " ".join(f"w{i}" for i in range(160)),   # 3 chunks: 0,48,96
    }
    tbl = pa.table(
        {
            "doc_id": list(docs),
            "text": list(docs.values()),
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [len(v) for v in docs.values()],
        }
    )
    d = str(tmp_path / "fixture")
    import os

    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))

    rows = q.q_doc_chunks(spark, d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_len"] == 64
    two = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [r["chunk_len"] for r in two] == [64, 17]
    assert two[1]["chunk_start"] == 48
    assert two[1]["chunk_text"].startswith("w48 ")
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_len"] == 10
    assert len(by_doc[4]) == 1 and by_doc[4][0]["chunk_len"] == 0
    assert [r["chunk_start"] for r in sorted(by_doc[5], key=lambda r: r["chunk_id"])] == [0, 48, 96]


def test_dsir_score_prefers_target_like_docs(spark):
    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import dsir_score

    # target domain speaks "alpha beta"; raw background speaks "x y z"
    rows = [
        (1, "alpha beta alpha beta", "tgt"),
        (2, "alpha beta beta alpha", "tgt"),
        (3, "x y z x y z", "raw"),
        (4, "x z y x z y", "raw"),
        (5, "alpha beta alpha beta", "raw"),  # raw doc that LOOKS target
        (6, "x y z q q q", "raw"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, dom STRING")
    out = dsir_score(df, F.col("dom") == F.lit("tgt")).collect()
    by_id = {r["doc_id"]: r for r in out}
    # every doc labeled, token counts exact
    assert sorted(by_id) == [1, 2, 3, 4, 5, 6]
    assert by_id[1]["n_tokens"] == 4 and by_id[3]["n_tokens"] == 6
    # target-vocabulary docs outscore background docs — including the
    # raw doc whose TEXT matches the target domain (feature-space
    # scoring, not label lookup)
    assert by_id[5]["dsir_score"] > by_id[3]["dsir_score"]
    for t in (1, 2, 5):
        for r in (3, 4, 6):
            assert by_id[t]["dsir_score"] > by_id[r]["dsir_score"]
    # docs with identical bags of words score identically
    assert by_id[1]["dsir_score"] == by_id[2]["dsir_score"] == by_id[5]["dsir_score"]


def test_hash_split_leakage_safety_and_determinism(spark):
    from pyspark.sql import functions as F

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import hash_split

    rows = [(i, i // 3) for i in range(300)]  # 3-doc near-dup clusters
    df = spark.createDataFrame(rows, "doc_id LONG, component LONG")
    out = hash_split(df, "component", splits=(("train", 90), ("val", 5), ("test", 5)))
    got = out.collect()
    # every member of a cluster lands in the same split — no leakage
    by_comp = {}
    for r in got:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())
    # all three splits materialize and train dominates
    counts = {s: 0 for s in ("train", "val", "test")}
    for r in got:
        counts[r["split"]] += 1
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert counts["val"] > 0 and counts["test"] > 0
    # deterministic across invocations
    again = {r["doc_id"]: r["split"] for r in hash_split(
        df, "component", splits=(("train", 90), ("val", 5), ("test", 5))).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in got)


def test_cap_per_domain_quota_and_stability(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import cap_per_domain

    rows = [(i, f"d{i % 3}") for i in range(60)]  # 3 domains x 20 docs
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = cap_per_domain(df, cap=7).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r)
    assert set(per) == {"d0", "d1", "d2"}
    for members in per.values():
        assert len(members) == 7
        assert sorted(r["domain_rank"] for r in members) == list(range(1, 8))
    # survivors are hash-chosen, not the first rows of each domain
    d0_ids = sorted(r["doc_id"] for r in per["d0"])
    assert d0_ids != [0, 3, 6, 9, 12, 15, 18]
    # a cap above the domain size keeps everything
    assert cap_per_domain(df, cap=100).count() == 60


def test_token_budget_epochs_cap_and_share(spark):
    """Equal budget shares; small domains capped at max_epochs; large
    domains get fractional epochs."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import token_budget_epochs

    df = spark.createDataFrame(
        [("big", 10_000), ("big", 10_000), ("tiny", 50)],
        "source STRING, n_tok LONG",
    )
    out = {r["source"]: r for r in
           token_budget_epochs(df, "n_tok", budget=10_000, max_epochs=4.0).collect()}
    # two domains -> 5000 tokens each
    assert out["big"]["target_tokens"] == 5000.0
    assert out["big"]["epochs"] == 0.25          # 5000 / 20000
    assert out["big"]["planned_tokens"] == 5000.0
    assert out["tiny"]["epochs"] == 4.0          # capped (uncapped would be 100x)
    assert out["tiny"]["planned_tokens"] == 200.0


def test_materialize_epochs_expansion(spark):
    """Executing an epoch plan: floor(epochs) full passes for every
    row, fractional pass deterministic and ~fraction-sized; integer
    epochs yield exactly that many passes; output is reproducible."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.sampling import materialize_epochs

    df = spark.createDataFrame(
        [(i, "a") for i in range(200)] + [(1000 + i, "b") for i in range(10)],
        "doc_id LONG, source STRING",
    )
    plan = spark.createDataFrame(
        [("a", 2.5), ("b", 3.0)], "source STRING, epochs DOUBLE"
    )
    out = materialize_epochs(df, plan).groupBy("doc_id").count()
    counts = {r["doc_id"]: r["count"] for r in out.collect()}
    a_counts = [counts[i] for i in range(200)]
    assert set(a_counts) <= {2, 3}, "2.5 epochs -> 2 or 3 passes per doc"
    third = sum(1 for c in a_counts if c == 3)
    assert 60 <= third <= 140, f"fractional pass should keep ~50%, got {third}/200"
    assert all(counts[1000 + i] == 3 for i in range(10)), "3.0 epochs exact"
    again = materialize_epochs(df, plan).groupBy("doc_id").count()
    assert {r["doc_id"]: r["count"] for r in again.collect()} == counts


def test_temperature_mix_schedule(spark):
    """T=1 keeps natural proportions (every group thinned to the
    budget fraction); T->inf flattens toward uniform target shares
    (small groups pass whole, the head group absorbs the cut); the
    keep_frac audit column carries the applied rate."""
    df = spark.createDataFrame(
        [(i, "big") for i in range(90)] + [(1000 + i, "small") for i in range(10)],
        "doc_id LONG, source STRING",
    )
    # T=1: w_g = n_g -> target share == natural share -> rate == budget
    t1 = sampling.temperature_mix(df, "source", temperature=1.0, budget_fraction=0.5)
    fr = {r["source"]: r["keep_frac"] for r in t1.select("source", "keep_frac").distinct().collect()}
    assert fr == {"big": 0.5, "small": 0.5}
    # T huge: target shares ~uniform (0.5 each of a 50-row budget):
    # small gets 25/10 -> capped at 1.0; big gets 25/90
    tinf = sampling.temperature_mix(df, "source", temperature=1e6, budget_fraction=0.5)
    fr = {r["source"]: r["keep_frac"] for r in tinf.select("source", "keep_frac").distinct().collect()}
    assert fr["small"] == 1.0
    assert abs(fr["big"] - 25 / 90) < 1e-4
    # capped group passes whole; determinism across runs
    assert tinf.filter(F.col("source") == "small").count() == 10
    ids1 = sorted(r["doc_id"] for r in tinf.collect())
    ids2 = sorted(r["doc_id"] for r in sampling.temperature_mix(
        df, "source", temperature=1e6, budget_fraction=0.5).collect())
    assert ids1 == ids2


def test_temperature_mix_null_group_excluded(spark):
    """NULL group rows are excluded BEFORE the counts aggregate: they
    neither appear in the output nor inflate other groups' budget
    shares (N matches the eligible population)."""
    base = [(i, "big") for i in range(90)] + [
        (1000 + i, "small") for i in range(10)
    ]
    clean = spark.createDataFrame(base, "doc_id LONG, source STRING")
    with_nulls = spark.createDataFrame(
        base + [(5000 + i, None) for i in range(50)],
        "doc_id LONG, source STRING",
    )
    a = sampling.temperature_mix(clean, "source", temperature=1.0,
                                 budget_fraction=0.5)
    b = sampling.temperature_mix(with_nulls, "source", temperature=1.0,
                                 budget_fraction=0.5)
    assert b.where(F.col("source").isNull()).count() == 0
    ra = {(r["doc_id"], r["keep_frac"]) for r in a.collect()}
    rb = {(r["doc_id"], r["keep_frac"]) for r in b.collect()}
    assert ra == rb  # null rows changed neither rates nor survivors
