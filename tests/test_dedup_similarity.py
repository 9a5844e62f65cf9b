from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import (
    dedup,
    multimodal,
    similarity,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (3, "The  quick brown fox jumps over the lazy dog"),  # ws/case dup
            (4, "a completely different document about spark engines"),
            (5, "the quick brown fox leaps over the lazy dog"),  # near dup
        ],
        "doc_id LONG, text STRING",
    )


def test_exact_dedup_normalization(spark):
    out = dedup.exact_dedup(_docs(spark))
    # 1,2,3 collapse (case/whitespace-insensitive); canonical = min id
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 4, 5]


def test_minhash_lsh_finds_near_dup(spark):
    sigs = dedup.minhash_signatures(_docs(spark))
    pairs = dedup.lsh_candidate_pairs(sigs)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got  # exact dups always collide
    assert (1, 5) in got  # near dup shares bands
    assert (1, 4) not in got  # unrelated docs don't


def test_minhash_fast_path_recovers_near_dups(spark):
    # portable=False (xxhash64) produces different signatures but must
    # still recover the planted near-dup pair through LSH banding
    docs = _docs(spark)
    sigs = dedup.minhash_signatures(docs, num_hashes=16, portable=False)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def test_jaccard_verify_filters_candidates(spark):
    docs = _docs(spark)
    sigs = dedup.minhash_signatures(docs)
    cands = dedup.lsh_candidate_pairs(sigs)
    verified = dedup.jaccard_verify_pairs(cands, docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 5) in got and got[(1, 5)] >= 0.5


def test_ngram_jaccard_direct_matches_verify(spark):
    docs = _docs(spark)
    direct = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in direct.collect()}
    assert got[(1, 2)] == 1.0
    assert got[(2, 3)] == 1.0


def test_simhash_near_dup_small_hamming(spark):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_docs(spark)).collect()}
    assert out[1] == out[2]  # identical docs -> identical fingerprint
    ham_near = bin(out[1] ^ out[5]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far  # near dup closer than unrelated doc


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_brute_force_topk_ordering(spark):
    corpus = _vecs(spark)
    probes = corpus.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = similarity.brute_force_topk(corpus, probes, k=3)
    ranked = [r["vec_id"] for r in out.orderBy(F.desc("cosine")).collect()]
    assert ranked == [1, 2, 3]  # self, near, orthogonal; opposite excluded by k


def test_embedding_near_dup_pairs_threshold(spark):
    pairs = dedup.embedding_near_dup_pairs(_vecs(spark), threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_embedding_near_dup_lsh_subset_and_recall(spark):
    # the LSH path returns a subset of the brute-force pairs (exact
    # cosine verify means precision is 1.0) with useful recall, and its
    # plan must contain no all-pairs theta join
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = dedup.embedding_near_dup_pairs(e, threshold=0.4)
    approx = dedup.embedding_near_dup_pairs_lsh(e, threshold=0.4, num_planes=6)
    ex = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    ap = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    assert ap <= ex  # never a false positive
    if ex:
        assert len(ap) / len(ex) >= 0.3  # worst-case (random) vectors
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # any BNLJ in this plan would be the id_a<id_b theta join
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_lsh_finds_true_near_dups(spark):
    # near-identical vectors (tiny angle) land in the same bucket with
    # overwhelming probability — the realistic near-dup regime
    pairs = dedup.embedding_near_dup_pairs_lsh(
        _vecs(spark), threshold=0.95, dim=4, num_planes=2
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_lsh_topk_recall_vs_bruteforce(spark, tmp_path):
    # on the real embeddings fixture: LSH top-10 must recall most of
    # the exact top-10 (same-bucket probes; 4 planes -> 16 buckets)
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.brute_force_topk(e, probes, k=10)
    approx = similarity.lsh_topk(e, probes, k=10)
    ex = {(r["probe_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["probe_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3  # LSH is approximate; buckets shrink recall
    # the probe itself is always in its own bucket
    assert all((p, p) in ap for p in range(3))


def test_multimodal_meta_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "héllo")], "doc_id LONG, text STRING"
    ).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    out = {r["doc_id"]: r for r in multimodal.extract_meta(df, "payload").collect()}
    assert out[1]["n_bytes"] == 5
    assert out[2]["n_bytes"] == 6  # é is 2 bytes in utf-8
    assert out[1]["channels"] == 3


def test_resize_and_frame_sample_plumbing(spark):
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [(1, "a" * 300), (2, "b" * 100)], "doc_id LONG, text STRING"
    ).select("doc_id", F2.encode("text", "utf-8").alias("payload"))
    resized = {r["doc_id"]: r for r in multimodal.resize_images(df, "payload").collect()}
    assert len(resized[1]["payload"]) == 224 * 224 // 64
    assert resized[1]["out_width"] == 224
    frames = multimodal.sample_frames(df, "payload", every_n_bytes=64, max_frames=8)
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 4  # 300 bytes // 64 = 4 frames
    assert len(by_doc[2]) == 1
    assert all(len(r["frame"]) <= 64 for r in rows)


def _gradient_bmp(width: int, height: int) -> tuple[bytes, list]:
    """A planted fixture image: deterministic per-pixel RGB gradient."""
    pixels = [
        [((x * 31) % 256, (y * 53) % 256, (x + y) % 256) for x in range(width)]
        for y in range(height)
    ]
    return multimodal.encode_bmp(pixels), pixels


def test_bmp_codec_roundtrip():
    payload, pixels = _gradient_bmp(7, 5)  # odd width exercises row padding
    img = multimodal.decode_bmp(payload)
    assert (img["width"], img["height"], img["channels"]) == (7, 5, 3)
    assert img["pixels"] == pixels
    with pytest.raises(ValueError):
        multimodal.decode_bmp(b"\x89PNG not a bmp")


def test_bmp_decode_rejects_corrupt_payloads():
    """Bounds checks fire BEFORE the pixel loop: truncated pixel data,
    implausible dimensions, and too-short headers raise ValueError
    (not IndexError mid-loop / unbounded allocation)."""
    payload, _ = _gradient_bmp(7, 5)
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_bmp(payload[: len(payload) // 2])
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_bmp(payload[:40])
    # hostile header: declared 65537x65537 dimensions on a tiny payload
    import struct as _struct

    hostile = bytearray(payload)
    _struct.pack_into("<ii", hostile, 18, 1 << 17, 1 << 17)
    with pytest.raises(ValueError, match="implausible"):
        multimodal.decode_bmp(bytes(hostile))


def test_extract_meta_null_on_corrupt_row(spark):
    """One corrupt payload in a corpus yields null metadata for that
    row (on_error='null', the default) instead of failing the task;
    on_error='raise' keeps strict behavior."""
    good, _ = _gradient_bmp(6, 4)
    bad = good[: len(good) // 2]
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad))],
        "doc_id LONG, payload BINARY",
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.extract_meta(df, "payload", decoder="bmp").collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (6, 4)
    assert out[2]["width"] is None and out[2]["height"] is None
    with pytest.raises(Exception):
        multimodal.extract_meta(
            df, "payload", decoder="bmp", on_error="raise"
        ).collect()


def test_extract_meta_real_bmp_decode(spark):
    """Task-6 end-to-end case: a REAL decode kernel (pure-Python BMP)
    through the same mapInPandas plumbing — true dimensions out of the
    payload bytes, not a byte-length fake."""
    p1, _ = _gradient_bmp(8, 5)
    p2, _ = _gradient_bmp(3, 9)
    df = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))], "doc_id LONG, payload BINARY"
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.extract_meta(df, "payload", decoder="bmp").collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (8, 5)
    assert (out[2]["width"], out[2]["height"]) == (3, 9)
    assert out[1]["n_bytes"] == len(p1)
    assert out[1]["channels"] == 3


def test_resize_images_real_bmp_kernel(spark):
    payload, pixels = _gradient_bmp(8, 6)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id LONG, payload BINARY"
    )
    row = multimodal.resize_images(
        df, "payload", target=(4, 3), kernel="bmp"
    ).collect()[0]
    assert (row["out_width"], row["out_height"]) == (4, 3)
    resized = multimodal.decode_bmp(bytes(row["payload"]))
    assert (resized["width"], resized["height"]) == (4, 3)
    # nearest-neighbor: output pixel (x, y) samples source (2x, 2y)
    for y in range(3):
        for x in range(4):
            assert resized["pixels"][y][x] == pixels[2 * y][2 * x]


def test_simhash_candidate_pairs_complete_vs_bruteforce(spark):
    """Pigeonhole guarantee: every pair within max_hamming must be
    found (no false negatives); false positives are filtered by the
    exact bit_count check."""
    fp = dedup.simhash(_docs(spark))
    found = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_candidate_pairs(fp, max_hamming=6).collect()
    }
    sims = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    brute = {
        (a, b): bin(sims[a] ^ sims[b]).count("1")
        for a in sims
        for b in sims
        if a < b and bin(sims[a] ^ sims[b]).count("1") <= 6
    }
    assert found == brute


def test_kmeans_step_monotone_improvement(spark):
    """Lloyd's algorithm property: re-assigning to refined centroids
    never increases total assignment cost.  Two steps from the
    deterministic seeds must not get worse (and the refined centroids
    must cover every seed bucket dimension)."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import (
        cosine_sim,
        kmeans_step,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    seeds = e.filter(F.col("vec_id") < 8)

    def cost(centroids_df):
        c = centroids_df.select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        scored = e.crossJoin(F.broadcast(c)).select(
            "vec_id", cosine_sim(F.col("embedding"), F.col("cvec")).alias("s")
        )
        best = scored.groupBy("vec_id").agg(F.max("s").alias("best"))
        return best.agg(F.sum("best")).collect()[0][0]

    refined_rows = kmeans_step(e, seeds).collect()
    by_bucket = {}
    for r in refined_rows:
        by_bucket.setdefault(r["ivf_bucket"], {})[r["pos"]] = r["c_mean"]
    dim = e.select(F.size("embedding")).first()[0]
    assert all(len(v) == dim for v in by_bucket.values())
    refined = spark.createDataFrame(
        [
            (cid, [float(v[p]) for p in range(dim)])
            for cid, v in by_bucket.items()
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    c0, c1 = cost(seeds), cost(refined)
    assert c1 >= c0 - 1e-6, f"refinement worsened assignment cost: {c0} -> {c1}"
    assert not math.isnan(c1)


def test_quantize_embeddings_error_bound(spark):
    """Symmetric int8 quantization invariants on synthetic vectors:
    q in [-127, 127], dequantization error <= scale/2 per element,
    and a zero vector quantizes to zeros with scale 0."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.001, 0.002, -0.003, 0.0015]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}

    for vid, vec in rows:
        r = got[vid]
        assert r["n_dims"] == 4
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        if all(x == 0.0 for x in vec):
            assert r["q_scale"] == 0.0 and r["q_sum"] == 0
            continue
        import math as m

        scale = max(abs(x) for x in vec) / 127.0
        qs = [m.floor(x / scale + 0.5) for x in vec]
        assert sum(qs) == r["q_sum"]
        assert max(abs(q * scale - x) for q, x in zip(qs, vec)) <= scale / 2 + 1e-9


def test_semantic_dedup_plants_and_properties(spark):
    # two well-separated cluster directions plus planted near-dups:
    # id 10 duplicates id 0 (same direction), id 11 duplicates id 1
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (11, [0.01, 0.99, 0.0, 0.0]),   # near-dup of 1
        (12, [0.7, 0.0, 0.71, 0.0]),    # same cluster as 0, not a dup
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    centroids = df.filter(F.col("vec_id") < 2)
    out = dedup.semantic_dedup(df, centroids, threshold=0.95).collect()
    by_id = {r["vec_id"]: r for r in out}
    # full-corpus labeling: every input appears exactly once
    assert sorted(by_id) == [0, 1, 10, 11, 12]
    # planted near-dups dropped, their lower-id originals kept
    assert by_id[0]["kept"] and not by_id[10]["kept"]
    assert by_id[1]["kept"] and not by_id[11]["kept"]
    # same-cluster but sub-threshold vector survives
    assert by_id[12]["kept"]
    # dup pairs land in the same cluster as their original
    assert by_id[10]["cluster"] == by_id[0]["cluster"]
    assert by_id[11]["cluster"] == by_id[1]["cluster"]
    # the lowest id of every cluster is always kept (chain-head rule)
    for cl in {r["cluster"] for r in out}:
        members = [r for r in out if r["cluster"] == cl]
        head = min(r["vec_id"] for r in members)
        assert by_id[head]["kept"]


def test_incremental_dedup_planted(spark):
    """New batch vs reference corpus: exact dup, near dup, and novel
    docs are labeled with the right status + min matching ref id, the
    reference is never relabeled, and exact wins over near."""
    ref = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy dog"),  # same content
            (5, "a completely different reference document about engines"),
        ],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [
            (100, "The  quick brown fox jumps over the lazy dog"),  # exact (norm)
            (101, "the quick brown fox leaps over the lazy dog"),  # near
            (102, "unrelated brand new content nothing like the corpus"),  # novel
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in dedup.incremental_dedup(new, ref, threshold=0.5).collect()
    }
    assert set(out) == {100, 101, 102}, "exactly the new batch is labeled"
    assert out[100] == ("exact_dup", 1), "min ref id among exact matches"
    assert out[101][0] == "near_dup" and out[101][1] in (1, 3)
    assert out[102] == ("novel", None)


def test_incremental_artifacts_reuse_across_increments(spark, tmp_path):
    """The amortized production mode: reference artifacts computed
    once, PERSISTED, and reused across two different increments must
    give the same labels as the recompute-everything convenience
    form."""
    ref = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (5, "a completely different reference document about engines"),
        ],
        "doc_id LONG, text STRING",
    )
    inc1 = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "unrelated brand new content nothing like the corpus")],
        "doc_id LONG, text STRING",
    )
    inc2 = spark.createDataFrame(
        [(200, "the quick brown fox leaps over the lazy dog")],
        "doc_id LONG, text STRING",
    )
    # persist the ref artifacts like a daily job would, reload, reuse
    arts = dedup.corpus_artifacts(ref)
    loaded = {}
    for name, df in arts.items():
        path = str(tmp_path / name)
        df.write.parquet(path)
        loaded[name] = spark.read.parquet(path)
    for inc in (inc1, inc2):
        direct = sorted(map(tuple, dedup.incremental_dedup(inc, ref).collect()))
        reused = sorted(
            map(tuple, dedup.incremental_dedup_against(inc, loaded).collect())
        )
        assert direct == reused


def test_fuzzy_blocking_recall_contract(spark):
    """Token blocking finds every pair whose edits stay within one
    token (one block key survives verbatim) — equal to the quadratic
    all-pairs form on such data — and the documented miss (edits in
    BOTH tokens) is demonstrated, not hidden."""
    from pyspark.sql import functions as F

    rows = [
        (1, "small ring"),
        (2, "small rings"),     # edit in token 2 -> shares "small"
        (3, "smal ring"),       # edit in token 1 -> shares "ring"
        (4, "red widget"),
        (5, "red widgets"),
        (6, "blue bolt"),
    ]
    df = spark.createDataFrame(rows, "id LONG, name STRING")
    blocked = {
        (r["id_a"], r["id_b"])
        for r in dedup.fuzzy_name_pairs(df, "id", "name", max_dist=2).collect()
    }
    a = df.select(F.col("id").alias("id_a"), F.col("name").alias("na"))
    b = df.select(F.col("id").alias("id_b"), F.col("name").alias("nb"))
    quad = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter((F.col("id_a") < F.col("id_b")) & (F.levenshtein("na", "nb") <= 2))
        .collect()
    }
    # (2,3) = "small rings" vs "smal ring": distance 2 but the edits
    # hit BOTH tokens, so it is exactly the documented blocking miss
    assert blocked == {(1, 2), (1, 3), (4, 5)}
    assert quad == blocked | {(2, 3)}
    # the contract's documented miss: edits in BOTH tokens evade blocks
    miss = spark.createDataFrame(
        [(10, "small ring"), (11, "smal rings")], "id LONG, name STRING"
    )
    assert dedup.fuzzy_name_pairs(miss, "id", "name", max_dist=2).count() == 0


def test_fuzzy_value_collapse_equals_id_level_on_duplicate_heavy(spark):
    """The value-collapsed form (verify on distinct names, expand back
    through the id→name map) must emit EXACTLY the id-level pair set:
    same-name groups expand through the reflexive dist-0 value pair,
    cross-value pairs orient by id, NULL names never pair."""
    from pyspark.sql import functions as F

    rows = [
        (1, "acme corp"),
        (2, "acme corp"),      # exact dup of 1
        (3, "acme corp"),      # exact dup of 1, 2
        (4, "acme  CORP "),    # normalizes to the same value
        (5, "acme cort"),      # 1 edit
        (6, "zeta inc"),
        (7, "zeta inc"),
        (8, None),             # never pairs
        (9, None),
    ]
    df = spark.createDataFrame(rows, "id LONG, name STRING")
    got = sorted(
        map(tuple, dedup.fuzzy_name_pairs(df, "id", "name", max_dist=2).collect())
    )
    a = df.select(
        F.col("id").alias("id_a"),
        F.regexp_replace(F.trim(F.lower("name")), r"\s+", " ").alias("na"),
    )
    b = df.select(
        F.col("id").alias("id_b"),
        F.regexp_replace(F.trim(F.lower("name")), r"\s+", " ").alias("nb"),
    )
    # quadratic oracle restricted to the blocking contract (shared
    # first/last token) — the semantics fuzzy_name_pairs pins
    tok = lambda c, i: F.element_at(F.split(F.col(c), " "), i)  # noqa: E731
    want = sorted(
        (r["id_a"], r["id_b"], r["d"])
        for r in a.crossJoin(b)
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                (tok("na", 1) == tok("nb", 1))
                | (tok("na", 1) == tok("nb", -1))
                | (tok("na", -1) == tok("nb", 1))
                | (tok("na", -1) == tok("nb", -1))
            )
        )
        .withColumn("d", F.levenshtein("na", "nb"))
        .filter(F.col("d") <= 2)
        .select("id_a", "id_b", "d")
        .collect()
    )
    assert got == want
    # sanity on the fixture: the same-name clique and the near-pair
    assert (1, 2, 0) in got and (1, 5, 1) in got and (6, 7, 0) in got
    assert not any(8 in p[:2] or 9 in p[:2] for p in got)


def _tone_wav(n_frames: int = 400, rate: int = 8000, channels: int = 2):
    """Planted fixture audio: deterministic two-channel sawtooth."""
    samples = [
        tuple(((i * 257 + c * 131) % 4096) - 2048 for c in range(channels))
        for i in range(n_frames)
    ]
    return multimodal.encode_wav(samples, sample_rate=rate, bits=16), samples


def test_wav_codec_header_truth():
    """The pure-Python WAV parser recovers the real sample rate,
    channel count, bit depth, PCM frame count, and duration from the
    planted fixture — the audio twin of the BMP header-truth test."""
    payload, samples = _tone_wav(n_frames=400, rate=8000, channels=2)
    wav = multimodal.decode_wav(payload)
    assert wav["sample_rate"] == 8000
    assert wav["channels"] == 2
    assert wav["bits_per_sample"] == 16
    assert wav["n_samples"] == 400
    assert wav["duration_ms"] == 50  # 400 frames / 8kHz
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_wav(b"ID3\x03 not a wav" * 10)


def test_wav_decode_rejects_corrupt_payloads():
    payload, _ = _tone_wav()
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_wav(payload[: len(payload) // 2])
    with pytest.raises(ValueError):
        multimodal.decode_wav(payload[:20])
    # float-format WAV (format tag 3) is out of codec scope: raise,
    # don't misparse
    import struct as _struct

    hostile = bytearray(payload)
    _struct.pack_into("<H", hostile, 20, 3)
    with pytest.raises(ValueError, match="unsupported"):
        multimodal.decode_wav(bytes(hostile))


def test_extract_meta_wav_decoder(spark):
    """decoder='wav' through the real mapInPandas plumbing: true audio
    metadata out, corrupt row nulled (default on_error)."""
    good, _ = _tone_wav(n_frames=160, rate=16000, channels=1)
    bad = good[: len(good) // 3]
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad))],
        "doc_id LONG, payload BINARY",
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.extract_meta(df, "payload", decoder="wav").collect()
    }
    assert out[1]["sample_rate"] == 16000
    assert out[1]["channels"] == 1
    assert out[1]["n_samples"] == 160
    assert out[1]["duration_ms"] == 10
    assert out[2]["sample_rate"] is None


def test_sample_frames_wav_kernel(spark):
    """kernel='wav': evenly-spaced PCM frames with TRUE frame indices
    — each emitted frame's bytes must equal the pure-Python slice of
    the planted samples at that index, and frame_idx/sample_rate must
    recover the sample's timestamp."""
    payload, samples = _tone_wav(n_frames=100, rate=8000, channels=2)
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id LONG, payload BINARY"
    )
    rows = multimodal.sample_frames(
        df, "payload", max_frames=4, kernel="wav"
    ).collect()
    assert [r["frame_idx"] for r in rows] == [0, 25, 50, 75]
    for r in rows:
        i = r["frame_idx"]
        expect = b"".join(
            int(v).to_bytes(2, "little", signed=True) for v in samples[i]
        )
        assert bytes(r["frame"]) == expect


def test_hard_negative_mining_excludes_same_label(spark):
    """Planted 2-D vectors: the nearest same-label vector must NOT
    appear; the k hardest different-label vectors come back in cosine
    order with rank 1 = most similar."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0),     # probe
        (1, [0.999, 0.04], 0),  # same label: nearest but excluded
        (2, [0.95, 0.31], 1),   # hardest negative
        (3, [0.7, 0.71], 1),
        (4, [0.0, 1.0], 2),     # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    probes = df.filter("vec_id = 0").selectExpr(
        "vec_id AS probe_id", "embedding", "label"
    )
    out = similarity.hard_negative_mining(df, probes, k=2).collect()
    assert [(r["vec_id"], r["rank"]) for r in out] == [(2, 1), (3, 2)]
    assert out[0]["cosine"] > out[1]["cosine"]


def test_retrieval_metrics_hand_computed(spark):
    """MRR/nDCG against hand-computed values: query A's relevant docs
    at ranks 1 and 3 (of 2 relevant) -> MRR 1.0, nDCG =
    (1/log2(2) + 1/log2(4)) / (1/log2(2) + 1/log2(3)); query B's only
    relevant doc at rank 2 -> MRR 0.5, nDCG = (1/log2(3)) / 1."""
    import math

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import similarity

    ranked = spark.createDataFrame(
        [("A", 10, 1), ("A", 11, 2), ("A", 12, 3),
         ("B", 10, 1), ("B", 11, 2), ("B", 12, 3)],
        "probe_id STRING, vec_id LONG, rank INT",
    )
    relevant = spark.createDataFrame(
        [("A", 10), ("A", 12), ("B", 11)],
        "probe_id STRING, vec_id LONG",
    )
    out = {
        r["probe_id"]: r
        for r in similarity.retrieval_metrics(ranked, relevant, k=3).collect()
    }
    assert out["A"]["mrr"] == 1.0
    expect_a = (1 / math.log2(2) + 1 / math.log2(4)) / (
        1 / math.log2(2) + 1 / math.log2(3)
    )
    assert abs(out["A"]["ndcg"] - expect_a) < 1e-6
    assert out["A"]["n_relevant"] == 2
    assert out["B"]["mrr"] == 0.5
    expect_b = (1 / math.log2(3)) / (1 / math.log2(2))
    assert abs(out["B"]["ndcg"] - expect_b) < 1e-6


def test_retrieval_metrics_drops_truthless_queries(spark):
    """A query with no relevant docs anywhere has undefined nDCG: it
    must be absent from the output, not emitted as zeros."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import similarity

    ranked = spark.createDataFrame(
        [("A", 1, 1), ("C", 2, 1)], "probe_id STRING, vec_id LONG, rank INT"
    )
    relevant = spark.createDataFrame([("A", 1)], "probe_id STRING, vec_id LONG")
    out = similarity.retrieval_metrics(ranked, relevant, k=3).collect()
    assert {r["probe_id"] for r in out} == {"A"}


def test_incremental_dedup_verify_join_gate(spark, monkeypatch):
    """The verify join must BROADCAST the ref shingle table at or
    below the row gate and SHUFFLE_HASH above it — the gate is moved
    around the fixture's 40 ref rows so the plan shape, not the data
    size, is what's asserted."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import dedup

    ref = spark.createDataFrame(
        [(i, f"reference document number {i} about spark engines")
         for i in range(40)],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [(100 + i, f"reference document number {i} about spark engines")
         for i in range(10)],
        "doc_id LONG, text STRING",
    )
    arts = dedup.corpus_artifacts(ref)

    monkeypatch.setattr(dedup, "_SHINGLE_BROADCAST_ROWS", 40)
    small = dedup.incremental_dedup_against(new, arts)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small

    monkeypatch.setattr(dedup, "_SHINGLE_BROADCAST_ROWS", 39)
    big = dedup.incremental_dedup_against(new, arts)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_big

    # identical answers either side of the gate
    assert sorted(map(tuple, small.collect())) == sorted(
        map(tuple, big.collect())
    )
