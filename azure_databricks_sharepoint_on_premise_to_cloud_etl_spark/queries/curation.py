"""Query catalog — dedup, similarity, sampling, packing, SCD/temporal curation.

Each query is registered with its DuckDB oracle by one
``catalog.register`` call below its definition.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scope import checkpoint, concurrently, persist, release
from ..sources.registry import load_table, rebalance

from .catalog import register
from .core import (
    ORACLE_ACTUAL_PLAN,
    ORACLE_DROP_NA,
    ORACLE_EARLIEST,
    ORACLE_PACK_NATIVE,
    ORACLE_RUNNING_SUM,
    ORACLE_STABLE_SAMPLE_FAST,
    ORACLE_STRATIFIED_FAST,
    ORACLE_STREAM_DEDUP,
    ORACLE_STREAM_ENRICH,
    ORACLE_TIME_REANCHOR,
    _CONTAM_EVAL_IDS,
    _DUCK_COSINE,
    _DUCK_NORM,
    _MINHASH_BANDS,
    _MINHASH_K,
    _MINHASH_N,
    _components_oracle,
    _contamination_oracle,
    _duck_hash,
    _ivf_oracle,
    _lsh_oracle,
    _minhash_oracle,
    _quality_oracle,
    _simhash_oracle,
    _stream_events,
    _stream_plan_dedup,
    _stream_plan_enrich,
    _stream_plan_sliding,
    _stream_plan_tumbling,
    dedup,
    q_actual_plan_label,
    q_cosine_topk_ivf,
    q_cosine_topk_lsh,
    q_drop_na,
    q_earliest_per_group,
    q_minhash_lsh_pairs_fast,
    q_pack_sequences_native,
    q_running_sum,
    q_simhash,
    q_stable_sample_fast,
    q_stratified_sample_fast,
    q_streaming_dedup,
    q_streaming_enrich,
    q_streaming_sliding,
    q_streaming_tumbling,
    q_time_reanchor,
    sampling,
    similarity,
    text,
    windows,
)

# ---------------------------------------------------------------------------
# AUX queries: oracle-verified forms that do NOT occupy one of the
# driver's 50 correctness slots.  Their coverage is folded into a
# driver query (see each note) or they are bench-only variants;
# tools/aux_correctness.py and tests/test_aux_queries.py run every AUX
# query against its DuckDB oracle with the same digest the driver uses,
# so they keep a hard correctness signal.
# ---------------------------------------------------------------------------

# streaming_tumbling emits the pre-reanchor tumbling schema; keep its
# oracle in the original 4-column form
ORACLE_TUMBLING_BASE = """
SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""

def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring (perplexity proxy): fit the
    corpus unigram distribution, score each document by its mean token
    log-probability.  Low scores = rare-token-heavy documents (OCR
    garbage, boilerplate codes) — the classic cheap LM-quality filter
    a training pipeline runs before an expensive model-based one.

    Scale shape: the raw token stream collapses to per-doc term
    frequencies FIRST (tf carries one row per distinct term per doc —
    typically 3-10x smaller than the stream), so the vocabulary
    groupBy, the broadcast join-back, and the per-doc aggregation all
    shuffle tf-sized data, never raw tokens; the score is the
    tf-weighted mean (identical to the per-token mean).  Vocabulary
    frequencies broadcast; the total-token count rides as a one-row
    broadcast.  At production scale tf is the natural materialization
    point (write once, feed lm-score + tfidf + vocab stats); here it
    is recomputed — two narrow corpus scans, no corpus-sized shuffle."""
    from ..functions import word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    tf = (
        d.withColumn("__toks", word_tokens("text"))
        .select("doc_id", F.explode("__toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    freqs = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = freqs.agg(F.sum("cnt").alias("total"))
    return (
        tf.join(F.broadcast(freqs), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("total")))
                / F.sum("tf"),
                6,
            ).alias("lm_score"),
        )
    )


ORACLE_LM_SCORE = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
),
freqs AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
total AS (SELECT sum(cnt) AS total FROM freqs)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(ln(CAST(f.cnt AS DOUBLE) / total.total)), 6) AS lm_score
FROM toks t JOIN freqs f USING (term), total
GROUP BY t.doc_id
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffling for training order: every doc
    gets a pseudorandom-but-reproducible position from a salted md5 of
    its id — re-running the pipeline yields the identical epoch order
    (no ``rand()``, which would break exactly-once reprocessing).

    Scale shape: the hash is narrow; position is a row_number within
    one of 256 hash-prefix shards (partitioned window — a single
    global ORDER BY would serialize the corpus through one task).
    Training readers consume shards in (shard, shuffle_pos) order;
    shard boundaries are also natural file-split boundaries at 100 TB."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0"))).alias(
            "skey"
        ),
    ).withColumn("shard", F.substring("skey", 1, 2))
    w = Window.partitionBy("shard").orderBy("skey")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("shuffle_pos"),
    )


ORACLE_CORPUS_SHUFFLE = """
WITH keyed AS (
    SELECT doc_id, md5(doc_id::VARCHAR || ':epoch0') AS skey
    FROM documents
)
SELECT doc_id, substr(skey, 1, 2) AS shard,
       CAST(row_number() OVER (PARTITION BY substr(skey, 1, 2)
                               ORDER BY skey) AS INT) AS shuffle_pos
FROM keyed
"""


def q_corpus_shuffle_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_corpus_shuffle``'s production fast path: the shuffle key is
    engine-native ``xxhash64`` instead of md5 (~3x cheaper per row at
    corpus scale), sharded by pmod-256 of the key.  Hash-verified in
    AUX against a DuckDB oracle that implements Spark's xxhash64
    chaining exactly (tools/xxh64_oracle.py) — the same
    promote-then-verify pattern as ``minhash_lsh_pairs_fast``.
    ``doc_id`` tiebreaks the in-shard order (a 64-bit hash, unlike the
    md5 hex string, is short enough to collide in principle)."""
    from pyspark.sql import Window

    from ..functions import fast_hash64

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        fast_hash64(F.col("doc_id").cast("string")).alias("skey"),
    ).withColumn("shard", F.pmod(F.col("skey"), F.lit(256)).cast("int"))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("shuffle_pos"),
    )


# AUX-only (the spark_xxhash64_seeded UDF exists on AUX connections)
ORACLE_CORPUS_SHUFFLE_FAST = """
WITH keyed AS (
    SELECT doc_id,
           spark_xxhash64_seeded(doc_id::VARCHAR, 0) AS skey
    FROM documents
),
sharded AS (
    SELECT doc_id, skey,
           CAST(((skey % 256) + 256) % 256 AS INT) AS shard
    FROM keyed
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY skey, doc_id) AS INT)
           AS shuffle_pos
FROM sharded
"""


def q_hash_split_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sampling.hash_split``'s xxhash64 fast path over the raw
    document ids (90/5/5): the deterministic-split gate a daily corpus
    re-run relies on, at production hash cost.  Hash-verified in AUX
    via the xxhash64-chaining oracle."""
    d = load_table(spark, sf_dir, "documents")
    return sampling.hash_split(
        d.select("doc_id"),
        "doc_id",
        splits=(("train", 90), ("val", 5), ("test", 5)),
        portable=False,
    )


ORACLE_HASH_SPLIT_FAST = """
WITH slotted AS (
    SELECT doc_id,
           ((spark_xxhash64_seeded(doc_id::VARCHAR, 0) % 100) + 100)
               % 100 AS slot
    FROM documents
)
SELECT doc_id,
       CASE WHEN slot < 90 THEN 'train'
            WHEN slot < 95 THEN 'val'
            ELSE 'test' END AS split
FROM slotted
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design statistic: what fraction of all corpus tokens
    the top-K most frequent types cover (K = 10/100/1000), plus vocab
    size and total token count.  High top-1k coverage means a small
    vocab suffices; low means long-tail-heavy text.

    Scale shape: the corpus reduces to a VOCABULARY-sized frequency
    table before any ranking; the rank window is global but runs over
    vocab rows (~1e5-1e7 at 100 TB corpus scale — one executor's
    work), never over the corpus.  Output is a single row via
    conditional aggregation — no theta join against the K list."""
    from pyspark.sql import Window

    from ..functions import word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    freqs = (
        d.withColumn("__toks", word_tokens("text"))
        .select(F.explode("__toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = freqs.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
        ),
    )
    total = F.sum("cnt")
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        total.alias("total_tokens"),
        F.round(
            F.sum(F.when(F.col("rk") <= 10, F.col("cnt")).otherwise(0)) / total, 6
        ).alias("coverage_top10"),
        F.round(
            F.sum(F.when(F.col("rk") <= 100, F.col("cnt")).otherwise(0)) / total, 6
        ).alias("coverage_top100"),
        F.round(
            F.sum(F.when(F.col("rk") <= 1000, F.col("cnt")).otherwise(0)) / total,
            6,
        ).alias("coverage_top1000"),
    )


ORACLE_VOCAB_COVERAGE = """
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
),
freqs AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
ranked AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
    FROM freqs
)
SELECT count(*) AS vocab_size, sum(cnt) AS total_tokens,
       round(sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6) AS coverage_top10,
       round(sum(CASE WHEN rk <= 100 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6) AS coverage_top100,
       round(sum(CASE WHEN rk <= 1000 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6) AS coverage_top1000
FROM ranked
"""


_MIX_WEIGHTS = {"en": 0.40, "zh": 0.25, "de": 0.15, "es": 0.10, "fr": 0.10}
_MIX_SALT = 7


def q_target_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing toward target language proportions: each language's
    keep-rate derives from its OBSERVED count (rate = min(1, w*N/n_g)),
    thinning over-represented groups to the target shares — the
    re-weighting step every pretraining mix runs after filtering.
    Deterministic hash gate (same rows survive every run); counts are
    group-cardinality-sized, rates broadcast, the corpus never
    shuffles."""
    d = load_table(spark, sf_dir, "documents")
    out = sampling.target_mix(
        d, group_col="lang", weights=_MIX_WEIGHTS, key_col="doc_id",
        salt=_MIX_SALT,
    )
    return out.select("doc_id", "lang", F.round("__rate", 6).alias("keep_rate"))


def _target_mix_oracle() -> str:
    # CAST the weight CASE to DOUBLE: DuckDB would otherwise run the
    # whole rate computation in exact DECIMAL while Spark uses doubles,
    # and a boundary hash value could then land on different sides of
    # the threshold in the two engines.  The floor()ed integer
    # threshold mirrors the operator for the same reason.
    case = " ".join(
        f"WHEN '{v}' THEN {s}" for v, s in _MIX_WEIGHTS.items()
    )
    w = f"CAST(CASE lang {case} ELSE NULL END AS DOUBLE)"
    return f"""
WITH counts AS (
    SELECT lang, count(*) AS n_g FROM documents GROUP BY lang
),
total AS (SELECT sum(n_g) AS n FROM counts),
rates AS (
    SELECT lang,
           least(CAST(1.0 AS DOUBLE), {w} * total.n / n_g) AS rate
    FROM counts, total
    WHERE {w} IS NOT NULL
)
SELECT d.doc_id, d.lang, round(r.rate, 6) AS keep_rate
FROM documents d JOIN rates r USING (lang)
WHERE {_duck_hash("CAST(doc_id AS VARCHAR)", _MIX_SALT)} % 1000000
      < CAST(floor(r.rate * 1000000) AS BIGINT)
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 sliding form: 1-hour windows advancing every 30 minutes —
    each event lands in exactly two windows.  Spark's ``F.window``
    with a slide explodes the membership natively (whole-stage
    codegen, no UDF); the oracle reproduces it as an unnest of the
    two epoch-aligned bucket starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_SLIDING = """
SELECT window_start, event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM (
    SELECT event_type, value,
           unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                   time_bucket(INTERVAL 30 MINUTE, ts)
                       - INTERVAL 30 MINUTE]) AS window_start
    FROM events
)
GROUP BY 1, 2
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pattern redaction over the corpus: mask email/phone/SSN
    shapes, count each kind from the original text.  Narrow codegen
    expressions only — see operators/text.py:redact_pii.  The fixture
    corpus contains no PII, so the oracle check here proves the two
    regex engines agree on NO-match behavior over real text (no
    spurious redactions); the positive-match semantics are pinned by
    the synthetic-row unit test."""
    d = load_table(spark, sf_dir, "documents")
    out = text.redact_pii(d.select("doc_id", "text"))
    return out.select("doc_id", "n_email", "n_phone", "n_ssn", "redacted")


def _pii_oracle() -> str:
    from ..operators.text import PII_PATTERNS

    em, ph, ssn = (
        PII_PATTERNS["email"],
        PII_PATTERNS["phone"],
        PII_PATTERNS["ssn"],
    )
    return f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{em}')) AS n_email,
       len(regexp_extract_all(text, '{ph}')) AS n_phone,
       len(regexp_extract_all(text, '{ssn}')) AS n_ssn,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{ssn}', '[PII]', 'g'),
           '{em}', '[PII]', 'g'),
           '{ph}', '[PII]', 'g') AS redacted
FROM documents
"""


def q_ivf_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) step refining the IVF centroids: assign all
    vectors to the 16 deterministic seed centroids, recompute each as
    its members' element-wise mean.  The training half of the IVF
    index whose query half is ``cosine_topk_ivf``; iterate by feeding
    the re-collected centroid table back in."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 16)
    return similarity.kmeans_step(e, cents)


def _ivf_refine_oracle() -> str:
    cos_ec = _DUCK_COSINE.format(a="e.embedding", b="c.cv")
    return f"""
WITH centroids AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
assign AS (
    SELECT e.vec_id, c.cid, round({cos_ec}, 6) AS score,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({cos_ec}, 6) DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c
),
members AS (
    SELECT a.vec_id, a.cid AS ivf_bucket FROM assign a WHERE rn = 1
),
vals AS (
    SELECT m.ivf_bucket,
           generate_subscripts(e.embedding, 1) - 1 AS pos,
           unnest(e.embedding) AS val
    FROM members m JOIN embeddings e USING (vec_id)
)
SELECT ivf_bucket, pos, round(avg(val), 6) AS c_mean
FROM vals GROUP BY ivf_bucket, pos
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization summary per vector — the
    vector-store compression pass; integer stats are exact so the
    digest comparison is FP-free (see similarity.quantize_embeddings
    for the floor-based cross-engine rounding contract)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(e)


ORACLE_QUANTIZE = """
WITH scaled AS (
    SELECT vec_id, embedding,
           -- CAST to DOUBLE first: list_max over a FLOAT list stays
           -- FLOAT in DuckDB, and a float-precision scale both shifts
           -- rounding artifacts into q_scale and can flip a boundary
           -- quantization step vs Spark's double-precision scale
           nullif(CAST(list_max(list_transform(embedding, x -> abs(x)))
                       AS DOUBLE) / 127.0, 0.0) AS s
    FROM embeddings
),
q AS (
    SELECT vec_id, s,
           len(embedding) AS n_dims,
           list_transform(embedding,
                          x -> CAST(coalesce(floor(x / s + 0.5), 0) AS BIGINT))
               AS qv
    FROM scaled
)
SELECT vec_id, round(coalesce(s, 0.0), 6) AS q_scale, n_dims,
       list_sum(qv) AS q_sum, list_min(qv) AS q_min, list_max(qv) AS q_max
FROM q
"""


_CHUNK_LEN = 64
_CHUNK_STRIDE = 48  # 16-token overlap


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split each document's token
    stream into 64-token chunks advancing 48 tokens (16-token overlap)
    — the context-window prep step for pretraining/RAG corpora.  A doc
    shorter than one chunk yields exactly one (whole-doc) chunk; the
    final chunk is the ragged tail.

    Scale shape: all native HOFs — tokenize once, ``sequence`` builds
    the per-doc chunk index, ``explode`` multiplies rows by ~n/stride,
    ``slice`` cuts each chunk.  Narrow end to end: no shuffle, no UDF;
    chunk rows inherit the scan's partitioning."""
    from ..functions import word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id",
        word_tokens("text").alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    # number of chunks = 1 + floor(max(n - LEN, 0) / STRIDE), but any
    # non-empty tail past the last full window adds one more ragged
    # chunk: ceil semantics via (n - LEN + STRIDE - 1) div STRIDE
    n_chunks = F.greatest(
        F.lit(1),
        F.lit(1)
        + F.floor(
            (F.col("__n") - F.lit(_CHUNK_LEN) + F.lit(_CHUNK_STRIDE) - 1)
            / F.lit(_CHUNK_STRIDE)
        ),
    ).cast("int")
    exploded = t.select(
        "doc_id",
        "__toks",
        "__n",
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
    )
    start = F.col("chunk_id") * F.lit(_CHUNK_STRIDE)
    return exploded.select(
        "doc_id",
        "chunk_id",
        start.alias("chunk_start"),
        F.least(
            F.lit(_CHUNK_LEN), F.col("__n") - start
        ).alias("chunk_len"),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), start + F.lit(1), F.lit(_CHUNK_LEN))
        ).alias("chunk_text"),
    )


ORACLE_DOC_CHUNKS = f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
sized AS (SELECT doc_id, toks, len(toks) AS n FROM t),
idx AS (
    SELECT doc_id, toks, n,
           unnest(range(0, CAST(greatest(1,
               1 + floor((n - {_CHUNK_LEN} + {_CHUNK_STRIDE} - 1)
                         / {_CHUNK_STRIDE})) AS BIGINT))) AS chunk_id
    FROM sized
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       chunk_id * {_CHUNK_STRIDE} AS chunk_start,
       least({_CHUNK_LEN}, n - chunk_id * {_CHUNK_STRIDE}) AS chunk_len,
       array_to_string(
           toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                chunk_id * {_CHUNK_STRIDE} + {_CHUNK_LEN}],
           ' ') AS chunk_text
FROM idx
"""


_PIPE_CONTAM_K = 24  # ~4-5 word overlap: discriminative on the
# small-vocab fixture, where the standalone op's 8-char window (kept
# for its own oracle row) flags every document


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline the individual
    operators exist for, composed as ONE lazy plan: exact dedup
    (min-id canonical per normalized digest) -> language filter ->
    median quality gate (in-plane sketch threshold over the filtered
    pool) -> benchmark decontamination (24-char-gram overlap vs eval
    docs 0-9).  Survivors out, with their quality scores.

    Every stage keeps its operator's scale shape (digest-only dedup
    shuffle, narrow quality features, broadcast eval-gram semi-join).
    The quality gate is a self-referential two-branch shape — the
    median threshold aggregates the SAME scored pool the filter scans
    — so the narrow (doc_id, quality) projection is ``persist()``-ed
    at the branch point: without it both branches re-run exact-dedup
    + the regex/array quality features over full text (measured: the
    stage's x10 rehearsal cost dropped ~2× and its scaling exponent
    normalized once the double-compute was cut).  The cached frame is
    16 bytes/doc — at 100 TB corpus scale it is the SCORES that
    persist, never the text; the caller's scope unpersists it."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    kept = dedup.exact_dedup(d)
    en = kept.filter(F.col("lang") == F.lit("en"))
    scored = persist(
        text.quality_score(en.select("doc_id", "text")).select("doc_id", "quality")
    )
    thr = scored.agg(
        F.round(
            F.expr("approx_percentile(quality, 0.5, 1000000)"), 6
        ).alias("__thr")
    )
    gated = scored.crossJoin(F.broadcast(thr)).filter(
        F.col("quality") >= F.col("__thr")
    )
    flags = text.contamination_flags(
        d, d.filter(F.col("doc_id") < _CONTAM_EVAL_IDS), k=_PIPE_CONTAM_K
    )
    return (
        gated.join(flags, "doc_id")
        .filter(~F.col("contaminated"))
        .select("doc_id", "quality")
    )


def _curation_pipeline_oracle() -> str:
    quality = _quality_oracle().strip()
    contam = _contamination_oracle(k=_PIPE_CONTAM_K).strip()
    return f"""
WITH canon AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY {_duck_hash(_DUCK_NORM, 0)}, length({_DUCK_NORM})
),
en AS (
    SELECT d.doc_id FROM documents d
    JOIN canon c ON d.doc_id = c.doc_id
    WHERE d.lang = 'en'
),
q AS (SELECT doc_id, quality FROM ({quality}) s
      WHERE doc_id IN (SELECT doc_id FROM en)),
thr AS (SELECT round(quantile_disc(quality, 0.5), 6) AS t FROM q),
contam AS ({contam})
SELECT q.doc_id, q.quality
FROM q, thr
JOIN contam ON contam.doc_id = q.doc_id
WHERE q.quality >= thr.t AND NOT contam.contaminated
"""


_CAP_PER_DOMAIN = 15


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping: at most 15 docs per source, chosen in
    stable hash order — the anti-domination guard of web-scale
    curation pipelines."""
    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )
    return sampling.cap_per_domain(d, cap=_CAP_PER_DOMAIN)


def _domain_cap_oracle() -> str:
    h = _duck_hash("CAST(doc_id AS VARCHAR)", 0)
    return f"""
SELECT doc_id, source, domain_rank FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY {h} ASC, doc_id ASC) AS domain_rank
    FROM documents) t
WHERE domain_rank <= {_CAP_PER_DOMAIN}
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assign by the portable hash
    of each document's near-dup CLUSTER id (minhash-LSH + connected
    components), so every near-duplicate family travels to one split
    and no eval doc has a training twin.  Splits 90/5/5 here so the
    val/test buckets are non-trivial at fixture scale."""
    from ..operators.graph import connected_components

    d = rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=_MINHASH_K, num_hashes=_MINHASH_N)
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    comps = connected_components(pairs, d.select("doc_id"))
    return sampling.hash_split(
        comps, "component", splits=(("train", 90), ("val", 5), ("test", 5))
    )


def _leakage_split_oracle() -> str:
    comps = _components_oracle().strip()
    h = _duck_hash("CAST(component AS VARCHAR)", 0)
    return f"""
SELECT doc_id, component,
       CASE WHEN {h} % 100 < 90 THEN 'train'
            WHEN {h} % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM ({comps})
"""


def q_bpe_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training iteration over the corpus (Sennrich
    et al. 2016): corpus word counts -> char-initialized symbol
    sequences -> most-frequent adjacent pair merged everywhere.  The
    step-operator twin of ivf_refine: iterate by re-feeding the
    output."""
    from ..functions import word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    vocab = (
        d.select(F.explode(word_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    init = vocab.withColumn("symbols", text.bpe_init_symbols("word"))
    return text.bpe_merge_step(init)


ORACLE_BPE_STEP = r"""
WITH words AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
),
vocab AS (SELECT word, count(*) AS wc FROM words GROUP BY word),
init AS (SELECT word, wc,
                trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS symbols
         FROM vocab),
split_syms AS (SELECT word, wc, string_split(symbols, ' ') AS s FROM init),
pairs AS (
    SELECT i.wc, i.s[CAST(j AS INT) + 1] AS a, i.s[CAST(j AS INT) + 2] AS b
    FROM split_syms i, unnest(range(0, greatest(0, len(i.s) - 1))) AS u(j)
),
best AS (
    SELECT a, b FROM (SELECT a, b, sum(wc) AS n FROM pairs GROUP BY a, b)
    ORDER BY n DESC, a ASC, b ASC LIMIT 1
)
SELECT i.word, i.wc,
       trim(regexp_replace(
           replace(' ' || replace(i.symbols, ' ', '  ') || ' ',
                   ' ' || best.a || '  ' || best.b || ' ',
                   ' ' || best.a || best.b || ' '),
           '\s+', ' ', 'g')) AS symbols,
       best.a || ' ' || best.b AS merged_pair
FROM init i, best
"""


_SCRUB_N = 5
_SCRUB_MIN_DOCS = 3


def q_repeated_ngram_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated n-gram removal (MassiveText/RefinedWeb
    boilerplate scrub): word 5-grams occurring in >= 3 distinct
    documents are struck from every document.  The corpus-wide
    exchange carries 8-byte gram digests only; the strike pass is
    narrow index-aware HOFs."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.remove_repeated_ngrams(
        d, n=_SCRUB_N, min_docs=_SCRUB_MIN_DOCS
    )


def _repeated_ngram_oracle() -> str:
    n = _SCRUB_N
    digest = _duck_hash(f"array_to_string(t[i+1:i+{n}], ' ')", 0)
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, CAST(i AS INT) AS pos, {digest} AS gh
    FROM toks, unnest(range(0, greatest(0, len(t) - {n - 1}))) AS u(i)
),
heavy AS (
    SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams)
    GROUP BY gh HAVING count(*) >= {_SCRUB_MIN_DOCS}
),
starts AS (
    SELECT doc_id, list(DISTINCT pos) AS ss
    FROM grams WHERE gh IN (SELECT gh FROM heavy)
    GROUP BY doc_id
),
joined AS (
    SELECT toks.doc_id, t, coalesce(ss, CAST([] AS INT[])) AS ss
    FROM toks LEFT JOIN starts ON toks.doc_id = starts.doc_id
),
struck AS (
    SELECT doc_id, t,
           list_filter(t, (x, i) ->
               len(list_filter(ss, s -> s <= i - 1 AND i - 1 < s + {n})) = 0
           ) AS kept
    FROM joined
)
SELECT doc_id, len(t) AS n_tokens, len(t) - len(kept) AS n_removed,
       coalesce(array_to_string(kept, ' '), '') AS cleaned_text
FROM struck
"""


_DSIR_QUANTILE = 0.8


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): importance-score
    every document by the unigram log-likelihood ratio between the
    English target domain and the raw corpus, then keep the top
    quintile via the sketch-threshold pattern (approx_percentile
    rides in-plane as a one-row broadcast, rank-exact at this
    accuracy).  Output is the full-corpus labeling."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    scored = sampling.dsir_score(d, F.col("lang") == F.lit("en"))
    thr = scored.agg(
        F.round(
            F.expr(
                f"approx_percentile(dsir_score, {_DSIR_QUANTILE}, 1000000)"
            ),
            6,
        ).alias("__thr")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        "dsir_score",
        (F.col("dsir_score") >= F.col("__thr")).alias("selected"),
    )


ORACLE_DSIR = f"""
WITH toks AS (
    SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
),
tf AS (SELECT doc_id, tgt, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
freqs AS (SELECT term, sum(tf) AS cnt_raw, sum(tf * tgt) AS cnt_tgt
          FROM tf GROUP BY term),
totals AS (SELECT sum(cnt_raw) AS total_raw, sum(cnt_tgt) AS total_tgt,
                  count(*) AS vocab
           FROM freqs),
scored AS (
    SELECT tf.doc_id, sum(tf.tf) AS n_tokens,
           round(sum(tf.tf * ln(
               (f.cnt_tgt + 1.0) * (t.total_raw + t.vocab)
               / ((f.cnt_raw + 1.0) * (t.total_tgt + t.vocab))
           )) / sum(tf.tf), 6) AS dsir_score
    FROM tf JOIN freqs f USING (term), totals t
    GROUP BY tf.doc_id
),
thr AS (SELECT round(quantile_disc(dsir_score, {_DSIR_QUANTILE}), 6) AS q
        FROM scored)
SELECT s.doc_id, s.n_tokens, s.dsir_score, (s.dsir_score >= thr.q) AS selected
FROM scored s, thr
"""


_SEMDEDUP_K = 8
_SEMDEDUP_THRESHOLD = 0.35  # fixture embeddings are random; realistic
# corpora use ~0.95+, which only shrinks the within-cluster pair sets


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): nearest-
    centroid clustering over the embedding space (first-K deterministic
    centroids, the same swappable-source geometry as cosine_topk_ivf),
    then within-cluster cosine pairs mark higher-id near-dups as
    dropped.  Output is a full-corpus (vec_id, cluster, kept)
    labeling."""
    e = rebalance(load_table(spark, sf_dir, "embeddings"))
    centroids = e.filter(F.col("vec_id") < _SEMDEDUP_K).select("vec_id", "embedding")
    return dedup.semantic_dedup(e, centroids, threshold=_SEMDEDUP_THRESHOLD)


def _semantic_dedup_oracle() -> str:
    cos_ec = _DUCK_COSINE.format(a="e.embedding", b="c.cv")
    cos_ab = _DUCK_COSINE.format(a="a.embedding", b="b.embedding")
    return f"""
WITH centroids AS (SELECT vec_id AS cid, embedding AS cv
                   FROM embeddings WHERE vec_id < {_SEMDEDUP_K}),
assign AS (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({cos_ec}, 6) DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c
),
clustered AS (SELECT vec_id, embedding, cid AS cluster FROM assign WHERE rn = 1),
dropped AS (
    SELECT DISTINCT a.vec_id
    FROM clustered a JOIN clustered b
      ON a.cluster = b.cluster AND b.vec_id < a.vec_id
    WHERE round({cos_ab}, 6) >= {_SEMDEDUP_THRESHOLD}
)
SELECT c.vec_id, c.cluster, (d.vec_id IS NULL) AS kept
FROM clustered c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


# folded into top1_latest_order (which='earliest')
register("earliest_per_group", q_earliest_per_group, ORACLE_EARLIEST)
# folded into scalar_functions (open_status/real_pri + na.drop)
register("drop_na", q_drop_na, ORACLE_DROP_NA)
# frame-spec surface; sessionize's cumulative sum is the same
# rowsBetween window in a green driver row
register("running_sum", q_running_sum, ORACLE_RUNNING_SUM)
# folded into tumbling_window (hour_str/hour_ts columns)
register("time_reanchor", q_time_reanchor, ORACLE_TIME_REANCHOR)
# folded into interval_containment (method='case')
register("actual_plan_label", q_actual_plan_label, ORACLE_ACTUAL_PLAN)
# same oracle as tumbling_window's bucketing; real readStream path
register("streaming_tumbling", q_streaming_tumbling,
         ORACLE_TUMBLING_BASE, plan=_stream_plan_tumbling)
# signature computation is transitively verified by
# simhash_near_pairs (pairs+hamming require correct signatures)
register("simhash", q_simhash, _simhash_oracle())
# folded into cosine_topk_ann (method='lsh'/'ivf')
register("cosine_topk_lsh", q_cosine_topk_lsh, _lsh_oracle())
register("cosine_topk_ivf", q_cosine_topk_ivf, _ivf_oracle())
# bench-only fast-hash variant; plan shape identical to
# minhash_lsh_pairs.  Its oracle needs tools.xxh64_oracle.register(con)
# on the DuckDB connection (the AUX harness does this): a pure-python
# XXH64 reproducing Spark's xxhash64 on strings
register("minhash_lsh_pairs_fast", q_minhash_lsh_pairs_fast, _minhash_oracle(
    f"((spark_xxhash64(s) % {dedup.MINHASH_P}) + {dedup.MINHASH_P})"
    f" % {dedup.MINHASH_P}"
))
# portable=False production gates, hash-verified through the same
# xxh64 DuckDB twin (round-7: fast paths get digest discipline)
register("stable_sample_fast", q_stable_sample_fast, ORACLE_STABLE_SAMPLE_FAST)
register("stratified_sample_fast", q_stratified_sample_fast,
         ORACLE_STRATIFIED_FAST)
# round-9: the last two md5 gates promoted to xxhash64 fast paths
register("corpus_shuffle_fast", q_corpus_shuffle_fast,
         ORACLE_CORPUS_SHUFFLE_FAST)
register("hash_split_fast", q_hash_split_fast, ORACLE_HASH_SPLIT_FAST)
# bench-attribution variant: the window-cumsum stage alone, so
# BENCH can split the fused pack_sequences row per variant
register("pack_sequences_native", q_pack_sequences_native, ORACLE_PACK_NATIVE)
# round-5 training-pipeline additions (post-50-cap, so AUX-housed;
# full oracle parity via tools/aux_correctness.py)
register("unigram_lm_score", q_unigram_lm_score, ORACLE_LM_SCORE)
register("corpus_shuffle", q_corpus_shuffle, ORACLE_CORPUS_SHUFFLE)
register("vocab_coverage", q_vocab_coverage, ORACLE_VOCAB_COVERAGE)
register("target_mix", q_target_mix, _target_mix_oracle())
register("sliding_window", q_sliding_window, ORACLE_SLIDING)
register("pii_redaction", q_pii_redaction, _pii_oracle())
register("ivf_refine", q_ivf_refine, _ivf_refine_oracle())
register("embedding_quantize", q_embedding_quantize, ORACLE_QUANTIZE)
register("doc_chunks", q_doc_chunks, ORACLE_DOC_CHUNKS)
# SemDeDup: cluster-then-dedup-within-cluster over embeddings
register("semantic_dedup", q_semantic_dedup, _semantic_dedup_oracle())
# DSIR: unigram log-likelihood-ratio importance selection
register("dsir_select", q_dsir_select, ORACLE_DSIR)
# MassiveText/RefinedWeb boilerplate scrub
register("repeated_ngram_removal", q_repeated_ngram_removal,
         _repeated_ngram_oracle())
# BPE tokenizer-training step (iterate by re-feeding output)
register("bpe_step", q_bpe_step, ORACLE_BPE_STEP)
# the full curation pipeline as one composed lazy plan
register("curation_pipeline", q_curation_pipeline, _curation_pipeline_oracle())
# per-domain quota capping in stable hash order
register("domain_cap", q_domain_cap, _domain_cap_oracle())
# near-dup-cluster-keyed train/val/test assignment
register("leakage_safe_split", q_leakage_safe_split, _leakage_split_oracle())
# real streaming-state dedup against duplicated input; batch oracle
register("streaming_dedup", q_streaming_dedup,
         ORACLE_STREAM_DEDUP, plan=_stream_plan_dedup)
# sliding-window stream; same oracle as the batch sliding_window
register("streaming_sliding", q_streaming_sliding,
         ORACLE_SLIDING, plan=_stream_plan_sliding)
# stream-static broadcast enrichment join; batch join oracle
register("streaming_enrich", q_streaming_enrich,
         ORACLE_STREAM_ENRICH, plan=_stream_plan_enrich)


# ---------------------------------------------------------------------------
# Round-6 additions (AUX-housed: the driver registry is capped at 50)
# ---------------------------------------------------------------------------

_INC_SPLIT_MOD = 4  # doc_id % 4 == 0 -> "new batch", else "reference corpus"
_INC_THRESHOLD = 0.5


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup — the production dedup mode: a
    new batch (here ``doc_id % 4 == 0``) checked against an existing
    reference corpus (the rest) by exact digest + MinHash-LSH banding
    + exact-Jaccard verification, without ever re-deduping or
    rewriting the reference.  Candidate count scales with the
    increment, not the corpus."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    new_df = d.filter(F.col("doc_id") % _INC_SPLIT_MOD == 0)
    ref_df = d.filter(F.col("doc_id") % _INC_SPLIT_MOD != 0)
    return dedup.incremental_dedup(
        new_df,
        ref_df,
        k=_MINHASH_K,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_INC_THRESHOLD,
    )


def q_incremental_dedup_amortized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION mode of incremental dedup: reference-side
    artifacts (digest/band/shingle tables) persisted to parquet ONCE
    per corpus, each batch joining against the files without ever
    touching or recomputing corpus text.  Identical results to
    ``incremental_dedup`` (same oracle); what differs is the measured
    cost — this entry's timed run covers only the per-batch work, the
    claim ``corpus_artifacts``'s docstring makes.  The artifact cache
    is keyed by the fixture path PLUS a content fingerprint
    (mtime+size of every documents.parquet part), so regenerating the
    fixture at the same path invalidates stale artifacts instead of
    silently deduping against the old corpus; it is built on first
    call (the rehearsal harness's warm-up), so the timed second call
    reads parquet."""
    import glob
    import hashlib
    import os

    d = rebalance(load_table(spark, sf_dir, "documents"))
    new_df = d.filter(F.col("doc_id") % _INC_SPLIT_MOD == 0)
    ref_df = d.filter(F.col("doc_id") % _INC_SPLIT_MOD != 0)
    doc_path = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    parts = sorted(glob.glob(doc_path)) or sorted(
        glob.glob(os.path.join(doc_path, "**", "*.parquet"), recursive=True)
    )
    if not parts:
        # unknown fixture layout: a path-only key would silently revive
        # the stale-artifact bug the fingerprint exists to prevent
        raise FileNotFoundError(
            f"no parquet parts found under {doc_path} — cannot "
            "fingerprint the corpus for the artifact cache"
        )
    fingerprint = ";".join(
        # mtime_ns: second-granularity mtimes miss same-size
        # regeneration within one second (fixture rebuilds in CI do)
        f"{p}:{os.stat(p).st_mtime_ns}:{os.path.getsize(p)}" for p in parts
    )
    cache = os.path.join(
        "/tmp/spark_graft_inc_artifacts",
        hashlib.md5(
            (os.path.abspath(sf_dir) + "|" + fingerprint).encode()
        ).hexdigest()[:16],
    )
    if not os.path.exists(os.path.join(cache, "_BUILT")):
        # Build into a pid-private staging dir, then atomically rename:
        # concurrent first-callers race on a whole-directory swap, not
        # on a marker next to half-written parquet.
        staging = f"{cache}.tmp-{os.getpid()}"
        dedup.write_corpus_artifacts(
            dedup.corpus_artifacts(
                ref_df,
                k=_MINHASH_K,
                num_hashes=_MINHASH_N,
                bands=_MINHASH_BANDS,
            ),
            staging,
        )
        open(os.path.join(staging, "_BUILT"), "w").close()
        try:
            os.rename(staging, cache)
        except OSError:
            # another run won the race — but verify its artifacts are
            # actually complete before consuming them: a stale or
            # crashed-mid-write directory occupying `cache` must not
            # be read as if it were built
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
            if not os.path.exists(os.path.join(cache, "_BUILT")):
                raise RuntimeError(
                    f"artifact cache dir {cache} exists without a "
                    "_BUILT marker — remove it and retry"
                )
    return dedup.incremental_dedup_against(
        new_df,
        dedup.read_corpus_artifacts(spark, cache),
        k=_MINHASH_K,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_INC_THRESHOLD,
    )


def _incremental_oracle() -> str:
    """DuckDB twin of incremental_dedup: same sig/band pipeline as
    _minhash_oracle, but candidates are new-vs-ref cross-frame."""
    shingle = (
        f"list_distinct([substr(t, CAST(i AS INT), {_MINHASH_K}) "
        f"for i in range(1, greatest(length(t) - {_MINHASH_K - 1}, 1) + 1)])"
    )
    p = dedup.MINHASH_P
    base = f"[{_duck_hash('s')} % {p} for s in shingles]"
    sig_cols = ",\n       ".join(
        f"list_min([({a} * h + {b}) % {p} for h in hs]) AS sig_{i}"
        for i, (a, b) in enumerate(dedup.minhash_perm_params(_MINHASH_N))
    )
    rows = _MINHASH_N // _MINHASH_BANDS
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, concat_ws('_', {cols}) AS band_key FROM sig".format(
            b=b, cols=", ".join(f"sig_{b * rows + r}" for r in range(rows))
        )
        for b in range(_MINHASH_BANDS)
    )
    m = _INC_SPLIT_MOD
    jac = (
        "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
        " / (len(a.shingles) + len(b.shingles)"
        " - len(list_intersect(a.shingles, b.shingles)))"
    )
    return f"""
WITH norm AS (SELECT doc_id, {_DUCK_NORM} AS t FROM documents),
sh AS (SELECT doc_id, {shingle} AS shingles FROM norm),
basehash AS (SELECT doc_id, {base} AS hs FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM basehash),
banded AS ({bands}),
dig AS (SELECT doc_id, {_duck_hash(_DUCK_NORM, 0)} AS h, length({_DUCK_NORM}) AS l
        FROM documents),
exact AS (
    SELECT n.doc_id AS new_id, min(r.doc_id) AS exact_match
    FROM dig n JOIN dig r ON n.h = r.h AND n.l = r.l
    WHERE n.doc_id % {m} = 0 AND r.doc_id % {m} <> 0
    GROUP BY 1
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
    FROM banded n JOIN banded r
      ON n.band_id = r.band_id AND n.band_key = r.band_key
    WHERE n.doc_id % {m} = 0 AND r.doc_id % {m} <> 0
),
near AS (
    SELECT c.new_id, min(c.ref_id) AS near_match
    FROM cand c
    JOIN sh a ON a.doc_id = c.new_id
    JOIN sh b ON b.doc_id = c.ref_id
    WHERE round({jac}, 6) >= {_INC_THRESHOLD}
    GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_match IS NOT NULL THEN 'near_dup'
            ELSE 'novel' END AS status,
       coalesce(e.exact_match, nr.near_match) AS match_id
FROM documents d
LEFT JOIN exact e ON e.new_id = d.doc_id
LEFT JOIN near nr ON nr.new_id = d.doc_id
WHERE d.doc_id % {m} = 0
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (O-family rollup surface beyond rollup_agg):
    all four grouping-set combinations of (returnflag, linestatus) in
    one pass, with GROUPING flags disambiguating data-NULLs from
    subtotal-NULLs.  One shuffle; subtotals are computed by Spark's
    Expand + single hash aggregate (rows x 4 expansion happens after
    column pruning, so only the two group keys and the two agg inputs
    are expanded)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-to-wide (P-family reshape): order totals per year spread
    across one column per order status.  The value list is pinned
    explicitly — at scale an unpinned pivot runs a blocking distinct
    over the pivot column first AND risks schema drift between runs;
    pinning keeps it a single groupBy with conditional aggregates."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.withColumn("oy", F.year("o_orderdate"))
        .groupBy("oy")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return wide.select(
        "oy",
        F.col("O").alias("tp_o"),
        F.col("F").alias("tp_f"),
        F.col("P").alias("tp_p"),
    )


ORACLE_PIVOT = """
SELECT year(o_orderdate) AS oy,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS tp_o,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS tp_f,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS tp_p
FROM orders
GROUP BY 1
"""


def q_trailing_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame window per user over the event
    stream: value-based frame (timestamp interval), not a row-count
    frame — W-family surface the rows-frame queries (running_sum,
    sessionize) don't cover."""
    e = rebalance(load_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "ts", "value"
    )
    out = windows.trailing_range_agg(
        e, "user_id", "ts", "value", trailing_seconds=3600
    )
    return out.select("event_id", "user_id", "trail_sum", "trail_n")


ORACLE_TRAILING_RANGE = """
SELECT event_id, user_id,
       round(sum(value) OVER w, 6) AS trail_sum,
       count(*) OVER w AS trail_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile + percent-rank labeling of the corpus by quality score
    (the curriculum/ablation bucketing step).  Deterministic total
    order (score desc, doc_id asc) so ranks are engine-independent.

    Scale note: ntile/percent_rank need a TOTAL order — one partition.
    This is the exact-rank surface for bounded inputs (ablation
    manifests); the corpus-scale path for 'keep the top X% by
    quality' is quality_quantile_filter's approx-quantile threshold,
    which never globally sorts."""
    d = rebalance(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    q = text.quality_score(d).select("doc_id", "quality")
    w = Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return q.select(
        "doc_id",
        "quality",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def _quality_deciles_oracle() -> str:
    return f"""
SELECT doc_id, quality,
       ntile(10) OVER w AS decile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM ({_quality_oracle()}) q
WINDOW w AS (ORDER BY quality DESC, doc_id ASC)
"""


_TOKEN_BUDGET = 100_000
_MAX_EPOCHS = 4.0


def q_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch mixing: per-source whitespace-token counts
    collapsed to a |domains|-row plan assigning each source an equal
    share of a fixed training budget as a (capped) repeat factor."""
    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    toks = text.token_counts(d).select("source", "ws_tokens")
    return sampling.token_budget_epochs(
        toks, "ws_tokens", _TOKEN_BUDGET, domain_col="source", max_epochs=_MAX_EPOCHS
    )


ORACLE_TOKEN_BUDGET = f"""
WITH tok AS (
    SELECT source,
           sum(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> ''))) AS tokens
    FROM documents GROUP BY source
),
nd AS (SELECT count(*) AS n FROM tok)
SELECT source, tokens,
       round({_TOKEN_BUDGET} / nd.n, 4) AS target_tokens,
       CASE WHEN tokens > 0
            THEN round(least({_TOKEN_BUDGET} / nd.n / tokens, {_MAX_EPOCHS}), 4)
            ELSE 0.0 END AS epochs,
       round(CASE WHEN tokens > 0
                  THEN round(least({_TOKEN_BUDGET} / nd.n / tokens, {_MAX_EPOCHS}), 4)
                  ELSE 0.0 END * tokens, 2) AS planned_tokens
FROM tok, nd
"""


def q_mad_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier gate on document length: drop docs more than
    3 robust sigmas from the median length, annotate survivors with
    their robust z-score."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents")).select("doc_id", "n_chars")
    return stats.mad_filter(d, "n_chars", n_sigmas=3.0)


ORACLE_MAD = """
WITH m AS (SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
d AS (SELECT doc_id, n_chars, abs(n_chars - m.med) AS dev FROM documents, m),
md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
SELECT doc_id, n_chars,
       round(CASE WHEN md.mad > 0 THEN dev / (1.4826 * md.mad) ELSE 0.0 END, 6)
           AS robust_z
FROM d, md
WHERE md.mad = 0 OR dev <= 3.0 * 1.4826 * md.mad
"""


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM join — the last Structured Streaming join surface
    (tumbling/sliding agg, stream-state dedup, and stream-static
    enrichment are covered by the other streaming rows): click events
    joined to purchase events of the same user within the following
    hour, both sides watermarked, drained with AvailableNow, then
    folded to per-user conversion totals batch-side.

    Scale shape: both inputs are watermarked AND the join condition
    time-bounds the two event-time columns — the two facts Spark's
    state-cleanup needs to evict matched/expired rows instead of
    buffering both streams forever.  Inner-join results emit eagerly
    (the watermark only gates state eviction), so the drained result
    equals the batch time-bounded self-join the oracle runs."""
    import tempfile

    from ..streaming import incremental

    pairs = _stream_plan_join(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_join_ckpt_")
    incremental.run_to_memory_sink(
        pairs, "stream_join_out", ckpt, output_mode="append"
    )
    return (
        spark.table("stream_join_out")
        .groupBy(F.col("l_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("r_value"), 2).alias("sum_purchase"),
        )
    )


def _stream_plan_join(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Pre-sink streaming plan for q_streaming_join: both sides
    watermarked AND the join condition time-bounded — the two facts
    state cleanup needs."""
    events, ts_was_ntz = _stream_events(
        spark, sf_dir,
        stream_dir=stream_dir, max_files_per_trigger=max_files_per_trigger,
    )
    if ts_was_ntz:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts"))
        .withWatermark("l_ts", "2 hours")
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", "2 hours")
    )
    return clicks.join(
        buys,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )


ORACLE_STREAM_JOIN = """
SELECT l.user_id, count(*) AS n_pairs, round(sum(r.value), 2) AS sum_purchase
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
GROUP BY 1
"""


def q_corpus_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct cardinalities per event type: distinct users and
    distinct activity days.  The oracle verifies the EXACT form; the
    100 TB path is the same query with ``approx_count_distinct``
    (HyperLogLog++ — mergeable fixed-size sketch, no per-group
    distinct-value shuffle), whose relative error against this exact
    result is pinned by ``test_operators.py`` rather than an oracle
    (sketch estimates are engine-specific by construction)."""
    e = rebalance(load_table(spark, sf_dir, "events"))
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(F.to_date("ts")).alias("n_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_CARDINALITY = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       count(*) AS n_events
FROM events
GROUP BY 1
"""


# round-6: production-mode incremental dedup + relational
# reshape surface + mixing/robust-stats pipeline steps
register("streaming_join", q_streaming_join,
         ORACLE_STREAM_JOIN, plan=_stream_plan_join)
register("corpus_cardinality", q_corpus_cardinality, ORACLE_CARDINALITY)
register("incremental_dedup", q_incremental_dedup, _incremental_oracle())
register("incremental_dedup_amortized", q_incremental_dedup_amortized,
         _incremental_oracle())
register("cube_agg", q_cube_agg, ORACLE_CUBE)
register("pivot_wide", q_pivot_wide, ORACLE_PIVOT)
register("trailing_range_agg", q_trailing_range_agg, ORACLE_TRAILING_RANGE)
register("quality_deciles", q_quality_deciles, _quality_deciles_oracle())
register("token_budget_epochs", q_token_budget_epochs, ORACLE_TOKEN_BUDGET)
register("mad_outlier_filter", q_mad_outlier_filter, ORACLE_MAD)


_EPOCH_SALT = 17


def q_materialize_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-mixing plan EXECUTED: the token_budget_epochs plan joined
    back (broadcast) and expanded into per-pass rows — floor(epochs)
    full passes plus a stable-hash-gated fractional pass.  The
    composition a training-shard writer actually runs."""
    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    toks = text.token_counts(d).select("source", "ws_tokens")
    plan = sampling.token_budget_epochs(
        toks, "ws_tokens", _TOKEN_BUDGET, domain_col="source", max_epochs=_MAX_EPOCHS
    )
    out = sampling.materialize_epochs(
        d.select("doc_id", "source"), plan, salt=_EPOCH_SALT
    )
    return out.select("doc_id", "source", "epoch")


def _materialize_epochs_oracle() -> str:
    gate_hash = _duck_hash(
        "concat(CAST(doc_id AS VARCHAR), ':', CAST(epoch AS VARCHAR))",
        _EPOCH_SALT,
    )
    return f"""
WITH tok AS (
    SELECT source,
           sum(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> ''))) AS tokens
    FROM documents GROUP BY source
),
nd AS (SELECT count(*) AS n FROM tok),
plan AS (
    SELECT source,
           round(least({_TOKEN_BUDGET} / nd.n / tokens, {_MAX_EPOCHS}), 4) AS epochs
    FROM tok, nd
),
j AS (
    SELECT d.doc_id, d.source, p.epochs
    FROM documents d JOIN plan p USING (source)
),
x AS (
    SELECT doc_id, source, epochs,
           unnest(range(0, CAST(floor(epochs) AS BIGINT) + 1)) AS epoch
    FROM j
)
SELECT doc_id, source, epoch
FROM x
WHERE epoch < floor(epochs)
   OR {gate_hash} % 1000000
      < CAST(floor((epochs - floor(epochs)) * 1000000) AS BIGINT)
"""


register("materialize_epochs", q_materialize_epochs,
         _materialize_epochs_oracle())


_Z_BITS = 16


def q_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) codes over (value, user_id) for every event —
    the layout key `write_zordered` range-partitions and sorts by so
    two-dimensional range predicates prune files/row-groups instead
    of scanning.  Quantization bounds are one scalar aggregate
    broadcast back; the interleave is a static shift/mask/or tree in
    codegen."""
    from ..operators import layout

    e = rebalance(load_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "value"
    )
    return layout.with_zorder_code(e, "value", "user_id", bits=_Z_BITS).select(
        "event_id", "zcode"
    )


def _zorder_oracle() -> str:
    cells = 2**_Z_BITS

    def q(col: str, lo: str, hi: str) -> str:
        return (
            f"CAST(least(greatest(CASE WHEN {hi} - {lo} > 0 "
            f"THEN floor(({col} - {lo}) / ({hi} - {lo}) * {cells}.0) "
            f"ELSE 0 END, 0), {cells - 1}) AS BIGINT)"
        )

    terms = " | ".join(
        f"(((qa >> {i}) % 2) << {2 * i}) | (((qb >> {i}) % 2) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )
    return f"""
WITH b AS (
    SELECT min(CAST(value AS DOUBLE)) AS lo_a, max(CAST(value AS DOUBLE)) AS hi_a,
           min(CAST(user_id AS DOUBLE)) AS lo_b, max(CAST(user_id AS DOUBLE)) AS hi_b
    FROM events
),
qz AS (
    SELECT event_id,
           {q("CAST(value AS DOUBLE)", "lo_a", "hi_a")} AS qa,
           {q("CAST(user_id AS DOUBLE)", "lo_b", "hi_b")} AS qb
    FROM events, b
)
SELECT event_id, {terms} AS zcode FROM qz
"""


register("zorder_code", q_zorder_code, _zorder_oracle())


def q_asof_union_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic backward as-of join (union+window form): every purchase
    matched to the user's most recent click at or before it.  The
    oracle is an INDEPENDENT formulation (left join all prior clicks,
    QUALIFY row_number = 1) — the quadratic shape the operator exists
    to avoid, fine at oracle scale."""
    e = rebalance(load_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
        F.col("event_id").alias("click_id"),
    )
    out = windows.asof_join(
        purchases, clicks, "user_id", "ts", ["click_value", "click_id"], "click_id"
    )
    return out.select(
        "event_id",
        "user_id",
        "asof_ts",
        F.round("asof_click_value", 6).alias("asof_click_value"),
        "asof_click_id",
    )


ORACLE_ASOF_UNION = """
SELECT p.event_id, p.user_id,
       c.ts AS asof_ts,
       round(c.value, 6) AS asof_click_value,
       c.event_id AS asof_click_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click') c
  ON c.user_id = p.user_id AND c.ts <= p.ts
QUALIFY row_number() OVER (PARTITION BY p.event_id
                           ORDER BY c.ts DESC, c.event_id DESC) = 1
"""


register("asof_union_join", q_asof_union_join, ORACLE_ASOF_UNION)


_RESAMPLE_STEP = 6 * 3600


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resampling of the error-event series with
    forward fill — grid anchored at each user's first error, latest
    observation carried onto every grid point via the union+window
    as-of pass."""
    e = rebalance(load_table(spark, sf_dir, "events")).filter(
        F.col("event_type") == "error"
    )
    out = windows.resample_ffill(
        e, "user_id", "ts", "value", "event_id", step_seconds=_RESAMPLE_STEP
    )
    return out.select(
        "user_id",
        "ts",
        "asof_ts",
        F.round("asof_value", 6).alias("asof_value"),
        "asof_event_id",
    )


ORACLE_RESAMPLE = f"""
WITH e AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'error'),
spans AS (SELECT user_id, min(ts) AS lo, max(ts) AS hi FROM e GROUP BY 1),
grid AS (
    SELECT user_id, unnest(generate_series(lo, hi, INTERVAL {_RESAMPLE_STEP} SECOND)) AS ts
    FROM spans
)
SELECT g.user_id, g.ts,
       o.ts AS asof_ts,
       round(o.value, 6) AS asof_value,
       o.event_id AS asof_event_id
FROM grid g
LEFT JOIN e o ON o.user_id = g.user_id AND o.ts <= g.ts
QUALIFY row_number() OVER (PARTITION BY g.user_id, g.ts
                           ORDER BY o.ts DESC, o.event_id DESC) = 1
"""


register("resample_ffill", q_resample_ffill, ORACLE_RESAMPLE)


_FUNNEL_STEPS = ["click", "signup", "purchase"]


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel per user (click → signup → purchase,
    each step strictly after the previous): chained conditional-min
    hash aggregates on the user key — never a per-user sort or
    event-history window."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts"
    )
    return funnels.funnel_times(e, _FUNNEL_STEPS)


ORACLE_FUNNEL = """
WITH t1 AS (
    SELECT user_id, min(CASE WHEN event_type = 'click' THEN ts END) AS t_1
    FROM events GROUP BY 1
),
t2 AS (
    SELECT e.user_id,
           min(CASE WHEN e.event_type = 'signup' AND e.ts > t1.t_1
                    THEN e.ts END) AS t_2
    FROM events e JOIN t1 ON e.user_id = t1.user_id GROUP BY 1
),
t3 AS (
    SELECT e.user_id,
           min(CASE WHEN e.event_type = 'purchase' AND e.ts > t2.t_2
                    THEN e.ts END) AS t_3
    FROM events e JOIN t2 ON e.user_id = t2.user_id GROUP BY 1
)
SELECT t1.user_id, t_1, t_2, t_3,
       CAST(t_1 IS NOT NULL AS INT) + CAST(t_2 IS NOT NULL AS INT)
       + CAST(t_3 IS NOT NULL AS INT) AS reached
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


def q_funnel_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel collapsed to its chart: users reaching each step."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts"
    )
    return funnels.funnel_counts(
        funnels.funnel_times(e, _FUNNEL_STEPS), len(_FUNNEL_STEPS)
    )


ORACLE_FUNNEL_CHART = f"""
WITH f AS ({ORACLE_FUNNEL.strip()})
SELECT step, n_users FROM (
    SELECT 1 AS step, sum(CAST(t_1 IS NOT NULL AS BIGINT)) AS n_users FROM f
    UNION ALL
    SELECT 2, sum(CAST(t_2 IS NOT NULL AS BIGINT)) FROM f
    UNION ALL
    SELECT 3, sum(CAST(t_3 IS NOT NULL AS BIGINT)) FROM f
)
"""

_RETENTION_BUCKET_DAYS = 7


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the event stream: cohort =
    first-activity week, offset = weeks since, cell = distinct active
    users."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events")).select("user_id", "ts")
    return funnels.cohort_retention(
        e, bucket_days=_RETENTION_BUCKET_DAYS
    )


ORACLE_RETENTION = f"""
WITH first AS (SELECT user_id, min(ts) AS fts FROM events GROUP BY 1),
acts AS (
    SELECT DISTINCT e.user_id,
           CAST(floor(date_diff('day', DATE '1970-01-01', CAST(f.fts AS DATE))
                      / {_RETENTION_BUCKET_DAYS}) AS BIGINT) AS cb,
           CAST(floor(date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE))
                      / {_RETENTION_BUCKET_DAYS}) AS BIGINT) AS ab
    FROM events e JOIN first f ON e.user_id = f.user_id
)
SELECT DATE '1970-01-01' + CAST(cb * {_RETENTION_BUCKET_DAYS} AS INT) AS cohort_start,
       ab - cb AS period_offset,
       count(DISTINCT user_id) AS n_active
FROM acts
GROUP BY 1, 2
"""


register("funnel_steps", q_funnel_steps, ORACLE_FUNNEL)
register("funnel_chart", q_funnel_chart, ORACLE_FUNNEL_CHART)
register("cohort_retention", q_cohort_retention, ORACLE_RETENTION)


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy part-name matching within edit distance 2: token-blocked
    candidates + length pre-filter, levenshtein only on survivors."""
    p = rebalance(load_table(spark, sf_dir, "part")).select("p_partkey", "p_name")
    return dedup.fuzzy_name_pairs(p, "p_partkey", "p_name", max_dist=2)


ORACLE_FUZZY = f"""
WITH norm AS (
    SELECT p_partkey AS id,
           regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name
    FROM part
),
toks AS (
    SELECT id, name, length(name) AS len,
           unnest(list_distinct([string_split(name, ' ')[1],
                                 string_split(name, ' ')[-1]])) AS block
    FROM norm
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
    FROM toks a JOIN toks b
      ON a.block = b.block AND a.id < b.id AND abs(a.len - b.len) <= 2
)
SELECT id_a, id_b, levenshtein(name_a, name_b) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 2
"""


register("fuzzy_name_pairs", q_fuzzy_name_pairs, ORACLE_FUZZY)


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QC stats (mean/variance/min/max per
    dim) — the tall-skinny posexplode + one hash aggregate."""
    e = rebalance(load_table(spark, sf_dir, "embeddings")).select("embedding")
    return similarity.embedding_dim_stats(e)


ORACLE_DIM_STATS = """
WITH x AS (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS xd
    FROM embeddings
)
SELECT dim,
       round(avg(xd), 6) AS mean,
       round(avg(xd * xd) - avg(xd) * avg(xd), 6) AS var_pop,
       round(min(xd), 6) AS dim_min,
       round(max(xd), 6) AS dim_max
FROM x
GROUP BY 1
"""


register("embedding_dim_stats", q_embedding_dim_stats, ORACLE_DIM_STATS)


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profiling of orders (completeness,
    cardinality, bounds) — ALL metrics as one fused aggregate, never
    one job per column.  The oracle is an independent per-column
    UNION ALL formulation.  o_orderdate is excluded on purpose:
    timestamp→string casts format differently across engines and the
    profile's bounds columns are strings."""
    from ..operators import profiling

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return profiling.profile_columns(o, _PROFILE_COLS)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       sum(CAST({c} IS NULL AS BIGINT)) AS n_null,
       round(CAST(sum(CAST({c} IS NULL AS BIGINT)) AS DOUBLE) / count(*), 6)
           AS null_frac,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_str,
       CAST(max({c}) AS VARCHAR) AS max_str
FROM orders""")
    return "\nUNION ALL\n".join(parts)


register("profile_columns", q_profile_columns, _profile_oracle())


_FUNNEL_SPAN = 7 * 86400


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel bounded to a 7-day conversion window anchored at
    each user's first step-1 event — the 'converted within N days'
    semantic of funnel tooling."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts"
    )
    return funnels.funnel_times(
        e, _FUNNEL_STEPS, max_span_seconds=_FUNNEL_SPAN
    )


ORACLE_FUNNEL_WINDOWED = f"""
WITH t1 AS (
    SELECT user_id, min(CASE WHEN event_type = 'click' THEN ts END) AS t_1
    FROM events GROUP BY 1
),
t2 AS (
    SELECT e.user_id,
           min(CASE WHEN e.event_type = 'signup' AND e.ts > t1.t_1
                         AND e.ts <= t1.t_1 + INTERVAL {_FUNNEL_SPAN} SECOND
                    THEN e.ts END) AS t_2
    FROM events e JOIN t1 ON e.user_id = t1.user_id GROUP BY 1
),
t3 AS (
    SELECT e.user_id,
           min(CASE WHEN e.event_type = 'purchase' AND e.ts > t2.t_2
                         AND e.ts <= t1.t_1 + INTERVAL {_FUNNEL_SPAN} SECOND
                    THEN e.ts END) AS t_3
    FROM events e
    JOIN t2 ON e.user_id = t2.user_id
    JOIN t1 ON e.user_id = t1.user_id
    GROUP BY 1
)
SELECT t1.user_id, t_1, t_2, t_3,
       CAST(t_1 IS NOT NULL AS INT) + CAST(t_2 IS NOT NULL AS INT)
       + CAST(t_3 IS NOT NULL AS INT) AS reached
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


register("funnel_windowed", q_funnel_windowed, ORACLE_FUNNEL_WINDOWED)


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 versioned upsert of the customer-segment dimension: an
    update batch (derived deterministically from customer) changes
    some segments, repeats others verbatim (no-ops), and introduces
    new keys — one full-outer set-algebra merge, no row loop."""
    from ..operators import scd

    c = rebalance(load_table(spark, sf_dir, "customer"))
    t0 = F.lit("2023-01-01 00:00:00").cast("timestamp_ntz")
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    dim = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key"),
        F.concat(F.col("c_mktsegment"), F.lit("-R")).alias("seg"),
        t1.alias("effective_ts"),
    )
    noops = c.filter(F.col("c_custkey") % 3 == 1).select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        t1.alias("effective_ts"),
    )
    fresh = c.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("key"),
        F.lit("NEWSEG").alias("seg"),
        t1.alias("effective_ts"),
    )
    out = scd.scd2_merge(
        dim, changed.unionByName(noops).unionByName(fresh), "key", ["seg"]
    )
    return out.select("key", "seg", "valid_from", "valid_to", "is_current")


ORACLE_SCD2 = """
WITH dim AS (
    SELECT c_custkey AS key, c_mktsegment AS seg,
           TIMESTAMP '2023-01-01 00:00:00' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM customer
),
upd AS (
    SELECT c_custkey AS key, c_mktsegment || '-R' AS seg,
           TIMESTAMP '2024-01-01 00:00:00' AS eff
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, TIMESTAMP '2024-01-01 00:00:00'
    FROM customer WHERE c_custkey % 3 = 1
    UNION ALL
    SELECT c_custkey + 1000000, 'NEWSEG', TIMESTAMP '2024-01-01 00:00:00'
    FROM customer WHERE c_custkey % 7 = 0
),
j AS (
    SELECT coalesce(d.key, u.key) AS key, d.seg AS dseg, u.seg AS useg,
           d.valid_from AS dvf, u.eff AS eff,
           d.key IS NOT NULL AS has_cur, u.key IS NOT NULL AS has_upd
    FROM dim d FULL OUTER JOIN upd u ON d.key = u.key
)
SELECT key, dseg AS seg, dvf AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM j WHERE has_cur AND NOT (has_upd AND dseg IS DISTINCT FROM useg)
UNION ALL
SELECT key, dseg, dvf, eff, FALSE
FROM j WHERE has_cur AND has_upd AND dseg IS DISTINCT FROM useg
UNION ALL
SELECT key, useg, eff, CAST(NULL AS TIMESTAMP), TRUE
FROM j WHERE (has_cur AND has_upd AND dseg IS DISTINCT FROM useg)
          OR (has_upd AND NOT has_cur)
"""


register("scd2_merge", q_scd2_merge, ORACLE_SCD2)


def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition SCD2 + as-of exist for: each order enriched
    with the customer-segment version that was CURRENT at order time.
    The versioned dimension comes from scd2_merge (segments change at
    2024-01-01 for keys % 3 == 0); the lookup is asof_join on the
    version-open timestamps — union+window, one shuffle, no range
    join.  Orders before the dimension's first version resolve to
    NULL (no segment was in effect), counted honestly per segment."""
    from ..operators import scd

    c = rebalance(load_table(spark, sf_dir, "customer"))
    o = rebalance(load_table(spark, sf_dir, "orders")).select(
        "o_orderkey",
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
    )
    t0 = F.lit("1995-06-01 00:00:00").cast("timestamp_ntz")
    t1 = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    dim = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key"),
        F.concat(F.col("c_mktsegment"), F.lit("-R")).alias("seg"),
        t1.alias("effective_ts"),
    )
    versions = scd.scd2_merge(dim, upd, "key", ["seg"]).select(
        "key",
        F.col("valid_from").alias("ts"),
        "seg",
        # version open ts doubles as the right-side id: unique per key
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("vid"),
    )
    matched = windows.asof_join(o, versions, "key", "ts", ["seg"], "vid")
    return matched.groupBy(F.col("asof_seg").alias("seg")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


ORACLE_PIT = """
WITH dim AS (
    SELECT c_custkey AS key, c_mktsegment AS seg,
           TIMESTAMP '1995-06-01 00:00:00' AS vf
    FROM customer
    UNION ALL
    SELECT c_custkey, c_mktsegment || '-R', TIMESTAMP '1997-01-01 00:00:00'
    FROM customer WHERE c_custkey % 3 = 0
),
m AS (
    SELECT o.o_orderkey, d.seg
    FROM orders o LEFT JOIN dim d
      ON d.key = o.o_custkey AND d.vf <= o.o_orderdate
    QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
                               ORDER BY d.vf DESC) = 1
)
SELECT seg, count(*) AS n_orders FROM m GROUP BY 1
"""


register("point_in_time_join", q_point_in_time_join, ORACLE_PIT)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed between two dimension snapshots (the producing
    twin of scd2_merge): keys %5==0 change segment, %11==0 are deleted
    from the new snapshot (delete wins over change), %13==0 spawn a
    fresh key — one full-outer set-algebra diff, delta-sized output."""
    from ..operators import scd

    c = rebalance(load_table(spark, sf_dir, "customer"))
    old = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nk"),
    )
    new = (
        c.filter(F.col("c_custkey") % 11 != 0)
        .select(
            F.col("c_custkey").alias("key"),
            F.when(
                F.col("c_custkey") % 5 == 0,
                F.concat(F.col("c_mktsegment"), F.lit("-X")),
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
            F.col("c_nationkey").alias("nk"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 2_000_000).alias("key"),
                F.lit("FRESH").alias("seg"),
                F.col("c_nationkey").alias("nk"),
            )
        )
    )
    return scd.snapshot_diff(old, new, "key", ["seg", "nk"])


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
    SELECT c_custkey AS key, c_mktsegment AS seg, c_nationkey AS nk
    FROM customer
),
new AS (
    SELECT c_custkey AS key,
           CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '-X'
                ELSE c_mktsegment END AS seg,
           c_nationkey AS nk
    FROM customer WHERE c_custkey % 11 <> 0
    UNION ALL
    SELECT c_custkey + 2000000, 'FRESH', c_nationkey
    FROM customer WHERE c_custkey % 13 = 0
),
j AS (
    SELECT coalesce(o.key, n.key) AS key,
           o.seg AS oseg, o.nk AS onk, n.seg AS nseg, n.nk AS nnk,
           o.key IS NOT NULL AS ho, n.key IS NOT NULL AS hn
    FROM old o FULL OUTER JOIN new n ON o.key = n.key
)
SELECT key,
       CASE WHEN NOT ho THEN 'insert'
            WHEN NOT hn THEN 'delete'
            ELSE 'update' END AS change_type,
       CASE WHEN hn THEN nseg ELSE oseg END AS seg,
       CASE WHEN hn THEN nnk ELSE onk END AS nk
FROM j
WHERE NOT ho OR NOT hn
   OR (oseg IS DISTINCT FROM nseg OR onk IS DISTINCT FROM nnk)
"""


register("snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF)


def q_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (slope/intercept/R² of extendedprice on
    quantity per returnflag) — the SQL-standard regr_* family as one
    codegen hash aggregate; group-by-count shuffle shape at 100 TB."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.group_ols(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


ORACLE_GROUP_OLS = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n_pairs
FROM lineitem
GROUP BY 1
"""


register("group_ols", q_group_ols, ORACLE_GROUP_OLS)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase credits its
    value to the user's most recent preceding non-purchase event type.
    One union+window sweep per user — the as-of machinery (J6) turned
    into the marketing-analytics report; no range join."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events"))
    return funnels.last_touch_attribution(e, "purchase")


ORACLE_ATTRIBUTION = """
WITH conv AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
),
m AS (
    SELECT c.event_id, c.value, t.event_type AS channel
    FROM conv c LEFT JOIN events t
      ON t.user_id = c.user_id AND t.ts <= c.ts
     AND t.event_type <> 'purchase'
    QUALIFY row_number() OVER (PARTITION BY c.event_id
                               ORDER BY t.ts DESC, t.event_id DESC) = 1
)
SELECT coalesce(channel, '(none)') AS channel,
       count(*) AS n_conversions,
       round(sum(value), 4) AS attributed_value
FROM m GROUP BY 1
"""


register("attribution", q_attribution, ORACLE_ATTRIBUTION)


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (perplexity-filter upgrade of
    unigram_lm_score): mean ln(0.7·P(cur|prev) + 0.3·P(cur)) per doc,
    fit on the corpus itself.  tf-collapsed shuffles, broadcast count
    tables; docs under two tokens carry no signal and are excluded."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.bigram_lm_score(d, "doc_id", "text", lam=0.7)


ORACLE_BIGRAM_LM = """
WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS term
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS t
          FROM documents)
),
uni AS (SELECT term, count(*) AS c1 FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS n FROM toks),
big AS (
    SELECT a.doc_id, a.term AS prev, b.term AS cur
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
c2 AS (SELECT prev, cur, count(*) AS c2 FROM big GROUP BY 1, 2),
ctx AS (SELECT prev, sum(c2) AS cctx FROM c2 GROUP BY 1)
SELECT g.doc_id, count(*) AS n_bigrams,
       round(avg(ln(0.7 * (CAST(c2.c2 AS DOUBLE) / ctx.cctx)
                  + 0.3 * (CAST(u.c1 AS DOUBLE) / tot.n))), 6) AS lm_score
FROM big g
JOIN c2 USING (prev, cur)
JOIN ctx USING (prev)
JOIN uni u ON g.cur = u.term, tot
GROUP BY 1
"""


register("bigram_lm_score", q_bigram_lm_score, ORACLE_BIGRAM_LM)


# --- round-11 widening batch 39: dedup savings accounting, LSH
# --- threshold tuning sweep


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact report — the number a data-acquisition
    meeting actually asks for ("how much of source X is duplicate
    tokens?"): exact-digest keepers (min-id canonical per normalized
    content) flagged back onto the corpus, token totals before/after,
    savings ratio.  One digest group-by (shuffle = 16-byte digests) +
    one broadcast-size keeper semi-flag join + one source aggregate."""
    from ..operators import dedup as dd

    d = rebalance(load_table(spark, sf_dir, "documents"))
    toks = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
            lambda x: x != "",
        )
    )
    base = d.select("doc_id", "source", toks.alias("__toks"))
    keep = dd.exact_dedup_groups(d).select(
        F.col("canonical_id").alias("doc_id"),
        F.lit(1).alias("__keep"),
    )
    flagged = base.join(keep, "doc_id", "left")
    kept_toks = F.sum(F.when(F.col("__keep") == 1, F.col("__toks")))
    total_toks = F.sum("__toks")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("__keep").cast("long").alias("n_kept"),
            total_toks.cast("long").alias("tokens_total"),
            kept_toks.cast("long").alias("tokens_kept"),
            F.round(
                F.when(
                    total_toks > 0,
                    1.0 - kept_toks.cast("double") / total_toks,
                ),
                6,
            ).alias("token_savings"),
        )
    )


def _dedup_savings_oracle() -> str:
    from .core import _DUCK_NORM, _duck_hash

    return f"""
WITH h AS (
    SELECT doc_id, source,
           len(list_filter(string_split_regex(lower(trim(text)),
               '\\s+'), x -> x <> '')) AS toks,
           {_duck_hash(_DUCK_NORM, 0)} AS ch,
           length({_DUCK_NORM}) AS cl
    FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch, cl)
SELECT h.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(k.doc_id) AS BIGINT) AS n_kept,
       CAST(sum(h.toks) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN h.toks END)
            AS BIGINT) AS tokens_kept,
       round(CASE WHEN sum(h.toks) > 0 THEN
           1.0 - sum(CASE WHEN k.doc_id IS NOT NULL THEN h.toks
                          ELSE 0 END) * 1.0 / sum(h.toks) END, 6)
           AS token_savings
FROM h LEFT JOIN keep k ON h.doc_id = k.doc_id
GROUP BY 1
"""


# thresholds chosen as exact multiples of 1/16 (= 1/num_hashes), so
# est_jaccard comparisons and means are exact binary fractions in
# BOTH engines — no float-summation-order hash risk
_LSH_SWEEP_T = (0.25, 0.5, 0.75, 1.0)


def q_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD TUNING curve: how many candidate pairs survive
    each estimated-Jaccard cut — the one-pass readout that picks the
    near-dup threshold before committing a corpus-sized dedup run.
    Reuses the MinHash estimate plan (signatures + banded pairs), adds
    one exploded-literal threshold sweep and a conditional aggregate;
    thresholds never drop rows (zero-match cuts report 0)."""
    from .core import q_minhash_jaccard_estimate

    est = q_minhash_jaccard_estimate(spark, sf_dir)
    sweep = est.select(
        "est_jaccard",
        F.explode(
            F.array(*[F.lit(float(t)) for t in _LSH_SWEEP_T])
        ).alias("threshold"),
    )
    hit = F.col("est_jaccard") >= F.col("threshold")
    return (
        sweep.groupBy("threshold")
        .agg(
            F.count(F.when(hit, 1)).cast("long").alias("n_pairs"),
            F.round(
                F.avg(F.when(hit, F.col("est_jaccard"))), 6
            ).alias("mean_est_jaccard"),
        )
        .orderBy("threshold")
    )


def _lsh_sweep_oracle() -> str:
    from .core import _minhash_estimate_oracle

    ts = ", ".join(repr(float(t)) for t in _LSH_SWEEP_T)
    return f"""
WITH est AS ({_minhash_estimate_oracle().strip()})
SELECT CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(count(CASE WHEN est.est_jaccard >= t.threshold THEN 1 END)
            AS BIGINT) AS n_pairs,
       round(avg(CASE WHEN est.est_jaccard >= t.threshold
                      THEN est.est_jaccard END), 6)
           AS mean_est_jaccard
FROM est CROSS JOIN (SELECT unnest([{ts}]) AS threshold) t
GROUP BY 1
ORDER BY 1
"""


register("dedup_savings", q_dedup_savings, _dedup_savings_oracle())
register("lsh_threshold_sweep", q_lsh_threshold_sweep, _lsh_sweep_oracle())


# --- round-11 widening batch 40b: duplicate-vs-quality cross-tab


def q_dup_quality_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicates LOWER quality?  The curation sanity check that
    decides whether dedup doubles as a quality filter: quality
    quartile (sketch thresholds riding in-plane, rank-exact at
    fixture scale) × exact-digest dup status, cell counts + mean
    quality.  One score pass, one digest group-by, one broadcast of
    the 3-threshold row."""
    from ..operators import dedup as dd
    from ..operators import text as tx

    d = rebalance(load_table(spark, sf_dir, "documents"))
    scored = tx.quality_score(d.select("doc_id", "text")).select(
        "doc_id", "quality"
    )
    thr = scored.agg(
        F.round(
            F.expr("approx_percentile(quality, 0.25, 1000000)"), 6
        ).alias("q25"),
        F.round(
            F.expr("approx_percentile(quality, 0.50, 1000000)"), 6
        ).alias("q50"),
        F.round(
            F.expr("approx_percentile(quality, 0.75, 1000000)"), 6
        ).alias("q75"),
    )
    keep = dd.exact_dedup_groups(d).select(
        F.col("canonical_id").alias("doc_id"), F.lit(1).alias("__keep")
    )
    staged = (
        scored.crossJoin(F.broadcast(thr))
        .join(keep, "doc_id", "left")
        .select(
            F.when(F.col("quality") <= F.col("q25"), "Q1")
            .when(F.col("quality") <= F.col("q50"), "Q2")
            .when(F.col("quality") <= F.col("q75"), "Q3")
            .otherwise("Q4")
            .alias("quality_quartile"),
            F.coalesce(F.col("__keep") == 1, F.lit(False)).alias(
                "is_canonical"
            ),
            "quality",
        )
    )
    return staged.groupBy("quality_quartile", "is_canonical").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
    )


def _dup_quality_oracle() -> str:
    from .core import _DUCK_NORM, _duck_hash, _quality_oracle

    quality = _quality_oracle().strip()
    return f"""
WITH s AS (SELECT doc_id, quality FROM ({quality})),
thr AS (
    SELECT round(quantile_disc(quality, 0.25), 6) AS q25,
           round(quantile_disc(quality, 0.50), 6) AS q50,
           round(quantile_disc(quality, 0.75), 6) AS q75
    FROM s
),
h AS (
    SELECT doc_id, {_duck_hash(_DUCK_NORM, 0)} AS ch,
           length({_DUCK_NORM}) AS cl
    FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch, cl),
staged AS (
    SELECT CASE WHEN s.quality <= thr.q25 THEN 'Q1'
                WHEN s.quality <= thr.q50 THEN 'Q2'
                WHEN s.quality <= thr.q75 THEN 'Q3'
                ELSE 'Q4' END AS quality_quartile,
           k.doc_id IS NOT NULL AS is_canonical,
           s.quality
    FROM s CROSS JOIN thr LEFT JOIN keep k ON s.doc_id = k.doc_id
)
SELECT quality_quartile, is_canonical,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(quality), 6) AS mean_quality
FROM staged GROUP BY 1, 2
"""


register("dup_quality_crosstab", q_dup_quality_crosstab, _dup_quality_oracle())


# --- round-11 widening batch 50a: composed annotation-budget pipeline


_ABP_N = 500


def q_annotation_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END labeling plan — the round-11 composition exhibit:
    exact-dedup keepers → above-median quality gate → Neyman
    allocation of 500 annotation slots across sources by N_i·σ_i of
    text length over the CURATED corpus.  One digest group-by, one
    score pass with the in-plane sketch threshold, one stratum
    aggregate + dimension-bounded remainder window — the corpus never
    shuffles at row grain more than the dedup join requires."""
    from ..operators import dedup as dd
    from ..operators import stats
    from ..operators import text as tx

    d = rebalance(load_table(spark, sf_dir, "documents"))
    keep = dd.exact_dedup_groups(d).select(
        F.col("canonical_id").alias("doc_id")
    )
    kept = d.join(keep, "doc_id", "left_semi")
    scored = tx.quality_score(kept.select("doc_id", "text")).select(
        "doc_id", "quality"
    )
    thr = scored.agg(
        F.round(
            F.expr("approx_percentile(quality, 0.5, 1000000)"), 6
        ).alias("q50")
    )
    curated = (
        kept.join(scored, "doc_id")
        .crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("q50"))
        .select("source", F.length("text").alias("text_len"))
    )
    return stats.neyman_allocation(curated, "source", "text_len", _ABP_N)


def _annotation_budget_oracle() -> str:
    from .core import _DUCK_NORM, _duck_hash, _quality_oracle

    quality = _quality_oracle().strip()
    return f"""
WITH h AS (
    SELECT doc_id, {_duck_hash(_DUCK_NORM, 0)} AS ch,
           length({_DUCK_NORM}) AS cl
    FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch, cl),
q AS (SELECT doc_id, quality FROM ({quality})),
kq AS (SELECT q.doc_id, q.quality FROM q JOIN keep USING (doc_id)),
thr AS (SELECT round(quantile_disc(quality, 0.5), 6) AS q50 FROM kq),
curated AS (
    SELECT d.source, CAST(length(d.text) AS DOUBLE) AS text_len
    FROM documents d JOIN kq ON d.doc_id = kq.doc_id
    CROSS JOIN thr
    WHERE kq.quality >= thr.q50 AND d.source IS NOT NULL
),
per AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_pop,
           round(coalesce(stddev_samp(text_len), 0.0), 6) AS sd
    FROM curated GROUP BY 1
),
wt AS (SELECT *, round(n_pop * sd, 6) AS weight FROM per),
ideal_t AS (
    SELECT *,
           CASE WHEN sum(weight) OVER () > 0 THEN
               round({float(_ABP_N)!r} * weight
                     / sum(weight) OVER (), 6)
           ELSE 0.0 END AS ideal
    FROM wt
),
based AS (
    SELECT *,
           CAST(floor(ideal) AS BIGINT) AS base,
           ideal - floor(ideal) AS frac
    FROM ideal_t
),
ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY frac DESC, source ASC) AS rk,
           {_ABP_N} - sum(base) OVER () AS rem
    FROM based
)
SELECT source, n_pop, sd, weight, ideal,
       least(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END, n_pop)
           AS n_alloc
FROM ranked
"""


register("annotation_budget", q_annotation_budget, _annotation_budget_oracle())


# --- round-12 composition exhibit: incremental-ingest training-shard
# pipeline (VERDICT r11 task 6 — compose existing operators end-to-end
# instead of widening; the batch-50 annotation-budget pipeline is the
# model)

_TSP_QUALITY_Q = 0.4  # survivors must clear the batch 40th percentile
_TSP_TEMP = 2.0  # temperature for share^(1/T) domain flattening
_TSP_BUDGET = 0.6  # mixed corpus targets 60% of the curated batch


def q_training_shard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-shard build — the production journey a new
    crawl batch takes from landing to packed shards, composed entirely
    from existing verified operators and checked by ONE fused-plan
    DuckDB oracle:

    1. **ingest split**: ``doc_id % 4 == 0`` is the incoming batch,
       the rest is the already-ingested reference corpus (the
       q_incremental_dedup fixture convention);
    2. **incremental exact dedup** (``dedup.exact_dedup`` within the
       batch + digest anti-join against the reference): the reference
       corpus collapses to a 16-byte digest set — never rewritten,
       never re-deduped;
    3. **quality gate** (``text.quality_score``): survivors must clear
       the batch's own 40th quality percentile, threshold from the
       in-plane approx_percentile sketch (1e6 accuracy = exact order
       statistic, the annotation_budget precedent);
    4. **temperature mix** (``sampling.temperature_mix``): per-source
       share^(1/2) flattening toward 60% of the curated batch via the
       stable xxhash-free portable gate — head sources down-sampled,
       tail kept;
    5. **pack** (``sampling.pack_sequences``): selected docs laid
       end-to-end per shard (doc_id mod 8, doc_id order), 2048-token
       concat-and-chunk boundaries.

    Output is the shard MANIFEST (one row per (shard, pack) with doc /
    token / source counts and the doc-id span) — what a loader
    actually reads.

    Scale shape: every stage is a hash aggregate, a broadcast of a
    dimension-bounded table (digest set excepted — that join is
    digest-keyed and shuffle-partitioned), or a narrow projection; the
    corpus shuffles at row grain exactly twice (dedup digest group-by,
    per-shard packing window).  Stages recompute rather than persist
    at this size — a 100 TB deployment would checkpoint survivors
    between 2 and 3 (the curation_pipeline note applies)."""
    from ..functions import portable_hash64, word_tokens
    from .core import _PACK_BUDGET, _PACK_SHARDS, _SAMPLE_SALT

    d = rebalance(load_table(spark, sf_dir, "documents"))
    new_df = d.filter(F.col("doc_id") % _INC_SPLIT_MOD == 0)
    ref_df = d.filter(F.col("doc_id") % _INC_SPLIT_MOD != 0)

    # 2. canonical-per-digest within the batch, then drop anything the
    # reference corpus already has (digest-keyed anti-join).  The
    # survivor ID LIST is persisted (8 bytes/doc — the curation_pipeline
    # discipline: persist ids/scores, never text): downstream stages
    # branch off it 3 ways, and without the persist each branch re-runs
    # the dedup digest group-by + the reference digest scan.
    canon = dedup.exact_dedup(new_df)
    ref_digests = ref_df.select(
        portable_hash64(dedup.normalized_text("text")).alias("content_hash"),
        F.length(dedup.normalized_text("text")).alias("content_len"),
    ).distinct()
    fresh_ids = persist(
        canon.withColumn(
            "content_hash", portable_hash64(dedup.normalized_text("text"))
        )
        .withColumn("content_len", F.length(dedup.normalized_text("text")))
        .join(ref_digests, ["content_hash", "content_len"], "left_anti")
        .select("doc_id")
    )
    fresh = d.join(fresh_ids, "doc_id", "left_semi")

    # 3. quality gate at the batch 40th percentile; (doc_id, quality)
    # persisted at the branch point — the threshold aggregate and the
    # gate filter both read it
    scored = persist(
        text.quality_score(fresh.select("doc_id", "text")).select(
            "doc_id", "quality"
        )
    )
    thr = scored.agg(
        F.round(
            F.expr(
                f"approx_percentile(quality, {_TSP_QUALITY_Q}, 1000000)"
            ),
            6,
        ).alias("qthr")
    )
    # The curated batch collapses to (doc_id, source, tokens) —
    # ~20 bytes/doc, the text is DONE after tokenization — and is
    # CHECKPOINTED here (eager checkpoint): mixing branches off
    # it 3 ways and packing once more, and a real 100 TB shard build
    # writes survivors between curation and packing anyway, so the
    # stage boundary is materialized rather than recomputed 4×.  The
    # shard key divides the ingest-split modulus out of doc_id first:
    # the batch is doc_id % 4 == 0, so sharding on raw doc_id % 8
    # would populate only shards {0, 4}.
    curated = checkpoint(
        fresh.join(scored, "doc_id")
        .crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("qthr"))
        .select(
            "doc_id",
            "source",
            F.pmod(
                F.floor(F.col("doc_id") / _INC_SPLIT_MOD),
                F.lit(_PACK_SHARDS),
            )
            .cast("int")
            .alias("shard"),
            F.size(word_tokens("text")).alias("tokens"),
        )
    )
    # upstream intermediates are fully consumed by the checkpoint
    release(fresh_ids)
    release(scored)

    # 4. temperature-scaled domain mixing over the checkpointed frame
    mixed = sampling.temperature_mix(
        curated,
        "source",
        temperature=_TSP_TEMP,
        budget_fraction=_TSP_BUDGET,
        key_col="doc_id",
        salt=_SAMPLE_SALT,
    )

    # 5. pack per shard, then roll up the manifest
    packed = sampling.pack_sequences(
        mixed.select("doc_id", "source", "shard", "tokens"),
        token_col="tokens",
        budget=_PACK_BUDGET,
        shard_col="shard",
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("pack_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


def _training_shard_oracle() -> str:
    from .core import _PACK_BUDGET, _PACK_SHARDS, _SAMPLE_SALT

    quality = _quality_oracle().strip()
    return f"""
WITH newb AS (
    SELECT doc_id, source, text FROM documents
    WHERE doc_id % {_INC_SPLIT_MOD} = 0
),
nh AS (
    SELECT doc_id, source, text,
           {_duck_hash(_DUCK_NORM, 0)} AS ch, length({_DUCK_NORM}) AS cl
    FROM newb
),
canon AS (SELECT min(doc_id) AS doc_id FROM nh GROUP BY ch, cl),
rh AS (
    SELECT DISTINCT {_duck_hash(_DUCK_NORM, 0)} AS ch,
           length({_DUCK_NORM}) AS cl
    FROM documents WHERE doc_id % {_INC_SPLIT_MOD} <> 0
),
fresh AS (
    SELECT nh.doc_id, nh.source, nh.text
    FROM nh JOIN canon USING (doc_id)
    ANTI JOIN rh ON nh.ch = rh.ch AND nh.cl = rh.cl
),
q AS (SELECT doc_id, quality FROM ({quality})),
thr AS (
    SELECT round(quantile_disc(q.quality, {_TSP_QUALITY_Q}), 6) AS qthr
    FROM q JOIN fresh USING (doc_id)
),
curated AS (
    SELECT f.doc_id, f.source, f.text
    FROM fresh f JOIN q USING (doc_id) CROSS JOIN thr
    WHERE q.quality >= thr.qthr AND f.source IS NOT NULL
),
counts AS (SELECT source, count(*) AS n_g FROM curated GROUP BY 1),
p AS (SELECT source, n_g,
             pow(CAST(n_g AS DOUBLE), {1.0 / _TSP_TEMP!r}) AS w
      FROM counts),
norms AS (SELECT sum(w) AS wsum, sum(n_g) AS n FROM p),
rates AS (SELECT source,
                 least(1.0, {_TSP_BUDGET!r} * norms.n * (w / wsum) / n_g)
                 AS rate
          FROM p, norms),
mixed AS (
    SELECT c.doc_id, c.source, c.text
    FROM curated c JOIN rates r USING (source)
    WHERE {_duck_hash("CAST(doc_id AS VARCHAR)", _SAMPLE_SALT)} % 1000000
          < CAST(floor(r.rate * 1000000) AS BIGINT)
),
t AS (
    SELECT doc_id, source,
           CAST((doc_id // {_INC_SPLIT_MOD}) % {_PACK_SHARDS} AS INT)
               AS shard,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '')) AS tokens
    FROM mixed
),
o AS (
    SELECT doc_id, source, shard, tokens,
           CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - tokens
                AS BIGINT) AS pack_offset
    FROM t
),
packed AS (
    SELECT *,
           CAST(floor(pack_offset / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM o
)
SELECT shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS pack_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM packed GROUP BY 1, 2
"""


register("training_shard_pipeline", q_training_shard_pipeline,
         _training_shard_oracle())


# --- round-12 composition exhibit 2: eval-safe split plan
# (near-dup clusters -> cluster-level decontamination -> cluster-keyed
# split -> per-(split, source) manifest)


def q_eval_safe_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END eval-safe corpus split — the other half of the
    training-shard journey (q_training_shard_pipeline builds shards;
    this builds the SPLIT PLAN they must respect), composed from
    verified operators under one fused DuckDB oracle:

    1. **near-dup clusters** (``dedup.minhash_signatures`` →
       ``dedup.lsh_candidate_pairs`` → ``graph.connected_components``):
       the leakage unit is the duplicate FAMILY, never the document;
    2. **cluster-level decontamination**
       (``text.contamination_flags`` vs eval docs 0-9): if ANY member
       of a cluster shares a character 24-gram with the benchmark, the
       WHOLE cluster is quarantined — a per-doc drop would leave the
       contaminated doc's near-twins in the training set, which is the
       leak decontamination exists to stop;
    3. **cluster-keyed 90/5/5 hash split** (``sampling.hash_split`` on
       the component id): near-duplicates travel together, so no val /
       test doc has a training twin;
    4. **manifest**: per (split, source) doc / cluster / token counts —
       the sign-off table a data lead reads before a training run.

    Scale shape: signatures and banding are narrow HOFs + one
    band-keyed equi-join; CC label propagation is the checkpointed
    iterative operator; eval grams broadcast; the split is a pure
    expression on the component id; the manifest is one hash
    aggregate.  The corpus text never shuffles."""
    from ..operators.graph import connected_components

    d = rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=_MINHASH_K, num_hashes=_MINHASH_N)
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    # 24-char grams (the q_curation_pipeline calibration): 8-char
    # grams flag essentially every doc at fixture scale, and a
    # cluster-level quarantine amplifies that to an empty corpus
    contam = text.contamination_flags(
        d, d.filter(F.col("doc_id") < _CONTAM_EVAL_IDS), k=_PIPE_CONTAM_K
    )
    # r14 (guide §2.6): the contamination gram pass (~1 s warm at
    # sf0.1) is independent of the LSH→CC chain (~2 s of sequential
    # driver-blocked rounds) and they only meet at the quarantine
    # join — materialize the contaminated-doc id list concurrently
    # so its one job back-fills cores the CC rounds leave idle.
    contam_ids, comps = concurrently(
        lambda: checkpoint(contam.filter(F.col("contaminated")).select("doc_id")),
        lambda: connected_components(pairs, d.select("doc_id")),
    )
    bad = (
        comps.join(contam_ids, "doc_id", "left_semi")
        .select("component")
        .distinct()
    )
    clean = comps.join(bad, "component", "left_anti")
    split = sampling.hash_split(
        clean, "component", splits=(("train", 90), ("val", 5), ("test", 5))
    )
    toks = text.token_counts(d.select("doc_id", "source", "text")).select(
        "doc_id", "source", "ws_tokens"
    )
    return (
        split.join(toks, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
            F.sum("ws_tokens").cast("long").alias("n_tokens"),
        )
    )


def _eval_safe_split_oracle() -> str:
    from .core import _contamination_oracle

    comps = _components_oracle().strip()
    contam = _contamination_oracle(k=_PIPE_CONTAM_K).strip()
    h = _duck_hash("CAST(component AS VARCHAR)", 0)
    ws = (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
        " x -> x <> ''))"
    )
    return f"""
WITH comps AS ({comps}),
contam AS ({contam}),
bad AS (
    SELECT DISTINCT c.component
    FROM comps c JOIN contam t ON c.doc_id = t.doc_id
    WHERE t.contaminated
),
clean AS (
    SELECT c.doc_id, c.component
    FROM comps c ANTI JOIN bad b ON c.component = b.component
),
sp AS (
    SELECT doc_id, component,
           CASE WHEN {h} % 100 < 90 THEN 'train'
                WHEN {h} % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM clean
),
tok AS (SELECT doc_id, source, {ws} AS ws_tokens FROM documents)
SELECT sp.split, tok.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT sp.component) AS BIGINT) AS n_clusters,
       CAST(sum(tok.ws_tokens) AS BIGINT) AS n_tokens
FROM sp JOIN tok USING (doc_id)
GROUP BY 1, 2
"""


register("eval_safe_split_plan", q_eval_safe_split_plan,
         _eval_safe_split_oracle())

