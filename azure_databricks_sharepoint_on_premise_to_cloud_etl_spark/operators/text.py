"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All native column expressions (regex + higher-order functions) — the
hot path stays in codegen; nothing here shuffles except the caller's
own aggregations.  Every operator is DuckDB-oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable_hash64, word_tokens
from ..scope import checkpoint, persist

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID.  Deliberately small and public-knowledge; at
# production scale you'd ship fastText lid.176 via a pandas UDF — the
# plumbing is identical, only the scorer changes (see multimodal.py for
# the stub pattern).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}


def _marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(F.array_distinct(tokens), marker_arr))


def language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Heuristic language ID: score = count of distinct stopword markers
    present; argmax over languages, ties broken by language code order,
    'und' (undetermined) when nothing matches.

    For zh (no whitespace tokens) the marker hit test also runs on
    characters via ``contains``.
    """
    toks = word_tokens(text_col)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        if lang == "zh":
            hits = [F.when(F.col(text_col).contains(m), 1).otherwise(0) for m in markers]
            score = sum(hits[1:], hits[0])
        else:
            score = _marker_hits(toks, markers)
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # argmax by (score, lang): array_max on structs compares fields in
    # order, so put score first; lang ascending would win ties wrongly
    # reversed — invert by sorting desc on lang? Keep deterministic:
    # max on (score, reversed-rank) — here lang string max = later code
    # wins ties; pin with explicit priority index instead.
    prioritized = [
        F.struct(
            s.getField("score").alias("score"),
            F.lit(-i).alias("prio"),  # earlier language wins ties
            s.getField("lang").alias("lang"),
        )
        for i, s in enumerate(scores)
    ]
    best = F.array_max(F.array(*prioritized))
    pred = F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )
    return df.withColumn(out_col, pred)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0, 1]:

    - ``n_tokens``, ``avg_token_len``
    - ``punct_ratio``: punctuation chars / chars
    - ``stopword_ratio``: english stopword tokens / tokens
    - ``quality``: mean of three clamped signals (length, stopword
      presence, low punctuation) — the C4/Gopher-style cheap filter.
    """
    toks = word_tokens(text_col)
    n_tokens = F.size(toks)
    text_len = F.length(text_col)
    avg_tok = F.when(n_tokens > 0, text_len / n_tokens).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^!-/:-@\[-`{-~]", ""))
    punct_ratio = F.when(text_len > 0, punct / text_len).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    len_signal = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    stop_signal = F.least(stop_ratio * 5.0, F.lit(1.0))
    punct_signal = F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))
    quality = (len_signal + stop_signal + punct_signal) / 3.0
    return df.select(
        *df.columns,
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate: count of
    maximal runs matching word-piece-like units (letters / digits /
    single punctuation), the standard pre-tokenizer regex shape."""
    ws = F.size(word_tokens(text_col))
    bpe_ish = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '([a-z]+|[0-9]|[^a-z0-9\\\\s])', 1)")
    )
    return df.select(
        *df.columns,
        ws.alias("ws_tokens"),
        bpe_ish.alias("bpe_tokens"),
    )


def repeated_ngram_ratio(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word n-grams
    that are duplicates of an earlier n-gram in the same document
    (high ratio = boilerplate/spam loops).  Narrow higher-order
    expression — token array -> n-gram array via transform over
    offsets -> 1 - distinct/total; no shuffle, no UDF.  The token
    array is materialized before the n-gram transform so the
    tokenization split runs once per document, not once per n-gram
    (captured expressions re-evaluate per lambda element).
    """
    out_cols = df.columns
    toks = F.col("__toks")
    n_toks = F.size(toks)
    # n-grams: join tokens i..i+n-1 for i in [0, len-n]
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n_toks - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    ratio = F.when(
        n_toks >= n, 1.0 - distinct / total
    ).otherwise(F.lit(0.0))
    return df.withColumn("__toks", word_tokens(text_col)).select(
        *out_cols,
        n_toks.alias("n_tokens"),
        F.round(ratio, 6).alias(f"rep_{n}gram_ratio"),
    )


def contamination_flags(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: flag corpus documents sharing any
    character ``k``-gram with an evaluation set (the standard
    n-gram-overlap decontamination test).

    Scale shape: the eval side reduces to DISTINCT gram digests (tiny —
    benchmarks are MBs against a 100 TB corpus) and BROADCASTS; the
    corpus explodes to (doc_id, gram_digest) and LEFT SEMI joins, so
    the only wide exchange is the corpus-side explode feeding a
    broadcast semi-join — no shuffle of corpus text, ever.  Returns
    (id_col, contaminated) for every corpus document.
    """
    from ..functions import char_shingles, normalize_text, portable_hash64

    eval_grams = (
        eval_set.withColumn("__norm", normalize_text(text_col))
        .select(
            F.explode(char_shingles("__norm", k)).alias("__g")
        )
        .select(portable_hash64(F.col("__g")).alias("__gh"))
        .distinct()
    )
    corpus_grams = (
        corpus.withColumn("__norm", normalize_text(text_col))
        .select(
            F.col(id_col),
            F.explode(char_shingles("__norm", k)).alias("__g"),
        )
        .select(id_col, portable_hash64(F.col("__g")).alias("__gh"))
    )
    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "__gh", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return corpus.select(id_col).join(hits, id_col, "left").select(
        id_col, F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints: full-content 60-bit digest
    (exact-dup key) and a winnowing-style min-hash over character
    8-gram digests (robust to small edits) — both portable md5-based.

    The normalized text is materialized once and shared by both
    fingerprints; shingling a pre-normalized attribute keeps the
    normalization regex at once per document instead of once per gram
    (HOF lambdas re-evaluate captured expressions per element)."""
    from ..functions import char_shingles, normalize_text

    out_cols = df.columns
    gram_hashes = F.transform(
        char_shingles("__norm", 8),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    return df.withColumn("__norm", normalize_text(text_col)).select(
        *out_cols,
        portable_hash64(F.col("__norm")).alias("content_fp"),
        F.array_min(gram_hashes).alias("min_gram_fp"),
    )


#: PII patterns restricted to syntax Java regex and RE2 share, so the
#: DuckDB oracle evaluates the IDENTICAL expressions (no lookarounds,
#: no backreferences — which RE2 rejects anyway).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", replacement: str = "[PII]"
) -> DataFrame:
    """Mask email / phone / SSN-shaped spans and count each kind.

    Adds ``redacted`` (the masked text) and one ``n_<kind>`` column
    per pattern.  All ``n_<kind>`` counts are computed from the
    ORIGINAL text before any replacement, so replacement order can
    never affect them; the fixed ssn→email→phone replacement order
    only pins WHICH pattern's replacement wins when two patterns'
    spans overlap in the redacted text (kept deterministic so the
    oracle SQL reproduces it exactly).

    Scale shape: pure narrow ``regexp_replace`` / ``regexp_count``
    expressions — whole-stage codegen, zero shuffles, pushdown
    unaffected.  This is the cheap pattern pass every corpus gets;
    ML-based NER redaction is a downstream (model-serving) concern,
    not an engine operator."""
    c = F.col(text_col)
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{kind}", F.regexp_count(c, F.lit(pat)))
    red = c
    for kind in ("ssn", "email", "phone"):  # longest/most-specific first
        red = F.regexp_replace(red, PII_PATTERNS[kind], replacement)
    return out.withColumn("redacted", red)


def remove_repeated_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document repeated n-gram removal — the MassiveText /
    RefinedWeb boilerplate scrub: any word ``n``-gram occurring in at
    least ``min_docs`` DISTINCT documents is boilerplate (nav bars,
    license headers, templated footers), and every token it covers is
    struck from every document.

    Scale shape: the corpus is TOKENIZED ONCE into a persisted
    (MEMORY_AND_DISK, spillable) token table that both the gram-digest
    pass and the final strike pass read — re-tokenizing per pass would
    double the dominant linear term; the caller's scope frees it
    (persisting token arrays costs roughly one corpus copy of
    executor storage, traded for one full tokenization pass).  The
    only corpus-wide exchange is the (doc, digest)-distinct +
    digest-count aggregate — 8-byte digests with map-side partial
    aggregation, the same budget as exact_dedup.  NEITHER join back is
    broadcast-hinted: boilerplate is corpus-rare by definition, so AQE
    broadcasts the heavy set and the hit-position table in the normal
    case, but a pathological all-boilerplate corpus (every gram heavy,
    the 10x all-near-dup rehearsal fixture) degrades to shuffle joins
    instead of OOMing the driver with a forced corpus-scale broadcast.
    The final strike pass is narrow and LINEAR: the doc's sorted hit
    starts are merged into disjoint cover intervals (one O(|starts|)
    fold — fixed gram width means overlapping windows coalesce), and
    the survivors are the gap slices between intervals
    (O(|tokens| + |starts|) per doc, vs the O(|tokens| x |starts|)
    per-token exists-probe this replaced).  Documents shorter than
    ``n`` tokens pass through unchanged.

    Returns (id_col, n_tokens, n_removed, cleaned_text) for every
    document.
    """
    from pyspark import StorageLevel

    toked = persist(
        docs.select(F.col(id_col), word_tokens(text_col).alias("__toks")),
        StorageLevel.MEMORY_AND_DISK,
    )
    gram_digest = lambda i: portable_hash64(  # noqa: E731
        F.array_join(F.slice(F.col("__toks"), i + 1, n), " ")
    )
    gram_rows = toked.withColumn(
        "__grams",
        F.when(
            F.size("__toks") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - n), gram_digest
            ),
        ).otherwise(F.array().cast("array<long>")),
    ).select(id_col, F.posexplode("__grams").alias("pos", "__gh"))
    heavy = (
        gram_rows.select(id_col, "__gh")
        .distinct()
        .groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gh")
    )
    starts = (
        gram_rows.join(heavy, "__gh", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("__starts"))
    )
    # Fold the ascending starts into disjoint [b, e) cover intervals.
    # Fixed width n means an overlapping start s (s < last.e) always
    # extends the open interval to s + n; a gap starts a new one.
    iv_type = "array<struct<b:int,e:int>>"
    intervals = F.aggregate(
        F.col("__starts"),
        F.array().cast(iv_type),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s < F.element_at(acc, -1).getField("e")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1).getField("b").alias("b"),
                        (s + n).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("b"), (s + n).alias("e"))))
        ),
    )
    # Survivors = the gap slices between intervals: [0, b1), [e1, b2),
    # ..., [e_last, len).  slice() with zero length is an empty array,
    # so back-to-back intervals cost nothing.
    ivs = F.col("__ivs")
    gap_b = F.concat(
        F.array(F.lit(0)), F.transform(ivs, lambda it: it.getField("e"))
    )
    gap_e = F.concat(
        F.transform(ivs, lambda it: it.getField("b")),
        F.array(F.size("__toks")),
    )
    kept = F.flatten(
        F.zip_with(
            gap_b,
            gap_e,
            lambda a, b: F.slice(
                F.col("__toks"), a + 1, F.greatest(b - a, F.lit(0))
            ),
        )
    )
    return (
        toked.join(starts, id_col, "left")
        .withColumn(
            "__starts",
            F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
        )
        .withColumn("__ivs", intervals)
        .select(
            id_col,
            F.size("__toks").alias("n_tokens"),
            (F.size("__toks") - F.size(kept)).alias("n_removed"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
    )


def bpe_merge_step(
    vocab: DataFrame,
    word_col: str = "word",
    count_col: str = "wc",
    symbols_col: str = "symbols",
) -> DataFrame:
    """One distributed BPE training iteration (Sennrich et al. 2016):
    count adjacent symbol pairs across the vocabulary weighted by word
    frequency, pick the most frequent pair (ties break lexicographic),
    and merge it in every word — the inner loop of byte-pair-encoding
    tokenizer training, the same step-operator contract as
    ``similarity.kmeans_step`` (iterate by re-feeding the output).

    ``symbols`` is the space-separated symbol sequence of each word
    (initialize with :func:`bpe_init_symbols`).  The merge application
    is engine-portable string algebra: double the separators, then one
    literal left-to-right ``replace`` of `` a  b `` with `` ab `` —
    non-overlapping left-to-right replacement is exactly BPE's merge
    order, and every true symbol boundary keeps its own space so no
    false substring match exists.

    Scale shape: everything downstream of the corpus word-count
    collapse is vocabulary-sized; pair counting explodes to (pairs x
    vocab) compact rows with map-side partial aggregation, and the
    winning pair rides back as a one-row broadcast (in-plane, no
    driver round-trip).  Returns (word, wc, symbols, merged_pair) with
    the merge applied.  TERMINAL CONTRACT: when no adjacent pair
    exists anywhere (every word is a single symbol — training is
    complete), the winning-pair side is empty and the result is an
    EMPTY DataFrame; the training loop treats that as its stop
    signal, exactly like textbook BPE stopping when the pair heap
    drains.
    """
    s = F.split(F.col(symbols_col), " ")
    pairs = vocab.select(
        F.col(count_col),
        F.explode(
            F.when(
                F.size(s) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(s) - 2),
                    lambda i: F.struct(
                        F.element_at(s, i + 1).alias("a"),
                        F.element_at(s, i + 2).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("__p"),
    )
    best = (
        pairs.groupBy(F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b"))
        .agg(F.sum(count_col).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("__a").asc(), F.col("__b").asc())
        .limit(1)
    )
    padded = F.concat(
        F.lit(" "), F.replace(F.col(symbols_col), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    merged = F.replace(
        padded,
        F.concat(F.lit(" "), F.col("__a"), F.lit("  "), F.col("__b"), F.lit(" ")),
        F.concat(F.lit(" "), F.col("__a"), F.col("__b"), F.lit(" ")),
    )
    return vocab.crossJoin(F.broadcast(best)).select(
        word_col,
        count_col,
        F.trim(F.regexp_replace(merged, r"\s+", " ")).alias(symbols_col),
        F.concat(F.col("__a"), F.lit(" "), F.col("__b")).alias("merged_pair"),
    )


def bpe_init_symbols(word: Column | str) -> Column:
    """Initial BPE state: the word as a space-separated character
    sequence (no end-of-word marker — add one upstream if the
    tokenizer calls for it)."""
    c = F.col(word) if isinstance(word, str) else word
    return F.trim(F.regexp_replace(c, r"(.)", r"$1 "))


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram language-model scoring (the CCNet-style
    perplexity-filter upgrade of the unigram scorer): fit corpus
    bigram + unigram distributions, score each document by the mean
    ``ln(lam * P(cur|prev) + (1-lam) * P(cur))`` over its bigram
    positions.  Low scores flag token-salad documents that unigram
    statistics miss (every word common, the SEQUENCE improbable).

    Documents with fewer than two tokens have no bigram positions and
    are excluded (the quality gate has nothing to judge).

    Scale shape: the corpus collapses to per-doc bigram frequencies
    FIRST, so every downstream shuffle carries tf-sized rows, never
    the raw token stream; the conditional's numerator and denominator
    come from ONE bigram-count table (context count = its per-prev
    rollup — never a second corpus scan); vocabulary-sized count
    tables broadcast back.  Like the unigram scorer, the score is the
    tf-weighted mean, identical to the per-position mean.
    """
    toks = word_tokens(text_col)
    d = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    # bigram stream: pair each token (from position 2 on) with its
    # predecessor via an index-aware transform — no posexplode
    # self-join, the pairing happens inside the row
    pairs = F.transform(
        F.slice(F.col("__toks"), 2, F.size("__toks") - 1),
        lambda w, i: F.struct(
            F.element_at(F.col("__toks"), i + 1).alias("prev"),
            w.alias("cur"),
        ),
    )
    bf = (
        d.select(F.col(id_col), F.explode(pairs).alias("__bg"))
        .select(id_col, F.col("__bg.prev").alias("prev"), F.col("__bg.cur").alias("cur"))
        .groupBy(id_col, "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c2 = bf.groupBy("prev", "cur").agg(F.sum("tf").alias("c2"))
    ctx = c2.groupBy("prev").agg(F.sum("c2").alias("cctx"))
    uni = (
        df.select(F.explode(word_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    total = uni.agg(F.sum("c1").alias("n"))
    p = F.lit(lam) * (F.col("c2") / F.col("cctx")) + F.lit(1.0 - lam) * (
        F.col("c1") / F.col("n")
    )
    return (
        bf.join(F.broadcast(c2), ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .join(F.broadcast(uni.withColumnRenamed("term", "cur")), "cur")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * F.log(p)) / F.sum("tf"), 6).alias(
                "lm_score"
            ),
        )
    )


def novelty_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus-novelty scoring: the fraction of a document's DISTINCT
    word ``n``-grams that appear in no other document (cross-document
    document-frequency == 1).  High novelty marks genuinely new
    content; low novelty marks templated/derivative text — the
    diversity-aware complement of the boilerplate scrub, used to
    up-weight rare content when composing a training mix.

    Scale shape: the corpus-wide exchange carries 8-byte gram digests
    only — (doc, digest)-distinct pairs feed a digest-count aggregate
    (map-side partial), and the df table joins back on the SAME digest
    key, so AQE reuses the exchange partitioning; text never shuffles.
    Documents shorter than ``n`` tokens have no n-grams and are
    excluded (novelty is undefined for them).

    Returns (id_col, n_distinct_grams, novelty) per document with at
    least one n-gram.
    """
    toked = docs.select(F.col(id_col), word_tokens(text_col).alias("__toks"))
    gram_digest = lambda i: portable_hash64(  # noqa: E731
        F.array_join(F.slice(F.col("__toks"), i + 1, n), " ")
    )
    pairs = (
        toked.filter(F.size("__toks") >= n)
        .select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("__toks") - n), gram_digest
                    )
                )
            ).alias("__gh"),
        )
    )
    dfreq = pairs.groupBy("__gh").agg(F.count(F.lit(1)).alias("__df"))
    return (
        pairs.join(dfreq, "__gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.round(
                F.avg((F.col("__df") == 1).cast("double")), 6
            ).alias("novelty"),
        )
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    min_df: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Inverted-index construction over word ``n``-grams: per term,
    its document frequency, collection frequency, and the sorted
    posting list of documents containing it — the retrieval-side
    artifact of a corpus (BM25 lookups, contamination probes, targeted
    subset pulls).  Phrase terms (``n`` >= 2) are the useful unit when
    the unigram vocabulary is small or stopword-dominated.

    ``min_df``/``max_df`` bound the emitted band: singleton-df terms
    are hapax noise and stopword-class terms above ``max_df`` would
    make posting rows arbitrarily wide — at 100 TB those terms'
    postings must be SHARDED (term, shard_no) rather than carried as
    one row, so this operator emits only the bounded middle band and
    leaves the head terms to the sharded form.  ``max_df=None``
    derives the cap from the CORPUS — ceil(|docs| / 10), integer
    arithmetic so any engine computes the same cap — because a fixed
    absolute cap silently empties (or floods) the band as the corpus
    scales.  Shuffle shape: one (term, doc) pre-aggregate collapses
    per-document repetitions (map-side partial), then one term-keyed
    aggregate builds the posting arrays — the classic two-stage index
    build; the derived cap rides in as a one-row broadcast.

    Returns (term, df, cf, postings) with postings a comma-joined
    ascending doc-id string (portable across engines).
    """
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    td = (
        docs.select(F.col(id_col), word_tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= n)
        .select(id_col, F.explode(grams).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    index = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("__tf").alias("cf"),
        F.array_join(
            F.sort_array(F.collect_list(F.col(id_col))), ","
        ).alias("postings"),
    )
    if max_df is None:
        cap = docs.agg(
            F.expr("div(count(1) + 9, 10)").alias("__cap")
        )
        return (
            index.crossJoin(F.broadcast(cap))
            .filter((F.col("df") >= min_df) & (F.col("df") <= F.col("__cap")))
            .drop("__cap")
        )
    return index.filter(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge list to a corpus: tokenize, encode
    each DISTINCT word once, and roll subword counts back per
    document — the inference-side twin of :func:`bpe_merge_step`
    (train with the step operator, encode with this).

    Scale shape: the expensive part (greedy rank-ordered merging,
    inherently iterative per word) runs in an Arrow-batched pandas UDF
    over the DISTINCT word table — vocabulary-sized, not
    corpus-sized — with the merge-rank dict a closure broadcast to
    executors once; documents then join their (word, tf) pairs to the
    encoded vocabulary on the word key and aggregate.  Corpus text
    itself never passes through Python.

    Returns (id_col, n_words, n_subwords) per document — the
    fertility measurement (subwords per word) that drives tokenizer
    acceptance, computed on real encoded output.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    def _encode_word(word: str) -> int:
        syms = list(word)
        while len(syms) >= 2:
            best_rank = None
            best_pair = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (syms[i], syms[i + 1])
            if best_pair is None:
                break
            a, b = best_pair
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    def _n_subwords(words):
        return words.map(_encode_word)

    # annotations set as live objects: the module's `from __future__
    # import annotations` would otherwise leave string hints that
    # pandas_udf cannot resolve against this closure's locals
    _n_subwords.__annotations__ = {"words": pd.Series, "return": pd.Series}
    n_subwords_udf = pandas_udf(_n_subwords, "int")

    wt = docs.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("__w")
    ).groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__tf"))
    vocab = wt.select("__w").distinct().withColumn(
        "__ns", n_subwords_udf(F.col("__w"))
    )
    return (
        wt.join(vocab, "__w")
        .groupBy(id_col)
        .agg(
            F.sum("__tf").alias("n_words"),
            F.sum(F.col("__tf") * F.col("__ns")).alias("n_subwords"),
        )
    )


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms
    (Robertson/Lucene formulation, idf = ln(1 + (N - df + .5)/(df + .5)))
    — the retrieval scorer that pairs with :func:`inverted_index`.

    Scale shape: the corpus is filtered to QUERY TERMS immediately
    after tokenization (query-sized fan-in, narrow), so the only wide
    work is one (doc, term) tf aggregate over matching postings; N,
    avgdl, and the per-term df are dimension-sized side tables
    broadcast back.  Returns (id_col, n_matched_terms, bm25) for
    documents matching at least one query term.
    """
    q = F.array(*[F.lit(t) for t in query_terms])
    dl = docs.select(
        F.col(id_col), F.size(word_tokens(text_col)).alias("__dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
    )
    tf = (
        docs.select(
            F.col(id_col), F.explode(word_tokens(text_col)).alias("__t")
        )
        .filter(F.array_contains(q, F.col("__t")))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (
        1 - b + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    term_score = idf * F.col("__tf") * (k1 + 1) / denom
    return (
        tf.join(F.broadcast(dfreq), "__t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.round(F.sum(term_score), 6).alias("bm25"),
        )
    )


def tfidf_doc_similarity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    min_df: int = 2,
    threshold: float = 0.5,
    max_df_cap: int = 500,
) -> DataFrame:
    """Sparse document-document cosine similarity over tf-idf-weighted
    word ``n``-gram vectors — similarity search WITHOUT embeddings,
    the lexical twin of the ANN operators.

    Scale shape: the classic sparse similarity join — candidate pairs
    are generated by a TERM-keyed equi self-join of the posting table,
    and the vocabulary is BANDED first, df in
    [min_df, min(ceil(|docs|/10), max_df_cap)].  The band has TWO
    ceilings with different jobs:

    - the corpus-RELATIVE ceiling (df ≤ |docs|/10) is the idf
      argument — head terms contribute near-zero weight, so dropping
      them barely moves scores;
    - the ABSOLUTE ceiling (``max_df_cap``, default 500) is the COST
      bound, and the round-9 rehearsal showed it is the one that
      matters: with only the relative cap, per-term join fan-out is
      ≤ (|docs|/10)², so candidate volume grows ~quadratically with
      the corpus — measured 10.3M candidate pairs for 256 output
      rows at 5k docs, and alpha 2.6 at 3× scale.  A fixed ceiling
      bounds every term's fan-out at cap² pairs, making candidate
      volume linear in vocabulary size — the property a 100 TB
      corpus needs.  Terms between the two ceilings are informative
      but expensive; raising ``max_df_cap`` trades recall on
      common-phrase overlap for join cost (at ≤ 5k docs the default
      ceiling is not binding, so small-fixture results are identical
      to the relative-band-only form).

    Weights/norms are computed over the banded vocabulary (document
    that restriction; scores are relative to it).  Returns
    (id_a, id_b, cosine) for pairs at or above ``threshold``.

    Candidates are every banded-term match; there is no AllPairs
    prefix-filtered path.  At the 0.5 threshold the query uses, that
    path returned the same pairs but measured 3.3 s → 45 s at sf0.1:
    with half of each vector's mass kept in the index, candidates
    barely shrink, and its exact verify re-joins every candidate
    pair's terms.
    """
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    # td feeds BOTH the df band and the weighted posting build, but it
    # ends in a (id, term) groupBy exchange whose two references are
    # byte-identical subtrees — runtime exchange reuse already collapses
    # them to ONE tokenize/gram/count pass, so the r13 eager
    # localCheckpoint bought nothing and serialized the build (r14
    # adjudication, alternating in-session A/B at sf0.1/32c: ckpt
    # [3.07, 2.50, 2.51, 2.89] vs lazy [2.54, 2.56, 2.40, 2.23]; the
    # driver's 8-core r13 capture read the ckpt form 1.65x slower).
    # REVERTED to the lazy pre-r13 form — the moods_median lesson again:
    # materializing a row-grain projection is real work.
    td = (
        docs.select(F.col(id_col), word_tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= n)
        .select(id_col, F.explode(grams).alias("__t"))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("__nd"),
        F.least(
            F.expr("div(count(1) + 9, 10)"), F.lit(int(max_df_cap))
        ).alias("__cap"),
    )
    dfreq = (
        td.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(stats))
        .filter((F.col("__df") >= min_df) & (F.col("__df") <= F.col("__cap")))
        .select("__t", "__df", "__nd")
    )
    # the doc norm rides on every (doc, term) row via a window over
    # the SAME partitioning the pair join needs anyway — a separate
    # norms table would add two more joins and re-expand the corpus
    # scan per reference
    from pyspark.sql import Window

    norm_w = F.sqrt(
        F.sum(F.col("__w") * F.col("__w")).over(
            Window.partitionBy(id_col)
        )
    )
    from pyspark import StorageLevel

    # PERSIST the weighted posting table: both sides of the pair join
    # read it, and without materialization the tokenize/gram/df
    # pipeline executes twice (measured 8.7s -> the recompute is about
    # half).  Spillable MEMORY_AND_DISK costs roughly one banded-
    # posting copy of executor storage, freed by the caller's scope.
    w = persist(
        td.join(dfreq, "__t")
        .select(
            id_col,
            "__t",
            (F.col("__tf") * F.log(F.col("__nd") / F.col("__df"))).alias(
                "__w"
            ),
        )
        .withColumn("__norm", norm_w),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = w.select(
        F.col(id_col).alias("id_a"), "__t",
        F.col("__w").alias("__wa"), F.col("__norm").alias("__na"),
    )
    b = w.select(
        F.col(id_col).alias("id_b"), "__t",
        F.col("__w").alias("__wb"), F.col("__norm").alias("__nb"),
    )
    return (
        a.join(b, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.round(
                F.sum(F.col("__wa") * F.col("__wb"))
                / (F.max("__na") * F.max("__nb")),
                6,
            ).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution (nats)
    — low entropy flags repetitive/templated text (the
    information-theoretic sibling of ``repeated_ngram_ratio``), high
    entropy flags noise; both tails get dropped or down-weighted in a
    curation mix.

    Scale shape: one (doc, token) count aggregate (tf-collapsed,
    map-side partial) and one doc-keyed fold — LINEAR in tokens (a
    per-row HOF formulation would re-count each distinct token against
    the whole array, O(distinct x length) per document, which long
    documents turn quadratic).  H = ln(n) - (1/n) * sum_t c_t ln(c_t),
    computed from integer counts so an oracle reproduces it exactly.
    Documents with no tokens are absent from the output.
    """
    tc = (
        docs.select(
            F.col(id_col), F.explode(word_tokens(text_col)).alias("__t")
        )
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    c = F.col("__c").cast("double")
    return (
        tc.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.sum(c * F.log(c)).alias("__clnc"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("__clnc") / F.col("n_tokens"),
                6,
            ).alias("entropy"),
        )
    )


def source_kl_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source KL divergence D(source || corpus) between smoothed
    unigram distributions — the drift number that says which domain's
    text is most unlike the mix (feeds target-proportion decisions and
    catches a poisoned/mis-crawled source).

    Both distributions are add-``alpha`` smoothed over the CORPUS
    vocabulary, so every term has positive mass in both and the KL is
    finite by construction.  Scale shape: one (source, term) count
    aggregate (map-side partial, vocab x sources rows), corpus totals
    derived from it; everything after the collapse is vocabulary-sized.
    Returns (group_col, n_terms, kl_nats).
    """
    # r13 optimization round: st is referenced THREE times (vocab,
    # per-source totals, the grid join) — each reference re-ran the
    # corpus tokenize+explode, the only corpus-grain work in the
    # operator.  One eager checkpoint of the (source × vocab)-sized
    # count table runs it once (guide §1.2).
    st = checkpoint(
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(word_tokens(text_col)).alias("__t"),
        )
        .groupBy("grp", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # dense (source x vocab) grid so absent terms get smoothed mass
    vocab = st.groupBy("__t").agg(F.sum("__c").alias("__ct"))
    vsize = vocab.agg(
        F.count(F.lit(1)).alias("__v"), F.sum("__ct").alias("__nc")
    )
    groups = st.groupBy("grp").agg(F.sum("__c").alias("__ng"))
    grid = (
        groups.crossJoin(F.broadcast(vocab))
        .join(st, ["grp", "__t"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "grp",
            "__ng",
            "__v",
            F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
            "__ct",
            "__nc",
        )
    )
    p = (F.col("__c") + alpha) / (F.col("__ng") + F.lit(alpha) * F.col("__v"))
    q = (F.col("__ct") + alpha) / (F.col("__nc") + F.lit(alpha) * F.col("__v"))
    return grid.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the
    collocation detector (multi-word expressions score high PMI; junk
    adjacency scores ~0/negative).  PMI(a,b) = ln( P(a,b) /
    (P(a) P(b)) ) with bigram and unigram probabilities over the
    corpus; pairs under ``min_count`` are dropped (PMI is unstable on
    rare counts — the standard cut).

    Scale shape: one bigram count aggregate and one unigram count
    aggregate (both tf-collapsed, map-side partials); unigram tables
    broadcast back onto the vocabulary-sized bigram table.  Returns
    (w1, w2, pair_count, pmi).
    """
    toks = F.col("__toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # r13 optimization round: the bigram counts, unigram counts and
    # bigram total each re-tokenized the corpus (three regex-split
    # passes over the text); one eager checkpoint of the token arrays
    # feeds all three (guide §1.2).
    base = checkpoint(docs.select(word_tokens(text_col).alias("__toks")))
    bg = (
        base.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    uni = (
        base.select(F.explode("__toks").alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot_b = base.select(
        F.greatest(F.size("__toks") - 1, F.lit(0)).alias("__nb")
    ).agg(F.sum("__nb").alias("__tb"))
    tot_u = uni.agg(F.sum("__c").alias("__tu"))
    u1 = uni.select(F.col("__t").alias("w1"), F.col("__c").alias("__c1"))
    u2 = uni.select(F.col("__t").alias("w2"), F.col("__c").alias("__c2"))
    pmi = F.log(
        (F.col("pair_count") / F.col("__tb"))
        / ((F.col("__c1") / F.col("__tu")) * (F.col("__c2") / F.col("__tu")))
    )
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_u))
        .select("w1", "w2", "pair_count", F.round(pmi, 6).alias("pmi"))
    )


def score_linear_model(
    df: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    out_col: str = "model_score",
) -> DataFrame:
    """Apply a linear model with a sigmoid link over feature columns —
    the plumbing of model-based quality filtering (fastText/logistic
    classifiers): weights are plan literals (broadcast by
    construction), scoring is one narrow projection, and the real
    model swaps in by changing the weight dict.  Appends ``out_col``
    in (0, 1) rounded to 6.
    """
    z = F.lit(float(bias))
    for col, wgt in sorted(weights.items()):
        z = z + F.lit(float(wgt)) * F.col(col).cast("double")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.withColumn(out_col, F.round(score, 6))


def doc_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document keyword extraction: the ``top_k`` highest-TF-IDF
    terms of each document — the corpus-scale tagging pass behind
    faceted browse, near-dup triage ("what is this cluster about"),
    and topic-stratified sampling.

    TF-IDF uses the engine's standard weighting (``(tf/doc_len) ·
    ln((N+1)/(df+1))``, the q_tfidf_top_terms formula) so corpus-level
    and per-doc views can never disagree about a term's weight.
    ``min_df`` drops hapax noise BEFORE scoring (a term seen once is
    its own document's "keyword" by construction and says nothing).

    Scale shape: one token-explode aggregate to per-doc TF (map-side
    combined), the vocabulary-sized df table broadcast back, n_docs
    riding in-plane as a one-row broadcast aggregate, then the top-k
    rank window partitioned BY DOCUMENT — window state is one doc's
    terms, never a global sort.  Ties break (tfidf DESC, term ASC)
    so the result is deterministic.  Returns ``(id, term, tf, tfidf,
    rank)``.
    """
    from ..functions import word_tokens
    from pyspark.sql import Window

    n = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    tf = (
        df.withColumn("__toks", word_tokens(text_col))
        .select(
            F.col(id_col).alias("__id"),
            F.size("__toks").alias("__doc_len"),
            F.explode("__toks").alias("term"),
        )
        .groupBy("__id", "__doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("tf") / F.col("__doc_len"))
                * F.log(
                    (F.col("__n_docs") + 1.0) / (F.col("__df") + 1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(F.col("__id").alias(id_col), "term", "tf", "tfidf", "rank")
    )


def term_keyness(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    text_col: str = "text",
    top_k: int = 200,
    min_count: int = 5,
) -> DataFrame:
    """Dunning log-likelihood keyness — the corpus-linguistics
    standard for "which terms CHARACTERIZE corpus A vs corpus B"
    (domain drift, contamination triage, subcorpus fingerprinting):
    ``G² = 2·(a·ln(a/E_a) + b·ln(b/E_b))`` with expected counts
    ``E_a = N_a·(a+b)/(N_a+N_b)`` (0·ln 0 ≡ 0), signed positive when
    the term over-represents in A.  Unlike raw frequency ratios, G²
    is calibrated for rare terms — the reason Dunning (1993)
    displaced ratio ranking.

    Scale shape: ONE token-explode aggregate to (term, group) counts
    (map-side combined; shuffle volume = vocabulary, not tokens),
    corpus totals ride as a one-row broadcast, the G² arithmetic is
    pure projection over the vocabulary-sized table, and the final
    top-k is a rank window over that same small table.  Zero-count
    branches are CASE-guarded so ln(0) never evaluates (ANSI-safe).
    Terms with combined count below ``min_count`` are dropped before
    ranking (G² of a 1-count term is noise).  Ties break (g2 DESC,
    term ASC).  Returns ``(term, count_a, count_b, g2, overrep)``
    with g2 rounded to 6 decimals and ``overrep`` ∈ {'a','b'}.
    """
    from ..functions import word_tokens
    from pyspark.sql import Window

    g = F.col(group_col)
    toks = df.filter(g.isin([group_a, group_b])).select(
        (g == group_a).alias("__is_a"),
        F.explode(word_tokens(text_col)).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.col("__is_a").cast("long")).alias("a"),
        F.sum((~F.col("__is_a")).cast("long")).alias("b"),
    )
    totals = counts.agg(
        F.sum("a").alias("__na"), F.sum("b").alias("__nb")
    )
    t = counts.filter(F.col("a") + F.col("b") >= min_count).crossJoin(
        F.broadcast(totals)
    )
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    ea = na * (a + b) / (na + nb)
    eb = nb * (a + b) / (na + nb)
    term_a = F.when(F.col("a") > 0, a * F.log(a / ea)).otherwise(F.lit(0.0))
    term_b = F.when(F.col("b") > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
    scored = t.select(
        "term",
        F.col("a").alias("count_a"),
        F.col("b").alias("count_b"),
        F.round(2.0 * (term_a + term_b), 6).alias("g2"),
        # a group with zero tokens (na or nb = 0) must not evaluate
        # the rate division (ANSI DIVIDE_BY_ZERO): every surviving
        # term then belongs to the non-empty group by construction
        F.when(
            (na > 0) & (nb > 0),
            F.when(a / na >= b / nb, F.lit("a")).otherwise(F.lit("b")),
        )
        .when(na > 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("overrep"),
    )
    w = Window.orderBy(F.col("g2").desc(), F.col("term").asc())
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= top_k)
        .drop("__r")
    )


def unigram_sampling_table(
    df: DataFrame,
    text_col: str = "text",
    power: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """word2vec-style negative-sampling table: corpus term frequencies
    raised to ``power`` (0.75 flattens the Zipf head so frequent words
    are not drawn proportionally often), normalized to a probability,
    with the half-open cumulative band ``[cum_lo, cum_hi)`` each word
    owns — a uniform draw in [0,1) inverted against ``cum_hi`` IS the
    sampler, no alias table needed.

    Scale shape: the corpus collapses to the VOCABULARY (one hash
    aggregate with map-side combine — the tf-collapsed corpus-exchange
    discipline); the cumulative runs over (tf DESC, word ASC) via
    ``windows.global_cumsum`` (two-phase range prefix sum — no
    single-task window over the vocabulary).  Weights are rounded to
    ``round_to`` BEFORE the prefix sum (deterministic per-row values);
    band shares are O(1) so prefix float noise sits far below the
    rounding step (the abc_classification discipline).
    Returns ``(word, tf, prob, cum_lo, cum_hi)``.
    """
    from .windows import global_cumsum

    tf = (
        df.select(F.explode(word_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    weighted = tf.withColumn(
        "__w", F.round(F.pow(F.col("tf").cast("double"), power), round_to)
    )
    order = [F.col("tf").desc(), F.col("word").asc()]
    run = global_cumsum(weighted, order, {"__w": "__cum"})
    total = weighted.agg(F.sum("__w").alias("__total"))
    return run.crossJoin(F.broadcast(total)).select(
        "word",
        "tf",
        F.round(
            F.when(F.col("__total") > 0, F.col("__w") / F.col("__total")),
            round_to,
        ).alias("prob"),
        F.round(
            F.when(
                F.col("__total") > 0,
                (F.col("__cum") - F.col("__w")) / F.col("__total"),
            ),
            round_to,
        ).alias("cum_lo"),
        F.round(
            F.when(F.col("__total") > 0, F.col("__cum") / F.col("__total")),
            round_to,
        ).alias("cum_hi"),
    )


def readability_score(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document from
    the classic regex heuristics — the readability gate a curated
    text corpus runs next to quality_score (too-hard and too-trivial
    documents both get down-weighted in curriculum mixes):

    - words  = runs of ASCII letters
    - sentences = runs of ``.!?`` (min 1)
    - syllables = vowel-group runs (min 1 per word — the standard
      cheap approximation; hyphenation dictionaries don't beat it by
      enough to justify a UDF)

    ``flesch = 206.835 - 1.015 (w/s) - 84.6 (syl/w)``;
    ``fk_grade = 0.39 (w/s) + 11.8 (syl/w) - 15.59``.

    Scale shape: three regexp counts per row — pure codegen scan, no
    shuffle, no UDF.  Documents with zero words get NULL scores.
    """
    t = F.col(text_col)
    words = F.regexp_count(t, F.lit(r"[A-Za-z]+"))
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    )
    syl = F.greatest(
        F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), words
    )
    wd = words.cast("double")
    wps = wd / sentences.cast("double")
    spw = syl.cast("double") / wd
    flesch = F.when(
        words > 0, 206.835 - 1.015 * wps - 84.6 * spw
    )
    fk = F.when(words > 0, 0.39 * wps + 11.8 * spw - 15.59)
    return df.select(
        *df.columns,
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
        F.round(fk, 6).alias("fk_grade"),
    )


def sentence_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sents_per_chunk: int = 5,
    stride: int = 4,
) -> DataFrame:
    """Sentence-boundary chunking: split each document into sentences
    (runs ending in ``.!?`` or the ragged tail) and window them
    ``sents_per_chunk`` at a time advancing ``stride`` — the RAG-prep
    alternative to token-window chunking (``doc_chunks``) when chunks
    must not cut mid-sentence.  A document with fewer sentences than
    one chunk yields exactly one whole-doc chunk.

    Scale shape: all native HOFs — one regex split, ``sequence`` +
    ``explode`` for chunk ids, ``slice`` to cut — narrow end to end,
    no shuffle, no UDF.

    Returns (id, chunk_id, n_sentences, chunk_text).
    """
    if sents_per_chunk < 1 or stride < 1:
        raise ValueError("sents_per_chunk and stride must be >= 1")
    # sentences = maximal non-terminator runs plus their trailing
    # [.!?] run, via regexp_extract_all — lookbehind-free so the RE2
    # oracle engines (DuckDB) match Java's behavior exactly
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), F.lit(0)
            ),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    t = df.select(
        F.col(id_col), sents.alias("__s")
    ).withColumn("__n", F.size("__s"))
    n_chunks = F.greatest(
        F.lit(1),
        F.lit(1)
        + F.floor(
            (
                F.col("__n")
                - F.lit(sents_per_chunk)
                + F.lit(stride)
                - 1
            )
            / F.lit(stride)
        ),
    ).cast("int")
    exploded = t.select(
        id_col,
        "__s",
        "__n",
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias(
            "chunk_id"
        ),
    )
    start = F.col("chunk_id") * F.lit(stride)
    return exploded.select(
        id_col,
        "chunk_id",
        F.least(
            F.lit(sents_per_chunk), F.col("__n") - start
        ).alias("n_sentences"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("__s"), start + F.lit(1), F.lit(sents_per_chunk)
            ),
        ).alias("chunk_text"),
    )


def unseen_mass(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Good–Turing unseen-probability mass per corpus slice: the
    fraction of the NEXT sample expected to be word types never seen
    in this slice (``P₀ = N₁/N``, Good 1953), plus the adjusted
    singleton count ``r*₁ = 2·N₂/N₁`` — the quick answer to "has this
    source saturated its vocabulary or will more crawl keep finding
    new words?", which is exactly the marginal-value-of-data question
    a training-data pipeline asks before buying more of a source.

    Scale shape: explode to (slice, word) then TWO stacked hash
    aggregates — word counts (shuffle volume = distinct words per
    slice), then the frequency-of-frequencies collapse per slice.
    Nothing corpus-grain crosses the wire twice.

    Returns one row per slice: (group, n_tokens, vocab, n_singletons,
    n_doubletons, p_unseen, r_star_1).
    """
    g = F.col(group_col)
    words = (
        df.filter(g.isNotNull() & F.col(text_col).isNotNull())
        .select(
            g.alias("__g"),
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("__w"),
        )
        .filter(F.col("__w") != "")
    )
    counts = words.groupBy("__g", "__w").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per = counts.groupBy(F.col("__g").alias(group_col)).agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("__c") == 1).cast("long")).alias("n_singletons"),
        F.sum((F.col("__c") == 2).cast("long")).alias("n_doubletons"),
    )
    n = F.col("n_tokens").cast("double")
    n1 = F.col("n_singletons").cast("double")
    n2 = F.col("n_doubletons").cast("double")
    return per.select(
        group_col,
        "n_tokens",
        "vocab",
        "n_singletons",
        "n_doubletons",
        F.round(F.when(n > 0, n1 / n), 6).alias("p_unseen"),
        F.round(F.when(n1 > 0, 2.0 * n2 / n1), 6).alias("r_star_1"),
    )


def heaps_law_fit(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law fit ``V = k·N^β`` across corpus slices: each slice
    contributes one (log N, log V) point (N = tokens, V = vocabulary)
    and a two-parameter OLS across the slices estimates β (typically
    0.4–0.6 for natural text; β near 0 = closed vocabulary / template
    spam, β near 1 = ID-like token soup) — a one-row corpus
    diagnostic for tokenizer and dedup planning.

    Scale shape: the corpus collapses to one (N, V) row per slice
    (same two-aggregate stack as :func:`unseen_mass`); the OLS runs
    over the k slice points in a single-row reduce.  Log points are
    rounded to 6 decimals FIRST (cross-engine determinism); slopes
    guard on positive x-variance via lazy CASE.

    Returns one row: (n_slices, beta, k_coef, r2).
    """
    g = F.col(group_col)
    words = (
        df.filter(g.isNotNull() & F.col(text_col).isNotNull())
        .select(
            g.alias("__g"),
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("__w"),
        )
        .filter(F.col("__w") != "")
    )
    per = (
        words.groupBy("__g", "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__n"),
            F.count(F.lit(1)).alias("__v"),
        )
        .select(
            F.round(F.log(F.col("__n").cast("double")), 6).alias("__x"),
            F.round(F.log(F.col("__v").cast("double")), 6).alias("__y"),
        )
    )
    m = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_slices"),
        F.round(F.avg("__x"), 6).alias("__mx"),
        F.round(F.avg("__y"), 6).alias("__my"),
        F.round(F.covar_samp("__x", "__y"), 6).alias("__cxy"),
        F.round(F.var_samp("__x"), 6).alias("__vx"),
        F.round(F.var_samp("__y"), 6).alias("__vy"),
    )
    beta = F.when(
        (F.col("n_slices") > 1) & (F.col("__vx") > 0),
        F.col("__cxy") / F.col("__vx"),
    )
    staged = m.select(
        "n_slices",
        F.round(beta, 6).alias("beta"),
        F.col("__mx"),
        F.col("__my"),
        F.col("__cxy"),
        F.col("__vx"),
        F.col("__vy"),
    )
    r2 = F.when(
        (F.col("__vx") > 0) & (F.col("__vy") > 0),
        (F.col("__cxy") * F.col("__cxy"))
        / (F.col("__vx") * F.col("__vy")),
    )
    return staged.select(
        "n_slices",
        F.round(F.col("beta"), 4).alias("beta"),
        F.round(
            F.exp(F.col("__my") - F.col("beta") * F.col("__mx")), 4
        ).alias("k_coef"),
        F.round(r2, 4).alias("r2"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): hash every word ``k``-gram, then from
    each window of ``w`` consecutive hashes keep the RIGHTMOST
    minimum — the local fingerprinting scheme with the guarantee that
    any shared substring of length ≥ w+k-1 grams yields at least one
    shared fingerprint, at ~1/w the storage of full shingling.  The
    positional complement of MinHash: MinHash estimates whole-document
    similarity, winnowing localizes WHERE the overlap is.

    Scale shape: grams via one posexplode + lead window per doc (the
    capture-recapture construction); window membership via a bounded
    w-way explode (each gram joins its w window starts — linear × w,
    never quadratic); per-window rightmost-min via ONE min(struct)
    aggregate keyed on (doc, window_start); fingerprints dedupe on
    (doc, pos).  Hashes are the portable 60-bit md5 form, so a SQL
    oracle computes identical values.

    Returns (id, pos, gram_hash) — one row per selected fingerprint.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from ..functions import portable_hash64

    i = F.col(id_col)
    toks = (
        df.filter(i.isNotNull() & F.col(text_col).isNotNull())
        .select(
            i.alias("__id"),
            F.posexplode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("__pos", "__w"),
        )
        .filter(F.col("__w") != "")
    )
    w_doc = Window.partitionBy("__id").orderBy(F.col("__pos").asc())
    parts = [F.col("__w")] + [
        F.lead("__w", j).over(w_doc) for j in range(1, k)
    ]
    grams = toks.select(
        "__id",
        F.row_number().over(w_doc).alias("__gpos"),
        F.concat_ws(" ", *parts).alias("__gram"),
        parts[-1].isNotNull().alias("__full"),
    ).filter(F.col("__full"))
    hashed = grams.select(
        "__id",
        "__gpos",
        portable_hash64(F.col("__gram")).alias("__h"),
    )
    # every gram at position p belongs to windows starting at
    # p-w+1 .. p: a bounded w-way explode
    member = hashed.select(
        "__id",
        "__gpos",
        "__h",
        F.explode(
            F.sequence(
                F.col("__gpos") - F.lit(int(w) - 1), F.col("__gpos")
            )
        ).alias("__s"),
    ).filter(F.col("__s") >= 1)
    # rightmost minimum per window: min on (hash, -pos) — the struct
    # order makes the tiebreak explicit
    picked = member.groupBy("__id", "__s").agg(
        F.min(F.struct(F.col("__h"), (-F.col("__gpos")).alias("__np"))).alias(
            "__m"
        ),
        F.count(F.lit(1)).alias("__wn"),
    ).filter(F.col("__wn") == int(w))  # full windows only
    return (
        picked.select(
            F.col("__id").alias(id_col),
            (-F.col("__m.__np")).cast("long").alias("pos"),
            F.col("__m.__h").alias("gram_hash"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Plagiarism-candidate pairs by SHARED winnowing fingerprints:
    documents meet only through equal fingerprint hashes (an
    equi-join on the hash — the LSH-band discipline, never all
    pairs), pairs scored by how many distinct fingerprints they
    share.

    ``max_df`` drops fingerprints present in more than that many
    documents BEFORE pairing — the tfidf_doc_similarity df-cap: a
    ubiquitous fingerprint is boilerplate, carries no plagiarism
    signal, and is the one thing that could make the hash-group join
    quadratic.  The cap bounds every group's pair fan-out at
    max_df², measured not argued (the rehearsal's rows_by_factor).

    Returns (id_a, id_b, n_shared) with ``id_a < id_b`` and
    ``n_shared >= min_shared``.
    """
    if max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w).select(
        F.col(id_col).alias("__id"), "gram_hash"
    ).distinct()
    rare = (
        fp.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= int(max_df))
        .select("gram_hash")
    )
    fp = fp.join(rare, "gram_hash")
    lhs = fp.select(F.col("__id").alias("id_a"), "gram_hash")
    rhs = fp.select(F.col("__id").alias("id_b"), "gram_hash")
    return (
        lhs.join(rhs, "gram_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def loso_source_value(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    eval_source: str | None = None,
) -> DataFrame:
    """Leave-one-source-out data valuation: how much does each
    training source contribute to modeling a held-out slice?  Train
    an add-1-smoothed unigram LM on ALL sources, and on
    all-minus-each-source, score the held-out slice under both, and
    report the log-likelihood the source's removal costs — the
    cheapest defensible answer to "which crawls should we buy more
    of?" (the aggregate-level cousin of Data Shapley, one evaluation
    instead of 2^n).

    The trick that makes LOO free: leave-one-out counts are
    ``total − per-source`` — computed by SUBTRACTION from two
    aggregate tables, never by retraining per source.  Held-out
    tokens never join the training counts (the ``eval_source`` slice
    is excluded from every model).

    Scale shape: two vocabulary-sized count tables (per-source and
    total, each one hash aggregate over the token stream), an
    eval-tf table, and the scoring join is (sources × eval-vocab)
    rows — dimension-bounded, the corpus is scanned twice and never
    shuffled at token grain twice.  Log-probs are summed as exact
    tf-weighted doubles and rounded at the end (6 decimals).

    Returns one row per training source: (source, n_train_tokens —
    the source's OWN training-token count, n_eval_tokens — the size
    of the shared held-out eval slice, identical on every row,
    loo_logprob, full_logprob, value) where ``value = full − loo``
    (positive = removing this source HURTS the held-out fit).
    """
    s = F.col(source_col)
    words = (
        df.filter(s.isNotNull() & F.col(text_col).isNotNull())
        .select(
            s.alias("__s"),
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("__w"),
        )
        .filter(F.col("__w") != "")
    )
    if eval_source is None:
        raise ValueError("eval_source must name the held-out slice")
    train = words.filter(F.col("__s") != eval_source)
    eval_tf = (
        words.filter(F.col("__s") == eval_source)
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    per_src = train.groupBy("__s", "__w").agg(
        F.count(F.lit(1)).alias("__c")
    )
    totals = per_src.groupBy("__w").agg(F.sum("__c").alias("__cw"))
    glob = train.agg(
        F.count(F.lit(1)).alias("__N"),
        F.countDistinct("__w").alias("__V"),
    )
    src_n = per_src.groupBy("__s").agg(F.sum("__c").alias("__Ns"))
    # (source x eval-vocab) scoring grid: per-source counts are LEFT
    # joined (a source that never saw a word contributes 0 to the
    # subtraction), eval words unseen in training still score via
    # smoothing
    grid = (
        src_n.crossJoin(F.broadcast(eval_tf))
        .join(F.broadcast(totals), "__w", "left")
        .join(
            per_src.withColumnRenamed("__c", "__cs"),
            ["__s", "__w"],
            "left",
        )
        .crossJoin(F.broadcast(glob))
    )
    cw = F.coalesce(F.col("__cw"), F.lit(0)).cast("double")
    cs = F.coalesce(F.col("__cs"), F.lit(0)).cast("double")
    v = F.col("__V").cast("double")
    n_full = F.col("__N").cast("double")
    n_loo = n_full - F.col("__Ns")
    full_lp = F.log((cw + 1.0) / (n_full + v))
    loo_lp = F.log((cw - cs + 1.0) / (n_loo + v))
    per_source = grid.groupBy(F.col("__s").alias(source_col)).agg(
        F.max("__Ns").cast("long").alias("n_train_tokens"),
        F.sum("__tf").cast("long").alias("n_eval_tokens"),
        F.round(
            F.sum(F.col("__tf") * loo_lp) / F.sum("__tf"), 6
        ).alias("loo_logprob"),
        F.round(
            F.sum(F.col("__tf") * full_lp) / F.sum("__tf"), 6
        ).alias("full_logprob"),
    )
    return per_source.select(
        source_col,
        "n_train_tokens",
        "n_eval_tokens",
        "loo_logprob",
        "full_logprob",
        F.round(
            F.col("full_logprob") - F.col("loo_logprob"), 6
        ).alias("value"),
    )
