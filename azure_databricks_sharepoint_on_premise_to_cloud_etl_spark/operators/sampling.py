"""Sampling and sequence-packing operators for training-data pipelines.

Beyond the reference's operator surface: the three selection steps a
100 TB LLM corpus pipeline runs after dedup/quality scoring —

- ``stable_sample``: deterministic hash-gated sampling (data mixing
  that is reproducible across runs, engines, and repartitioning; no
  RNG state, no shuffle — a narrow filter Catalyst pushes into the
  scan);
- ``stratified_sample``: per-stratum fractions (e.g. per language) as
  one inlined CASE expression — still a narrow filter, never a join;
- ``pack_sequences``: concat-and-chunk sequence packing (documents
  laid end-to-end per shard, chunk boundaries every ``budget`` tokens
  — the standard pretraining layout).  Windows are per-SHARD: a global
  orderBy window would funnel the corpus through one partition, so the
  shard column is part of the contract and shards parallelize.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import fast_hash64, portable_hash64

# hash-gate denominator: fractions are granular to 1e-6
_GATE = 1_000_000


def _sample_gate(key: Column, salt: int, portable: bool = True) -> Column:
    h = (
        portable_hash64(key, seed=salt)
        if portable
        else fast_hash64(key, seed=salt)
    )
    return F.pmod(h, F.lit(_GATE))


def stable_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: int = 0,
    portable: bool = True,
) -> DataFrame:
    """Keep a row iff ``hash(key, salt) mod 1e6 < fraction * 1e6``.

    Content-stable: the same keys survive every run, on any engine and
    any partitioning — the property random sampling lacks and data
    mixing requires (re-runs must not churn the training set).
    ``salt`` decorrelates independent sampling stages over the same
    keys.  Plan: a narrow filter (no shuffle, pushdown-eligible).
    ``portable=True`` uses the md5 gate the DuckDB oracle reproduces;
    ``portable=False`` the cheaper xxhash64.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    key = F.col(key_col).cast("string")
    return df.filter(
        _sample_gate(key, salt, portable) < F.lit(int(fraction * _GATE))
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: int = 0,
    portable: bool = True,
) -> DataFrame:
    """Per-stratum stable sampling (e.g. per-language mixing weights).

    ``fractions`` maps stratum value -> keep fraction; unlisted strata
    get ``default_fraction``.  The per-stratum threshold is one inlined
    CASE expression, so the whole gate stays a narrow filter — never a
    join against a weights table.
    """
    for v in fractions.values():
        if not 0.0 <= v <= 1.0:
            raise ValueError("fractions must be in [0, 1]")
    threshold: Column = F.lit(int(default_fraction * _GATE))
    for value, frac in sorted(fractions.items()):
        threshold = (
            F.when(F.col(strata_col) == F.lit(value), F.lit(int(frac * _GATE)))
            .otherwise(threshold)
        )
    key = F.col(key_col).cast("string")
    return df.filter(_sample_gate(key, salt, portable) < threshold)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    shard_col: str,
    order_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, documents
    are laid end-to-end in deterministic ``order_col`` order; a
    training sequence boundary falls every ``budget`` tokens.  Adds

    - ``pack_offset``: the document's start offset in the shard's
      concatenated token stream,
    - ``pack_id``: the sequence (chunk) its first token lands in,
    - ``pack_pos``: the offset within that sequence.

    A document may straddle a boundary — that is the concat-and-chunk
    contract (the tokenizer-side chunker splits it); consumers needing
    no-straddle packing filter ``pack_pos + tokens <= budget`` and
    re-pack the remainder.

    Scale shape: the window is PER SHARD (partitionBy + orderBy), so
    shards pack in parallel; a global orderBy window would sort the
    corpus through a single partition and is deliberately not offered.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offset = (F.sum(F.col(token_col)).over(w) - F.col(token_col)).cast("long")
    return (
        df.withColumn("pack_offset", offset)
        .withColumn("pack_id", F.floor(F.col("pack_offset") / budget))
        .withColumn("pack_pos", F.col("pack_offset") % budget)
    )


def pack_sequences_nostraddle(
    df: DataFrame,
    token_col: str,
    budget: int,
    shard_col: str,
    order_col: str = "doc_id",
) -> DataFrame:
    """Greedy NO-straddle packing: documents never split across packs.

    Within each shard, in ``order_col`` order, a document opens a new
    pack whenever it would not fit in the remaining budget
    (``pos > 0 and pos + tokens > budget``); a document longer than the
    whole budget gets a pack to itself.  Adds ``ns_pack_id`` and
    ``ns_pack_pos``.

    The recurrence resets the running position at data-dependent
    points, which no window frame can express — this is inherently a
    sequential scan per shard, implemented as one Arrow-batched
    ``applyInPandas`` over the shard groups.  Scale shape: parallelism
    = shard count, so shards are sized to executor memory (hash the key
    into enough shards); each group streams through pandas once,
    O(rows) with no Python per-row boxing on the Spark side.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    import pandas as pd
    from pyspark.sql.types import StructType

    # copy before add(): StructType.add mutates in place, and mutating
    # df.schema desynchronizes the DataFrame from its plan
    out_schema = (
        StructType(list(df.schema.fields))
        .add("ns_pack_id", "long")
        .add("ns_pack_pos", "long")
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        pack_id = 0
        pos = 0
        ids = []
        poss = []
        for t in pdf[token_col].astype("int64"):
            if pos > 0 and pos + t > budget:
                pack_id += 1
                pos = 0
            ids.append(pack_id)
            poss.append(pos)
            pos += int(t)
        pdf["ns_pack_id"] = pd.Series(ids, dtype="int64")
        pdf["ns_pack_pos"] = pd.Series(poss, dtype="int64")
        return pdf

    return df.groupBy(shard_col).applyInPandas(pack, schema=out_schema)


def target_mix(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Down-sample each group to hit TARGET mix proportions.

    ``weights`` maps group value -> desired share of the output
    (unlisted groups are dropped).  Per-group keep-rate is derived
    from the observed counts — ``rate_g = min(1, w_g * N / n_g)`` —
    so over-represented groups are thinned toward the target and
    groups at-or-under their share pass through whole (capping at 1:
    this operator never replicates rows; true up-sampling is the
    training loader's job).  The gate is the stable hash of
    ``stable_sample``, so re-runs keep the identical rows.

    Scale shape: counts are a group-cardinality-sized aggregate, the
    rate table broadcasts, and the gate is a narrow filter — the
    corpus shuffles zero times.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n_g"))
    total = counts.agg(F.sum("__n_g").alias("__n"))
    w = None
    for val, share in weights.items():
        w = (
            F.when(F.col(group_col) == val, F.lit(float(share)))
            if w is None
            else w.when(F.col(group_col) == val, F.lit(float(share)))
        )
    w = w.otherwise(F.lit(None))
    # least() IGNORES nulls in both Spark and DuckDB (least(1.0, NULL)
    # = 1.0), so cap only after the null gate or unlisted groups would
    # silently pass whole instead of dropping
    raw = w * F.col("__n") / F.col("__n_g")
    rates = (
        counts.crossJoin(F.broadcast(total))
        .select(
            group_col,
            F.when(raw.isNotNull(), F.least(F.lit(1.0), raw)).alias("__rate"),
        )
        .filter(F.col("__rate").isNotNull())
    )
    # the SAME gate as stable_sample (string-cast key through
    # _sample_gate) so gates nest/correlate across both operators; the
    # threshold is floored to an integer so the comparison never rides
    # on the last bit of a double (the oracle floors identically)
    gate = _sample_gate(F.col(key_col).cast("string"), salt)
    return df.join(F.broadcast(rates), group_col).filter(
        gate < F.floor(F.col("__rate") * _GATE)
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    temperature: float = 2.0,
    budget_fraction: float = 0.5,
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual-sampling
    formulation, e.g. mBERT/XLM-R's ``p_g ∝ share_g^(1/T)``):
    target share of group g is its observed share raised to ``1/T``
    and renormalized — T=1 keeps natural proportions, T→∞ approaches
    uniform, in between flattens head domains and boosts the tail —
    then every group is down-sampled toward ``target_share_g × budget``
    where ``budget = budget_fraction × N``.  Rates cap at 1: this
    operator never replicates rows (up-sampling is the loader's job —
    the same contract as :func:`target_mix`, whose explicit-weights
    gate this generalizes to a one-parameter schedule).

    Returns surviving rows plus ``keep_frac`` (the group's applied
    rate, rounded to 6) — the audit column a mixing report reads.

    Scale shape: one group-cardinality aggregate, one one-row total,
    the rate table broadcast back, the same stable hash gate as
    ``stable_sample`` — the corpus never shuffles.  Determinism:
    ``pow`` is IEEE-double on both engines and the gate threshold is
    floored to an integer, so the oracle lands on identical rows.

    Rows with a NULL ``group_col`` are excluded up front — they have
    no domain to mix, and excluding them BEFORE the counts aggregate
    keeps the population total ``N`` equal to the population actually
    eligible for sampling (otherwise null rows would inflate every
    other group's budget share while silently vanishing at the inner
    rate join).
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    df = df.where(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n_g"))
    powed = counts.select(
        group_col,
        "__n_g",
        F.pow(F.col("__n_g").cast("double"), F.lit(1.0 / temperature)).alias(
            "__w"
        ),
    )
    norms = powed.agg(
        F.sum("__w").alias("__wsum"), F.sum("__n_g").alias("__n")
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(budget_fraction)
        * F.col("__n")
        * (F.col("__w") / F.col("__wsum"))
        / F.col("__n_g"),
    )
    rates = powed.crossJoin(F.broadcast(norms)).select(
        group_col, rate.alias("__rate")
    )
    gate = _sample_gate(F.col(key_col).cast("string"), salt)
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(gate < F.floor(F.col("__rate") * _GATE))
        .withColumn("keep_frac", F.round(F.col("__rate"), 6))
        .drop("__rate")
    )


def dsir_score(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023,
    arXiv:2302.03169): score every document by the mean unigram
    log-likelihood ratio between a TARGET domain (the rows where
    ``is_target``) and the RAW corpus — the cheap feature-space
    importance weight that data-selection pipelines rank on before
    sampling.  Add-one smoothing over the raw vocabulary keeps
    target-absent terms finite.

    Scale shape (same discipline as ``q_unigram_lm_score``): the token
    stream collapses to per-doc term frequencies first, so every
    shuffle is tf-sized or vocab-sized, never raw-token-sized; BOTH
    language models ride one vocab-sized aggregate (conditional sums
    over the same groupBy — not two passes), vocabulary frequencies
    and the totals broadcast; the per-doc score is a tf-weighted mean.

    Returns (id_col, n_tokens, dsir_score) for every document with at
    least one token.
    """
    from ..functions import word_tokens

    tf = (
        docs.select(
            F.col(id_col),
            is_target.cast("int").alias("__tgt"),
            F.explode(word_tokens(text_col)).alias("term"),
        )
        .groupBy(id_col, "__tgt", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    freqs = tf.groupBy("term").agg(
        F.sum("tf").alias("cnt_raw"),
        F.sum(F.col("tf") * F.col("__tgt")).alias("cnt_tgt"),
    )
    totals = freqs.agg(
        F.sum("cnt_raw").alias("total_raw"),
        F.sum("cnt_tgt").alias("total_tgt"),
        F.count(F.lit(1)).alias("vocab"),
    )
    # log( ((cnt_tgt+1)/(total_tgt+V)) / ((cnt_raw+1)/(total_raw+V)) )
    ratio = (
        (F.col("cnt_tgt") + F.lit(1.0))
        * (F.col("total_raw") + F.col("vocab"))
        / ((F.col("cnt_raw") + F.lit(1.0)) * (F.col("total_tgt") + F.col("vocab")))
    )
    return (
        tf.join(F.broadcast(freqs), "term")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(ratio)) / F.sum("tf"), 6
            ).alias("dsir_score"),
        )
    )


def hash_split(
    df: DataFrame,
    key: Column | str,
    splits: tuple[tuple[str, int], ...] = (("train", 98), ("val", 1), ("test", 1)),
    salt: int = 0,
    portable: bool = True,
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket the portable
    hash of ``key`` into ``sum(weights)`` slots and label by cumulative
    ranges.  A narrow expression — reproducible across runs, engines,
    and repartitioning (the same contract as ``stable_sample``), so a
    corpus re-run lands every row in the same split.

    Pass a CLUSTER id (e.g. the near-dup component from
    ``graph.connected_components``) as ``key`` to make the split
    leakage-safe: all near-duplicates of a document travel to the same
    split, so no eval example has a training-set twin.

    ``portable=False`` swaps the md5-based hash for engine-native
    ``xxhash64`` (~3x cheaper; the production fast path) — same
    determinism contract, verifiable cross-engine only against an
    oracle that implements Spark's xxhash64 chaining
    (tools/xxh64_oracle.py does).
    """
    k = F.col(key) if isinstance(key, str) else key
    total = sum(w for _, w in splits)
    h = (
        portable_hash64(k.cast("string"), seed=salt)
        if portable
        else fast_hash64(k.cast("string"), seed=salt)
    )
    slot = F.pmod(h, F.lit(total))
    expr = None
    lo = 0
    for name, w in splits:
        cond = slot < F.lit(lo + w)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += w
    return df.withColumn("split", expr)


def cap_per_domain(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
) -> DataFrame:
    """Per-domain quota capping (the web-curation guard against one
    host dominating the corpus): keep at most ``cap`` documents per
    domain, chosen in stable pseudo-random order (portable hash of the
    id, id tie-break) so the survivors are a deterministic uniform
    sample of each domain rather than its first rows.

    Scale shape: one rank window partitioned by domain.  A mega-domain
    serializes through its partition's sort; production bounds that by
    pre-thinning before the exact window.  To keep the survivor set
    IDENTICAL, the pre-filter must be order-consistent with the
    ranking key: keep rows with ``__h`` below (an upper bound on) the
    domain's cap-th smallest hash — e.g. ``approx_percentile(__h,
    (2*cap)/est_count)`` per domain — never ``stable_sample``'s
    ``pmod(hash, 1e6)`` gate, which is uncorrelated with the raw-hash
    ascending order and would evict true top-``cap`` rows (changing
    the survivors to merely an equal-sized uniform sample).  Returns
    surviving rows plus ``domain_rank``.
    """
    w = Window.partitionBy(domain_col).orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__h", portable_hash64(F.col(id_col).cast("string")))
        .withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= cap)
        .drop("__h")
    )


def token_budget_epochs(
    df: DataFrame,
    token_col: str,
    budget: int,
    domain_col: str = "source",
    max_epochs: float = 4.0,
) -> DataFrame:
    """Epoch-mixing plan for a fixed training-token budget: give every
    domain an equal share of ``budget`` and express it as a repeat
    factor (epochs) over that domain's available tokens, capped at
    ``max_epochs`` so small domains are not repeated into memorization
    (the Llama/Dolma-style mixture recipe).

    Returns one row per domain: available ``tokens``, the uniform
    ``target_tokens`` share, ``epochs`` (capped, 4 dp) and
    ``planned_tokens`` = round(epochs * tokens).  Downstream, a
    sampler materializes ``floor(epochs)`` full passes plus a
    ``stable_sample`` of the fractional remainder — so the plan stays
    a tiny per-domain table, never a corpus rewrite.

    Scale shape: one partial-aggregated groupBy on the domain key plus
    a single-row broadcast of the domain count; arithmetic only after
    collapse to |domains| rows.
    """
    per = df.groupBy(domain_col).agg(F.sum(token_col).alias("tokens"))
    n_dom = per.select(F.count(F.lit(1)).alias("__nd"))
    out = per.crossJoin(F.broadcast(n_dom)).select(
        F.col(domain_col),
        "tokens",
        F.round(F.lit(budget) / F.col("__nd"), 4).alias("target_tokens"),
        # a zero-token domain (all-empty documents) gets 0 epochs, not
        # the inf/NaN cascade of a raw division
        F.when(
            F.col("tokens") > 0,
            F.round(
                F.least(
                    F.lit(budget) / F.col("__nd") / F.col("tokens"),
                    F.lit(max_epochs),
                ),
                4,
            ),
        ).otherwise(F.lit(0.0)).alias("epochs"),
    )
    return out.withColumn(
        "planned_tokens", F.round(F.col("epochs") * F.col("tokens"), 2)
    )


def materialize_epochs(
    df: DataFrame,
    plan: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    epochs_col: str = "epochs",
    salt: int = 17,
) -> DataFrame:
    """Execute a ``token_budget_epochs`` plan: emit each domain's rows
    ``floor(epochs)`` times as full passes plus one fractional pass
    gated by a per-(row, epoch) stable hash — so a 2.3-epoch domain
    yields every doc twice and a deterministic ~30% of docs a third
    time.  Adds ``epoch`` (0-based pass index) to each emitted row.

    Scale shape: the plan is a |domains|-row broadcast; expansion is a
    narrow ``explode(sequence(...))`` bounded by the epoch cap; the
    fractional gate is the same reproducible hash filter as
    ``stable_sample``, salted per epoch index so successive fractional
    passes are decorrelated.  No shuffle, no RNG state — re-runs emit
    the identical training mixture.

    Gate thresholds use explicit ``floor`` (not a bare integer cast):
    Spark truncates double→long while other engines round, and the
    DuckDB oracle must land on the same boundary.
    """
    p = plan.select(domain_col, epochs_col)
    joined = df.join(F.broadcast(p), domain_col)
    full = F.floor(F.col(epochs_col))
    out = joined.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), full.cast("int")))
    )
    frac = F.col(epochs_col) - full
    key = F.concat(
        F.col(id_col).cast("string"), F.lit(":"), F.col("epoch").cast("string")
    )
    gate = _sample_gate(key, salt) < F.floor(frac * _GATE).cast("long")
    return out.filter((F.col("epoch") < full) | gate).drop(epochs_col)


def weighted_priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    group_cols: list[str] | None = None,
    salt: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling without replacement: keep the
    ``k`` highest-PRIORITY rows (per group, if ``group_cols``), where
    priority = w / u and u is a hash-uniform in (0, 1) — the
    Duffield–Lund–Thorup priority-sampling scheme, which at 100 TB
    replaces "sort by random() weighted" with one rank window.  (DLT's
    unbiased subset-sum estimator additionally needs the (k+1)-th
    priority as the threshold; this operator returns the sample with
    its priorities — rank k+1's priority is the first excluded one —
    and leaves the estimator to the caller.)

    Cross-engine determinism is ARITHMETIC, not seeding: u is built
    from a 40-bit slice of the portable md5 hash — (h40 + 0.5) / 2^40
    is exact in binary64 (40-bit integer add and power-of-two divide
    are lossless), so the single rounded operation is the final w/u
    divide, which IEEE 754 defines exactly — the oracle reproduces the
    priorities bit-for-bit; ties (impossible unless keys collide in
    40 bits) break on the key.  Weights must be positive; zero/negative
    weight rows are dropped (they can never be sampled).

    Plan: one narrow priority projection + one rank window per group —
    no shuffle beyond the window's own partitioning.  Returns the
    surviving rows plus ``priority`` (rounded to 6 for display; the
    rank used the full double).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    group_cols = group_cols or []
    two40 = float(1 << 40)
    h40 = F.pmod(portable_hash64(F.col(key_col).cast("string"), salt), F.lit(1 << 40))
    u = (h40.cast("double") + F.lit(0.5)) / F.lit(two40)
    pri = F.col(weight_col).cast("double") / u
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("__pri").desc(), F.col(key_col)
    )
    out_cols = df.columns
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__pri", pri)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(*out_cols, F.round(F.col("__pri"), 6).alias("priority"))
    )


def group_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic exactly-k-per-group sample: within each group keep
    the ``k`` rows whose salted key hash ranks smallest (hash order,
    key tiebreak) — per-stratum eval-set carving, per-domain
    inspection pools, balanced debug slices.  Unlike
    ``stratified_sample``'s rate gate this guarantees the COUNT
    (min(k, group size)), and unlike any random sample it is stable
    across runs, engines, and partitionings: re-running with the same
    salt reproduces the same rows, and bumping ``salt`` rotates the
    pool.

    One shuffle on the group key, a group-local rank (never a global
    sort), and the hash is the engine-reproducible md5 gate of
    ``stable_sample``, so a SQL oracle selects the identical rows.
    ``key_col`` must be group-unique for the tiebreak to be total.
    """
    gate = portable_hash64(F.col(key_col).cast("string"), seed=salt)
    w = Window.partitionBy(*group_cols).orderBy(
        gate.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
