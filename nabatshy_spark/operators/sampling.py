"""Deterministic sampling operators for training-data curation
(SURVEY §2.11 extension surface).

At 100 TB you cannot use `df.sample()` for curation: it is
nondeterministic across retries/partitions and cannot be reproduced by
a downstream consumer. The standard fix is *consistent hash sampling*:
a pure function of the row key decides membership, so every engine
(Spark, DuckDB, a later rerun) selects the identical subset, the
filter rides predicate pushdown, and no shuffle is introduced.

Both operators here are pure column expressions — single scan, fully
codegen'd, no exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# temperature mixing: a token budget of half the corpus, shares
# ∝ tokens^(1/2)
BUDGET_FRAC = 0.5
TEMPERATURE = 2.0


def hash_sample(df: DataFrame, key_col: str, bps: int) -> DataFrame:
    """Keep ~``bps``/65536 of rows, decided by the first 4 hex chars of
    md5(key). Hex strings of equal length compare lexicographically in
    numeric order ('0'<'9'<'a'<'f'), so the predicate is a plain string
    compare that any engine reproduces bit-for-bit.

    Scale: a deterministic filter directly over the scan — no shuffle,
    no RNG state, safe under task retries and speculative execution.
    """
    # ONE copy of the boundary logic: validation and the keep-all
    # special case live in hash_sample_pred (a lit(True) filter is
    # optimized away), so filter and count_if can never diverge.
    return df.filter(hash_sample_pred(key_col, bps))


def hash_sample_pred(key_col: str, bps: int) -> Column:
    """The bare inclusion predicate behind :func:`hash_sample`, for
    callers that need it as a conditional-aggregate argument instead of
    a filter (e.g. curation_funnel counts survivors without
    materializing the sample). One definition — a filter-vs-count_if
    divergence would silently break the funnel's accounting.

    Validates the full [0, 65536] range itself: relying on
    :func:`hash_sample` for validation left the bare predicate unsafe —
    format(65536,'04x') == '10000' is FIVE chars, and the lexicographic
    compare of 4-char md5 prefixes against it silently drops ~94% of
    rows ('1xxx'…'fxxx' all sort above '10000')."""
    if not 0 <= bps <= 65536:
        raise ValueError("bps must be in [0, 65536]")
    if bps == 65536:  # keep-all: 5-char literal would compare wrong
        return F.lit(True)
    return F.substring(
        F.md5(F.col(key_col).cast("string")), 1, 4
    ) < F.lit(format(bps, "04x"))


def stratified_topfrac(
    df: DataFrame,
    stratum_col: str,
    score_col: str,
    id_col: str,
    frac: float,
) -> DataFrame:
    """Per-stratum top-``frac`` selection by score (quality-filtered
    stratified sampling: e.g. keep the longest/highest-quality quarter
    of documents *per language* so small languages aren't crowded out).

    percent_rank is exact rational arithmetic ((rank-1)/(n-1)), and the
    ordering is made total with the id tiebreak, so the output is
    deterministic and oracle-checkable.

    Scale: one hash shuffle on the stratum key; skewed strata (one
    dominant language) are the known hazard — mitigate by salting the
    rank computation or pre-aggregating per-stratum thresholds via
    approx quantiles when n_strata is small.
    """
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("pr", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("pr") <= frac)
        .select(id_col, stratum_col, score_col, "pr")
    )


def _u01(key: Column) -> Column:
    """Deterministic uniform-ish [0,1) from a key: first 4 md5 hex
    chars as an integer / 65536. Same value in any engine — the
    portable substitute for rand() in curation pipelines."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("double")
        / 65536.0
    )


def weighted_sample(df: DataFrame, key_col: str, weight: Column) -> DataFrame:
    """Importance sampling / domain reweighting: keep each row with
    probability ``weight`` (a column in [0,1]), decided by the
    deterministic per-key uniform — so the mixture is reproducible and
    a weight bump strictly grows the kept set for unchanged keys.

    Pure filter over the scan: no shuffle, no RNG state, retry-safe.
    """
    return df.filter(_u01(F.col(key_col)) < weight)


def capped_per_group(
    df: DataFrame, group_col: str, id_col: str, cap: int
) -> DataFrame:
    """Corpus balancing: keep at most ``cap`` rows per group (source /
    domain / language), chosen by the deterministic per-key uniform so
    the survivors are an unbiased, reproducible sample of each group.

    One shuffle on the group key; WindowGroupLimit prunes each
    partition to ``cap`` rows before the final sort, so a giant group
    never materializes fully in one task's sort buffer.
    """
    w = Window.partitionBy(group_col).orderBy(
        _u01(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def split_corpus(
    df: DataFrame, key_col: str, train_bps: int, val_bps: int
) -> DataFrame:
    """Deterministic train/val/test assignment: the first 4 md5 hex
    chars of the key, read as an integer in [0, 65536), land each row
    in ``train`` (< train_bps), ``val`` (< train_bps+val_bps) or
    ``test``. The split is a pure function of the key — reproducible
    across engines and reruns, stable under data appends (existing
    rows never migrate between splits), and leakage-free as long as
    the key identifies the logical document.

    Scale: a single codegen'd projection over the scan — no shuffle,
    no RNG state; downstream writers partition by ``split`` to get
    the three corpora in one pass.
    """
    if not (0 <= train_bps and 0 <= val_bps and train_bps + val_bps <= 65536):
        raise ValueError("bps thresholds must be non-negative and sum ≤ 65536")
    u = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 4), 16, 10
    ).cast("int")
    return df.withColumn(
        "split",
        F.when(u < train_bps, F.lit("train"))
        .when(u < train_bps + val_bps, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pack_token_chunks(
    df: DataFrame,
    id_col: str,
    n_tokens: Column,
    group_col: str,
    chunk_tokens: int,
) -> DataFrame:
    """Sequence-packing planner: concatenate each group's documents in
    deterministic (id) order and assign every document its token
    start-offset and training-chunk id (chunk k covers token offsets
    [k·B, (k+1)·B)) — the metadata a tokenizer shard needs to pack
    examples without a driver-side loop.

    One shuffle on the group key; the running sum is a single window
    pass. At 100 TB each group's offsets are independent, so groups
    parallelize perfectly; within a group the window is the standard
    sorted-prefix-sum and never buffers more than a partition.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    toks = n_tokens.cast("long")
    cum = F.sum(toks).over(w)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        toks.alias("n_tokens"),
        (cum - toks).alias("start_offset"),
        F.floor((cum - toks) / chunk_tokens).cast("long").alias("chunk_id"),
    )


def temperature_mixture_rates(
    df: DataFrame,
    source_col: str,
    n_tokens: Column,
) -> DataFrame:
    """Token-budget data mixing: allocate a total token budget
    (``BUDGET_FRAC`` × corpus tokens) across sources by
    temperature-scaled sampling — target share p_s ∝ tokens_s^(1/τ)
    (τ = ``TEMPERATURE`` = 2 ⇒ √, the standard multilingual/multi-domain
    rebalancing that upweights small sources without drowning large
    ones) — and emit the per-source keep-rate
    min(1, budget·p_s / tokens_s).

    One aggregation over the scan (partial agg on the source key), then
    a 1-row grand-total broadcast back onto the per-source relation —
    NOT a ``sum over ()`` window, which would drag every source row
    into one task (harmless at 20 sources, fatal when sources are 10⁷
    web domains); no driver round-trip anywhere.
    """
    per_source = df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens.cast("long")).alias("tokens"),
    )
    raw = F.pow(F.col("tokens").cast("double"), F.lit(1.0 / TEMPERATURE))
    totals = per_source.agg(
        F.sum(raw).alias("__raw_total"), F.sum("tokens").alias("__tok_total")
    )
    per_source = per_source.join(F.broadcast(totals))
    share = raw / F.col("__raw_total")
    budget = F.lit(BUDGET_FRAC) * F.col("__tok_total")
    rate = F.round(
        F.least(F.lit(1.0), budget * share / F.col("tokens")), 6
    )
    return per_source.select(
        F.col(source_col),
        F.col("n_docs"),
        F.col("tokens"),
        F.round(share, 6).alias("share"),
        rate.alias("rate"),
        F.floor(rate * F.col("tokens")).cast("long").alias("expected_tokens"),
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    n_tokens: Column,
) -> DataFrame:
    """Apply the temperature-mixture plan: keep each document with its
    source's rate, decided by the deterministic per-key uniform — the
    end-to-end "rebalance this corpus to a token budget" operator.

    The k-row rate table broadcasts into the corpus scan (hash join on
    the source key with a broadcast side — no corpus shuffle), and the
    membership test is the same engine-portable md5 uniform as
    :func:`weighted_sample`, so the selected subset is bit-reproducible
    anywhere.
    """
    rates = temperature_mixture_rates(df, source_col, n_tokens).select(
        source_col, "rate"
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(_u01(F.col(id_col)) < F.col("rate"))
        .select(F.col(id_col), F.col(source_col), F.col("rate"))
    )


def dsir_importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_flag: Column,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio between a TARGET unigram LM
    (built from the rows where ``target_flag`` holds — the in-domain
    exemplar set) and the RAW-corpus unigram LM, both add-one
    smoothed over the joint vocabulary:

        log_weight(d) = Σ_w c_w(d) · [ ln P_tgt(w) − ln P_raw(w) ]

    Documents with ``log_weight > 0`` look more like the target than
    like the corpus average — the deterministic variant of DSIR's
    Gumbel-top-k resampling (same ranking, no sampling noise), which
    keeps the output oracle-checkable.

    Scale shape (same skeleton as the unigram fluency scorer): the
    corpus explodes into tokens ONCE; both LMs come from a single
    vocabulary aggregate (raw count + conditional target count per
    token — one shuffle keyed by token, partial-agg combined); the
    two grand totals are a 1-row broadcast; and the per-(doc, token)
    counts join the vocabulary on the token key. Nothing
    row-proportional shuffles twice, no UDFs, and at 100 TB the
    vocabulary relation is the only state that grows slower than the
    corpus. A hashed-n-gram variant (DSIR's production form) swaps the
    token expression for ``hash(ngram) % B`` and shrinks the
    vocabulary to B buckets — the plumbing is identical.
    """
    toks = df.select(
        F.col(id_col),
        target_flag.cast("int").alias("__tgt"),
        F.explode(F.split(F.col(text_col), " ")).alias("__t"),
    )
    doc_tok = toks.groupBy(id_col, "__t").agg(F.count("*").alias("__c"))
    vocab = toks.groupBy("__t").agg(
        F.count("*").alias("__rc"), F.sum("__tgt").alias("__tc")
    )
    totals = vocab.agg(
        F.sum("__rc").cast("double").alias("__rn"),
        F.sum("__tc").cast("double").alias("__tn"),
        F.count("*").cast("double").alias("__v"),
    )
    s = 1.0  # add-one smoothing
    scored = (
        doc_tok.join(vocab, "__t")
        .join(F.broadcast(totals))
        .withColumn(
            "__lw",
            F.col("__c")
            * (
                F.log(
                    (F.col("__tc") + s) / (F.col("__tn") + s * F.col("__v"))
                )
                - F.log(
                    (F.col("__rc") + s) / (F.col("__rn") + s * F.col("__v"))
                )
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.sum("__lw").alias("__w"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round("__w", 6).alias("log_weight"),
            (F.col("__w") > 0).cast("int").alias("selected"),
        )
    )


def priority_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Fixed-size weighted sampling without replacement via *priority
    sampling* (Duffield, Lund & Thorup, JACM 2007): each row gets
    priority q = w / u with u a per-key uniform in (0, 1], and the k
    highest-priority rows form the sample. Unlike Bernoulli
    ``weighted_sample`` the output size is exactly k, and the (k+1)-th
    priority τ makes any subset-sum unbiasedly estimable as
    Σ max(w, τ) over the sample's members.

    Determinism: u = (m+1)/2^52 from the first 13 md5 hex chars of the
    key — 52 bits, so m, m+1 and u are all exact in an IEEE double and
    u is never 0; q is one correctly-rounded division, so every engine
    ranks identically (ties broken by key). 52 bits matter at corpus
    scale: a 16-bit u gives only 65,536 distinct priorities per weight
    level, so billions of keys collapse into huge tie groups that
    coarsen τ and bias the estimator; 52 bits make ties vanishingly
    rare at any realistic cardinality.

    Scale: top-(k+1) by priority is a per-partition partial top-k
    (TakeOrdered) — no global sort, no shuffle of the losers. The
    returned relation is k+1 rows: ``__rank`` 1..k are the sample,
    row k+1 exists only to carry τ (filter it out after deriving τ).
    When the input has ≤ k rows the sample IS the population and
    Duffield-Lund-Thorup define τ = 0 (Σ max(w, τ) degenerates to the
    exact sum); the window guard below implements that so the
    estimator stays unbiased instead of silently borrowing a sampled
    row's priority as τ.
    """
    m = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10
    ).cast("double")
    u = (m + F.lit(1.0)) / F.lit(4503599627370496.0)  # 2^52
    q = F.col(weight_col).cast("double") / u
    top = (
        df.withColumn("__priority", q)
        .orderBy(F.col("__priority").desc(), F.col(key_col).asc())
        .limit(k + 1)
    )
    w_all = Window.orderBy(F.col("__priority").desc(), F.col(key_col).asc())
    w_full = w_all.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return top.withColumn("__rank", F.row_number().over(w_all)).withColumn(
        "__tau",
        F.when(
            F.count("*").over(w_full) >= k + 1,
            F.min("__priority").over(w_full),
        ).otherwise(F.lit(0.0)),
    )
