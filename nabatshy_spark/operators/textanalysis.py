"""Text analysis operators for training-data pipelines (SURVEY §2.11):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure column expressions — single scan, codegen'd,
no UDFs — so they run at full parquet-scan speed at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nabatshy_spark import artifacts
from nabatshy_spark.catalog import load, table_path

# stopword markers per language for the n-gram/stopword language-ID
# heuristic; deterministic tie order en > de > es > fr.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "is", "of", "and"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "es", "y", "que"],
    "fr": ["le", "les", "est", "et", "une"],
}

STOPWORDS = ["the", "a", "is", "of", "and", "to", "in"]
# Jelinek-Mercer weight λ of bigram_logprob_scores
_JM_LAMBDA = 0.8
# terms kept per document by tfidf_top_terms; the count floor and size
# of the vocab_top_terms vocabulary; the pair-count floor of
# pmi_collocations
TFIDF_K = 3
VOCAB_MIN_COUNT = 2
VOCAB_K = 500
PMI_MIN_COUNT = 5
# boilerplate: 5-word chunks found in more than 2 documents
CHUNK_WORDS = 5
HOT_MAX_DOCS = 2


def _tokens(col: Column) -> Column:
    return F.split(col, " ")


def _marker_count(toks: Column, markers: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def pred_lang_expr(text: Column) -> Column:
    """Argmax language prediction as ONE column expression ('und' when
    no marker fires) — usable directly as a filter predicate on a scan,
    so pipelines need no join-back on the id."""
    toks = _tokens(text)
    se, sd, ss, sf_ = (
        _marker_count(toks, LANG_MARKERS[lang]) for lang in ("en", "de", "es", "fr")
    )
    return (
        F.when((se == 0) & (sd == 0) & (ss == 0) & (sf_ == 0), "und")
        .when((se >= sd) & (se >= ss) & (se >= sf_), "en")
        .when((sd >= ss) & (sd >= sf_), "de")
        .when(ss >= sf_, "es")
        .otherwise("fr")
    )


def lang_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document language scores + argmax prediction ('und' when no
    marker fires). The scoring is engine-portable arithmetic so the
    oracle can replicate it verbatim."""
    toks = _tokens(F.col(text_col))
    scores = {
        lang: _marker_count(toks, markers).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    return df.select(
        F.col(id_col),
        *scores.values(),
        pred_lang_expr(F.col(text_col)).alias("pred_lang"),
    )


def quality_score_expr(text: Column) -> Column:
    """The blended quality score as ONE column expression (see
    :func:`text_stats`) — usable directly as a filter predicate."""
    toks = _tokens(text)
    n_tokens = F.size(toks)
    return F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(_marker_count(toks, STOPWORDS) / F.lit(5.0), F.lit(1.0)) * 0.5,
        6,
    )


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality metrics per document: token count, char count, average
    token length, stopword ratio, and a blended quality score in
    [0, 1] (length-normalized + stopword presence — the usual cheap
    pre-filter before expensive model-based scoring)."""
    toks = _tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    # chars excluding separators / tokens
    avg_token_len = F.round(
        F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))) / n_tokens, 6
    )
    stop_ratio = F.round(_marker_count(toks, STOPWORDS) / n_tokens, 6)
    quality = quality_score_expr(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_measured"),
        avg_token_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    subword estimate (ceil of chars/4 — the standard rough tokens-per-
    char heuristic), both engine-portable."""
    toks = _tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("ws_tokens"),
        F.ceil(F.length(F.col(text_col)) / F.lit(4.0)).alias("subword_est"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text (lower/trim),
    plus a 60-bit rolling-style numeric fingerprint derived from it
    (usable as a shard/bucket key)."""
    norm = F.lower(F.trim(F.col(text_col)))
    fp = F.md5(norm)
    return df.select(
        F.col(id_col),
        fp.alias("fp_md5"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp_60bit"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Top-``TFIDF_K`` TF-IDF terms per document — corpus-statistics scoring for
    training-data curation (which documents are dominated by which
    rare terms).

    tf = term count within the doc; idf = ln(N / df) over the corpus.

    Single-pass shape: the corpus is exploded exactly once into the
    (doc, term) count; document frequency is then a window count over
    that aggregate (tf has one row per doc-term, so count(*) per term
    IS df) — no second corpus scan, no dfreq join. The only row-count
    proportional shuffle is the (doc, term) aggregation; the two window
    exchanges move the much smaller tf relation. N arrives as a 1-row
    broadcast. Deterministic ranking by (score desc, term asc).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .join(F.broadcast(n_docs))
        .withColumn("score", F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_K)
        .select(id_col, "term", "rank", "score")
    )


def vocab_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus vocabulary builder: global term frequency + document
    frequency per token, keep terms with total count ≥
    ``VOCAB_MIN_COUNT``, return the top ``VOCAB_K`` by (count desc,
    term asc) with a dense rank — the first step of training any
    tokenizer / building a frequency vocab over a crawl.

    Scale shape: explode → partial-agg-heavy groupBy on the term (the
    map-side combine collapses each partition's repeats before the
    shuffle), then TakeOrdered for the global top-k — never a global
    sort of the full vocabulary. The rank is applied afterwards on the
    k-row result with a constant-partition window, so no stage sees
    more than k rows in one task.
    """
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    stats = toks.groupBy("term").agg(
        F.count("*").alias("term_count"),
        F.countDistinct("__id").alias("doc_freq"),
    )
    top = (
        stats.filter(F.col("term_count") >= VOCAB_MIN_COUNT)
        .orderBy(F.col("term_count").desc(), F.col("term").asc())
        .limit(VOCAB_K)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1)).orderBy(
        F.col("term_count").desc(), F.col("term").asc()
    )
    return top.select(
        F.row_number().over(w).alias("rank"), "term", "term_count", "doc_freq"
    )


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical text normalization for dedup/fingerprint pipelines:
    lowercase, map every non-[a-z0-9 ] char to space, collapse runs of
    spaces, trim. Emits the normalized text plus its token count.

    Pure column expressions (two regexp_replace passes) — codegen'd,
    single scan, no UDF. At 100 TB this is the canonical pre-pass whose
    output feeds fingerprinting/minhash, so keeping it JVM-side matters
    more than anywhere else.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Repeated-n-gram ratios per document (the Gopher-style quality
    filter: heavily self-repeating documents are low-quality or
    machine-generated). For word 2-grams and 3-grams: dup ratio =
    1 - distinct/total, 0.0 when the document is too short to have any.

    Pure column expressions with the token array bound once through a
    single-element ``transform`` (see dedup.shingles — referencing the
    raw split expression inside the gram lambda re-tokenizes per
    element). Single narrow scan, engine-portable arithmetic, exact
    DuckDB oracle.
    """

    def _ratio(n: int) -> Column:
        def of(t: Column) -> Column:
            idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
            grams = F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            )
            return F.when(
                F.size(t) >= n,
                F.round(
                    1
                    - F.size(F.array_distinct(grams))
                    / F.size(grams).cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0))

        return F.element_at(
            F.transform(F.array(F.split(F.col(text_col), " ")), of), 1
        )

    return df.select(
        F.col(id_col),
        _ratio(2).alias("dup2_ratio"),
        _ratio(3).alias("dup3_ratio"),
    )


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, size: int = 100, stride: int = 80
) -> DataFrame:
    """Overlapping fixed-token chunking — the context-window prep step
    between curation and packing: chunk i covers tokens
    [i*stride, i*stride + size); a document shorter than ``size``
    yields exactly one chunk. Returns (id, chunk_idx, n_chunk_tokens,
    chunk_text).

    Scale shape: tokens bound ONCE per row (a single split), chunk
    indices from sequence+explode, slices by expression — a narrow
    per-row expansion with no shuffle and no UDF; the ~size/stride×
    row growth is the operator's defined output, not a join blow-up.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil((F.col("__n") - size) / F.lit(float(stride))) + 1
    ).cast("int")
    chunks = toks.select(
        F.col(id_col),
        "__toks",
        "__n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, size)
    return chunks.select(
        F.col(id_col),
        "chunk_idx",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def blocked_edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
) -> DataFrame:
    """Fuzzy near-match pairs by Levenshtein distance ≤ 12 over the
    40-character text prefix, quadratic ONLY within a blocking key — the
    record-linkage shape: the blocking column (here a source/domain; in
    general a cheap canopy like a fingerprint band) bounds the self-join
    to Σ|block|² instead of N², exactly the inverted-index argument from
    the dedup stack. The distance itself is Spark's built-in
    ``levenshtein`` — JVM-side, no UDF.
    """
    sides = df.select(
        F.col(id_col),
        F.col(block_col).alias("__blk"),
        F.substring(F.col(text_col), 1, 40).alias("__pfx"),
    )
    a, b = sides.alias("a"), sides.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.levenshtein(F.col("a.__pfx"), F.col("b.__pfx")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
    )


def unigram_logprob_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    own unigram distribution — the perplexity-style fluency filter of
    CCNet-class curation pipelines, with the corpus itself as the LM
    (a real KenLM slots into the same shape; the Spark plumbing is
    identical). Lower (more negative) = more rare-token-heavy.

    Two aggregates over ONE explode: token totals feed a broadcast to
    the per-(doc, token) counts, so the corpus is exploded exactly
    once and nothing row-proportional shuffles twice. ln arithmetic is
    engine-portable (matching round on both sides).
    """
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("__t")
    )
    doc_tok = toks.groupBy(id_col, "__t").agg(F.count("*").alias("__c"))
    # No localCheckpoint on vocab to cut the third explode: measured
    # solo 0.60 → 0.86 s with it. All three explode
    # branches run concurrently on idle cores at this size, so the
    # checkpoint's materialize-then-compute barrier only adds wall —
    # the psi_order_value_drift / dup_ngram_coverage mechanism.
    vocab = toks.groupBy("__t").agg(F.count("*").alias("__vc"))
    total = vocab.agg(F.sum("__vc").alias("__n"))
    scored = (
        doc_tok.join(vocab, "__t")
        .join(F.broadcast(total))
        .withColumn("__lp", F.col("__c") * F.log(F.col("__vc") / F.col("__n")))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum("__lp") / F.sum("__c"), 6).alias("mean_logprob"),
        F.sum("__c").alias("n_tokens"),
    )


def _chunks(text_col: str) -> tuple[Column, Column]:
    """(n_chunks, chunks) expressions for the boilerplate operators: the
    text split into non-overlapping ``CHUNK_WORDS``-word chunks."""
    W = CHUNK_WORDS
    toks = _tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(W)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * W + 1, W), " "),
    )
    return n_chunks, chunk_arr


def hot_chunks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The boilerplate vocabulary (h): md5 hashes of the
    ``CHUNK_WORDS``-word chunks appearing in more than ``HOT_MAX_DOCS``
    distinct documents — headers, footers, license blurbs. The input of
    :func:`boilerplate_scrub` and the producer of
    :func:`shared_hot_chunks`. A HAVING-filtered aggregate over the
    16-byte chunk hash (partial agg combines map-side), tiny by
    construction: boilerplate is frequent, so there are few distinct
    hot hashes."""
    _, chunk_arr = _chunks(text_col)
    return (
        df.select(F.col(id_col), F.explode(chunk_arr).alias("chunk"))
        .select(id_col, F.md5("chunk").alias("h"))
        .groupBy("h")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > HOT_MAX_DOCS)
        .select("h")
    )


def boilerplate_scrub(
    df: DataFrame,
    hot: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Paragraph/chunk-level exact dedup (the RefinedWeb / C4 move):
    split every document into non-overlapping ``CHUNK_WORDS``-word
    chunks, drop the chunks whose hash is in ``hot`` (:func:`hot_chunks`,
    in-plan or read from :func:`shared_hot_chunks`), and rebuild each
    document from the rest.

    Returns per-document scrub accounting — ``n_chunks``, ``n_kept``,
    ``n_removed``, ``clean_md5`` (md5 of the reassembled text, '' when
    everything was boilerplate) and ``n_chars_clean`` — rather than the
    full cleaned body, so the result is compact and hash-comparable.

    Scale shape: the corpus chunk-explodes once into (doc, pos,
    chunk-hash); the hot set is tiny, which makes the removal a
    **broadcast join**, not a corpus-sized shuffle. Reassembly groups
    by doc id: one row-proportional shuffle total. Never shuffles
    document bodies keyed by content.
    """
    n_chunks, chunk_arr = _chunks(text_col)
    base = df.select(
        F.col(id_col), n_chunks.cast("long").alias("n_chunks"), chunk_arr.alias("__chunks")
    )
    exploded = base.select(
        id_col, F.posexplode("__chunks").alias("pos", "chunk")
    ).withColumn("h", F.md5(F.col("chunk")))
    # Flag-and-aggregate in ONE pass over the exploded relation:
    # flagging via a broadcast left join and filtering inside the
    # aggregate emits (n_kept, __clean) directly: collect_list drops the
    # NULLs hot rows become, array_sort orders by pos first, and a doc
    # whose every chunk is hot yields (n_kept=0, __clean='').
    flagged = exploded.join(
        F.broadcast(hot.select("h", F.lit(True).alias("__hot"))), "h", "left"
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.count_if(F.col("__hot").isNull()).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__hot").isNull(),
                            F.struct("pos", "chunk"),
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("__clean"),
    )
    return (
        base.select(id_col, "n_chunks")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_chunks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.md5(F.coalesce(F.col("__clean"), F.lit(""))).alias("clean_md5"),
            F.length(F.coalesce(F.col("__clean"), F.lit(""))).cast("long").alias("n_chars_clean"),
        )
    )


# Bump when hot_chunks' chunking/hashing changes (see artifacts.ensure).
_HOT_CHUNKS_VERSION = 1


def shared_hot_chunks(spark, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed materialization of
    ``hot_chunks(documents, "doc_id", "text")``.

    Why: deriving the hot set in-plan makes the scrub consume its
    chunk-exploded relation twice per run — once to aggregate chunk
    document-frequencies (only to derive this tiny set) and once to
    remove flagged chunks — so the corpus pays the tokenize+chunk
    explode twice for a relation that is deterministic per corpus. The
    hot set is vocabulary-bounded and md5 strings round-trip parquet
    exactly, so the scrub's output is byte-identical. At 100 TB the
    boilerplate vocabulary is the scheduled once-per-corpus job; every
    scrub run is one exploded pass + a broadcast probe. Explicit read
    schema: an empty corpus writes no part files."""

    def _build(staging: str) -> None:
        hot_chunks(
            load(spark, sf_dir, "documents"), "doc_id", "text"
        ).repartition(1).write.mode("overwrite").parquet(staging)

    path = artifacts.ensure(
        "hot_chunks",
        table_path(sf_dir, "documents"),
        _HOT_CHUNKS_VERSION,
        {"chunk_words": CHUNK_WORDS, "max_docs": HOT_MAX_DOCS},
        _build,
    )
    return spark.read.schema("h string").parquet(path)


# Public fixed weights for the linear quality model: a fastText-style
# classifier distilled to five cheap features. Purely illustrative
# numbers (any real deployment retrains them); what matters here is the
# shape — model-based scoring as ONE codegen'd expression, no UDF.
QUALITY_MODEL_WEIGHTS = {
    "bias": -1.0,
    "len_norm": 2.2,        # length-normalized token count, capped at 1
    "stop_ratio": 1.5,      # stopword presence ≈ natural prose
    "avg_tok_len": -0.8,    # very long average tokens ≈ code/garbage
    "ttr": 1.1,             # type-token ratio ≈ lexical diversity
    "digit_ratio": -2.0,    # digit-heavy ≈ tables/serial dumps
}


def quality_model_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Model-based quality scoring: a linear classifier over five
    engineered features, squashed through a sigmoid — the cheap
    stand-in for a fastText/BERT quality model in curation pipelines
    (swap the weights, keep the plan).

    Single codegen'd projection over the scan: the features, the dot
    product, and the sigmoid are all column expressions, so this runs
    at parquet-scan speed with zero Python in the loop and the label
    is usable directly as a pushed-down filter predicate.
    """
    w = QUALITY_MODEL_WEIGHTS
    text = F.col(text_col)
    toks = _tokens(text)
    n_tokens = F.size(toks)
    len_norm = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    stop_ratio = _marker_count(toks, STOPWORDS) / n_tokens
    avg_tok_len = (
        F.length(F.replace(text, F.lit(" "), F.lit(""))) / n_tokens / F.lit(10.0)
    )
    ttr = F.size(F.array_distinct(toks)) / n_tokens
    digit_ratio = (
        F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))
    ) / F.length(text)
    z = (
        F.lit(w["bias"])
        + F.lit(w["len_norm"]) * len_norm
        + F.lit(w["stop_ratio"]) * stop_ratio
        + F.lit(w["avg_tok_len"]) * avg_tok_len
        + F.lit(w["ttr"]) * ttr
        + F.lit(w["digit_ratio"]) * digit_ratio
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return df.select(
        F.col(id_col),
        score.alias("model_score"),
        F.when(score >= 0.75, "high")
        .when(score >= 0.5, "medium")
        .otherwise("low")
        .alias("quality_label"),
        *[F.col(c) for c in (extra_cols or [])],
    )


def source_kl_drift(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group KL divergence of the unigram distribution from the
    corpus-wide distribution — the domain-shift / drift monitor a
    curation pipeline runs per source (or per snapshot) to catch a
    crawler gone off the rails.

    KL(P_g ‖ P_corpus) = Σ_t p_g(t) · ln(p_g(t) / p(t)); terms absent
    from a group contribute 0, and every group term exists in the
    corpus by construction (no division by zero — the corpus is the
    union).

    One corpus explode → (group, term) counts; corpus totals are a
    second aggregate OVER THAT RELATION (nothing row-proportional
    shuffles twice); group totals broadcast back. All arithmetic is
    codegen'd; round(6) for the cross-engine oracle.
    """
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(_tokens(F.col(text_col))).alias("t"),
    )
    gt = toks.groupBy("g", "t").agg(F.count("*").alias("c"))
    g_tot = gt.groupBy("g").agg(F.sum("c").alias("gn"))
    t_tot = gt.groupBy("t").agg(F.sum("c").alias("tc"))
    n = gt.agg(F.sum("c").alias("n"))
    scored = (
        gt.join(t_tot, "t")
        .join(g_tot, "g")
        .join(F.broadcast(n))
        .withColumn(
            "__kl",
            (F.col("c") / F.col("gn"))
            * F.log((F.col("c") / F.col("gn")) / (F.col("tc") / F.col("n"))),
        )
    )
    return scored.groupBy(F.col("g").alias(group_col)).agg(
        F.round(F.sum("__kl"), 6).alias("kl_divergence"),
        F.sum("c").alias("n_tokens"),
    )


def pmi_collocations(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information
    (Church & Hanks 1990) — the phrase-mining pass that feeds tokenizer
    vocabularies and stop-phrase lists.

    PMI(x,y) = ln(c_xy · N_pairs / (c_x⋅ · c_⋅y)) over ADJACENT pairs,
    with marginals counted in pair position (left-word / right-word
    occurrences) so the probability space is consistent.

    One explode into adjacent pairs (zip_with over the shifted token
    array — narrow), one (x, y) partial agg; marginals are aggregates
    over the pair relation, joined back. ``PMI_MIN_COUNT`` floors noise; the
    final ranking is TakeOrdered k, never a full sort.
    """
    toks = _tokens(F.col(text_col))
    pairs = df.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    xy = pairs.groupBy("x", "y").agg(F.count("*").alias("cxy"))
    cx = xy.groupBy("x").agg(F.sum("cxy").alias("cx"))
    cy = xy.groupBy("y").agg(F.sum("cxy").alias("cy"))
    n = xy.agg(F.sum("cxy").alias("n"))
    return (
        xy.filter(F.col("cxy") >= PMI_MIN_COUNT)
        .join(cx, "x")
        .join(cy, "y")
        .join(F.broadcast(n))
        .select(
            "x",
            "y",
            "cxy",
            F.round(
                F.log(F.col("cxy") * F.col("n") / (F.col("cx") * F.col("cy"))), 6
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(k)
    )


def bigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    interpolated bigram LM — the next step up from
    :func:`unigram_logprob_scores` in the CCNet-style fluency-filter
    ladder. Jelinek-Mercer smoothing (public):

        P(y|x) = λ·c(x,y)/c(x·) + (1-λ)·c(y)/N,   λ = 0.8

    so unseen transitions back off to the unigram floor instead of -∞.

    Shape: the corpus explodes ONCE into (doc, x, y) transitions; the
    bigram/left-marginal/unigram tables are aggregates over that
    relation (and its y-projection), joined back — the only
    row-proportional shuffle is the transition aggregation, the same
    discipline as TF-IDF/unigram-LM. Scoring arithmetic is codegen'd;
    round(6) for the oracle.
    """
    toks = _tokens(F.col(text_col))
    trans = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    # Both LM tables hang off doc_xy, and doc_xy feeds the scoring
    # join too: without the checkpoints the tokenize + transition
    # explode + compaction run FIVE times per invocation (10 scans of
    # the corpus). doc_xy
    # is transition-compacted (≪ raw transitions) and xy is
    # bigram-vocabulary-sized — both bounded, both reused.
    doc_xy = (
        trans.groupBy(id_col, "x", "y")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    xy = (
        doc_xy.groupBy("x", "y")
        .agg(F.sum("c").alias("cxy"))
        .localCheckpoint(eager=False)
    )
    xdot = xy.groupBy("x").agg(F.sum("cxy").alias("cx"))
    uni = xy.groupBy("y").agg(F.sum("cxy").alias("cy"))
    n = xy.agg(F.sum("cxy").alias("n"))
    scored = (
        doc_xy.join(xy, ["x", "y"])
        .join(xdot, "x")
        .join(uni, "y")
        .join(F.broadcast(n))
        .withColumn(
            "__lp",
            F.col("c")
            * F.log(
                F.lit(_JM_LAMBDA) * F.col("cxy") / F.col("cx")
                + F.lit(1.0 - _JM_LAMBDA) * F.col("cy") / F.col("n")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum("__lp") / F.sum("c"), 6).alias("mean_bigram_logprob"),
        F.sum("c").alias("n_transitions"),
    )


def cross_doc_ngram_dup(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Cross-document repeated n-gram detection — the distributed shape
    of exact-substring training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, how many of its word n-gram occurrences also appear
    in at least one OTHER document, and what fraction of the document
    that is. High ``dup_fraction`` documents are memorization risks /
    boilerplate carriers even when no whole-document near-dup fires
    (complements ``repetition_stats``, which is intra-document only).

    Scale shape: the corpus-wide gram relation is shuffled on
    ``xxhash64(gram)`` — an 8-byte key — never on the gram text itself,
    so shuffle volume is rows × 8B regardless of n. Collision risk at
    64 bits is ~(G²/2⁶⁵); at 10¹¹ distinct grams (100 TB corpus) that
    is still <1%, and a collision only misattributes one gram's dup
    flag. Two shuffles total: (doc, gram-hash) count, then the
    gram-hash → distinct-doc-count join back. The oracle groups by the
    gram STRING — agreement is itself the no-collision check at test
    scale.
    """
    toks = F.split(F.col(text_col), " ")
    grams_of = F.transform(
        F.array(toks),
        lambda t: F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.xxhash64(
                F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)])
            ),
        ),
    )
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(F.size(toks) >= n, F.element_at(grams_of, 1)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("__g"),
    )
    # dg feeds both the doc-frequency aggregate and the scoring join:
    # checkpointed so the gram explode + compaction run once, not
    # twice (dg is occurrence-compacted, ≪ raw gram rows).
    dg = (
        grams.groupBy(id_col, "__g")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=False)
    )
    # Only the DUPLICATED vocabulary matters downstream (a gram with
    # __nd == 1 contributes 0 either way), so the join ships the df>1
    # subset and a left join restores the single-doc grams as misses —
    # identical sums, smaller build side (§2.3, the dup_span_chars
    # move).
    gd = (
        dg.groupBy("__g")
        .agg(F.count("*").alias("__nd"))
        .filter(F.col("__nd") > 1)
    )
    dup = F.when(F.col("__nd") > 1, F.col("__c")).otherwise(F.lit(0))
    return (
        dg.join(gd, "__g", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_grams"),
            F.sum(dup).alias("dup_grams"),
            F.round(F.sum(dup) / F.sum("__c").cast("double"), 6).alias(
                "dup_fraction"
            ),
        )
    )


def zipf_fit(df: DataFrame, text_col: str, top_n: int = 1000) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency distribution:
    OLS slope of ln(count) on ln(rank) for the top ``top_n`` terms
    (natural text ≈ −1; synthetic/templated corpora flatten — a cheap
    corpus-health signal). Tokenization matches vocab_top_terms
    (single-space split); the regression runs over ≤``top_n`` rows
    after the one term-count shuffle, via the built-in regr_*
    aggregates."""
    from pyspark.sql import Window as _W

    toks = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    # Pre-prune with a top-N (TakeOrderedAndProject — per-partition
    # heaps, no global sort), THEN rank: the unpartitioned row_number
    # window only ever sees <= top_n rows, never the whole vocabulary.
    top = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(
        top_n
    )
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            _W.orderBy(F.col("cnt").desc(), F.col("term").asc())
        ),
    )
    xy = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count("*").alias("n_terms"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """zlib-compressibility per document — the repetition/boilerplate
    signal corpus-quality pipelines use alongside n-gram repetition:
    templated or heavily repeated text compresses far below natural
    prose (natural-language English sits around ratio 0.4-0.7 at
    level 6; machine-generated boilerplate drops under 0.3). Returns
    (id, raw_bytes, compressed_bytes, ratio).

    Arrow-batched ``mapInPandas`` over a narrow (id, text) projection —
    no shuffle; zlib at a fixed level is deterministic for a given
    zlib build, so re-runs reproduce (rows-only surface: SQL engines
    expose no zlib, hence no cross-engine oracle — the differential
    check is the crafted-text unit instead)."""

    def batches(it):
        # Closure (not module-level) so cloudpickle ships it by value —
        # executors in the external driver's session lack /root/repo
        # on sys.path.
        import zlib

        import pandas as pd

        for pdf in it:
            raws, comps = [], []
            for t in pdf[text_col]:
                b = str(t).encode("utf-8")
                raws.append(len(b))
                comps.append(len(zlib.compress(b, 6)))
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": raws,
                    "compressed_bytes": comps,
                }
            )
            out["ratio"] = (
                out["compressed_bytes"] / out["raw_bytes"].clip(lower=1)
            ).round(4)
            yield out

    return df.select(id_col, text_col).mapInPandas(
        batches,
        schema=f"{id_col} long, raw_bytes long, compressed_bytes long, ratio double",
    )
