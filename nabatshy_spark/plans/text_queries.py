"""Text and dedup registry queries over the ``documents`` corpus:
text statistics and quality filters, inverted-index search, corpus
sampling and splits, exact / near-duplicate detection, exact-substring
dedup, decontamination, and entity resolution (part records and
documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nabatshy_spark.catalog import load
from nabatshy_spark.operators import dedup, entity, joins, pii, sampling, textanalysis
from nabatshy_spark.plans.queries import query


def _parquet_rows(sf_dir: str, table: str) -> int:
    """Row count from the parquet footer — driver-local metadata read,
    no Spark job; the cheap cardinality bound semi-join sizing needs."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


@query("dedup_exact", headline=True)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via sha256 hash-groupBy: one survivor (min doc_id)
    per distinct content + duplicate count. The shuffle key is the
    32-byte digest, never the document body."""
    return dedup.exact_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


@query("dedup_ngram_jaccard")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via
    inverted-index self-join, with the document-frequency cap
    (max_df=200) on candidate generation: join cost Σ min(df, 200)²
    stays bounded on boilerplate-heavy corpora, and verification over
    FULL shingle sets keeps the result exact (oracle-checked).

    Served from the fingerprint-keyed shared pair materialization
    (dedup.shared_ngram_pairs) — eight registry queries consume this
    exact relation, so the posting join runs once per corpus version,
    not once per question."""
    return dedup.shared_ngram_pairs(spark, sf_dir)


@query("dedup_minhash_lsh", headline=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact verification: 64 bands × 2
    rows gives P[miss | J≥0.5] ≤ (1-0.25)^64 ≈ 1e-8, so the oracle is
    the exact-Jaccard SQL — the scale path produces the exact answer.
    max_bucket=200 drops hot band buckets (boilerplate collisions)
    from pair expansion; a true pair needs every one of its ~64
    colliding bands hot to be missed. Signatures are served from the
    fingerprint-keyed artifact (dedup.shared_minhash_signatures): the
    seeded signature relation is deterministic per
    corpus, so the pandas-UDF stage is the once-per-corpus build;
    banding + candidate expansion + exact verification stay per-run."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5,
        max_bucket=200,
        sig_override=dedup.shared_minhash_signatures(spark, sf_dir, n=3),
    )


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via the 4×15-bit band
    pigeonhole join — exact result, no N² compare."""
    return dedup.simhash_pairs(load(spark, sf_dir, "documents"), "doc_id", "text")


@query("decontaminate_corpus", headline=True)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:decontaminate):
    training docs sharing ≥3 distinct word 3-grams with the held-out
    eval slice (doc_id % 50 == 0 stands in for the benchmark table)
    are flagged with their hit counts. The eval side's shingle set is
    broadcast — the corpus scans once and never shuffles."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate(
        corpus, bench, "doc_id", "text", n=3, min_hits=3
    )


@query("text_stats", headline=True)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (token/char counts, avg token
    length, stopword ratio, blended quality score)."""
    return textanalysis.text_stats(load(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_langid")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic with deterministic argmax."""
    return textanalysis.lang_scores(load(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_token_counts")
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate."""
    return textanalysis.token_counts(load(spark, sf_dir, "documents"), "doc_id", "text")


@query("text_fingerprint")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 fingerprint + 60-bit numeric shard key."""
    return textanalysis.fingerprints(load(spark, sf_dir, "documents"), "doc_id", "text")


@query("pii_redaction")
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/pii.py): deterministic PII snippets are
    planted expression-side (doc_id % 4 picks email/phone/SSN/IPv4), so
    the regex redaction + per-type counts are verified end-to-end by an
    exact DuckDB oracle running the same plant + same patterns."""
    docs = load(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            )
            .when(
                F.col("doc_id") % 4 == 1,
                F.concat(
                    F.lit(" call 555-867-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            )
            .when(
                F.col("doc_id") % 4 == 2,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                )
            ),
        ),
    )
    return pii.redact_pii(planted, "doc_id", "text")


@query("text_repetition")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repeated-n-gram quality filter
    (operators/textanalysis.py:repetition_stats): word 2-/3-gram dup
    ratios per document, exact oracle."""
    return textanalysis.repetition_stats(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query("text_tfidf_top_terms", headline=True)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (corpus-statistics text
    analysis; single corpus explode, df via window count — no join)."""
    return textanalysis.tfidf_top_terms(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=3
    )


@query("sample_hash", headline=True)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% consistent sample of documents via md5-prefix
    hash sampling (reproducible across engines and reruns; pure filter,
    no shuffle, no RNG)."""
    return sampling.hash_sample(
        load(spark, sf_dir, "documents"), "doc_id", bps=6554
    ).select("doc_id", "lang", "source")


@query("sample_stratified")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-25% longest documents via percent_rank —
    quality-filtered stratified sampling for corpus curation."""
    return sampling.stratified_topfrac(
        load(spark, sf_dir, "documents"), "lang", "n_chars", "doc_id", frac=0.25
    )


@query("text_normalize")
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization pass (lowercase / punct→space / collapse
    / trim) + token count; the JVM-side pre-pass feeding fingerprints."""
    return textanalysis.normalize_text(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query("dedup_components")
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: exact 3-gram Jaccard pairs (threshold 0.5)
    grouped into connected components by alternating large-star /
    small-star rounds (O(log n) convergence); component = min doc_id
    reachable. Pairs come from the shared materialization
    (dedup.shared_ngram_pairs)."""
    pairs = dedup.shared_ngram_pairs(spark, sf_dir)
    return dedup.connected_components(pairs)


@query("dedup_pipeline")
def dedup_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup composition: exact content-hash dedup, then
    3-gram Jaccard (≥0.5) components over survivors, keep min-id per
    cluster; returns the surviving corpus rows."""
    return dedup.dedup_pipeline(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5,
        max_df=200,
    ).select("doc_id", "lang", "source")


@query("corpus_length_stats")
def corpus_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus length distribution (count, avg, p50/p95/p99
    of n_chars, total chars) — the curation dashboard query a
    training-data pipeline watches; one partial-agg shuffle of ~|source|
    groups."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.percentile("n_chars", F.lit(0.5)).alias("p50_chars"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95_chars"),
        F.percentile("n_chars", F.lit(0.99)).alias("p99_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@query("sample_weighted")
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling / domain reweighting: keep doc with
    probability least(n_chars/200, 1) via the deterministic per-key
    uniform — reproducible mixture, pure filter."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars") / F.lit(200.0), F.lit(1.0))
    return sampling.weighted_sample(docs, "doc_id", w).select(
        "doc_id", "lang", "n_chars"
    )


@query("sample_capped_per_source")
def sample_capped_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing: at most 15 docs per source, chosen by the
    deterministic per-key uniform (reproducible unbiased survivors)."""
    return sampling.capped_per_group(
        load(spark, sf_dir, "documents"), "source", "doc_id", cap=15
    ).select("doc_id", "source")


@query("pack_chunks")
def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing planner: per-source token start-offsets and
    512-token training-chunk ids from one windowed prefix sum."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    return sampling.pack_token_chunks(
        docs,
        "doc_id",
        F.size(F.split(F.col("text"), " ")),
        "source",
        chunk_tokens=512,
    )


@query("dedup_incremental", headline=True)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup (operators/dedup.py incremental_dedup):
    documents with doc_id % 10 < 2 play the incoming batch, the rest
    the existing corpus. One status row per batch doc; the corpus side
    is joined as digests + postings only, never corpus×corpus — and
    served from the fingerprint-keyed corpus index artifact
    (dedup.shared_incremental_corpus_index): the standing corpus is a
    deterministic split of static parquet, so its digests / shingle
    postings / hot set are the once-per-corpus-version build, and each
    run pays only the batch side — the steady-state production shape
    the operator docstring always promised."""
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 < 2)
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    return dedup.incremental_dedup(
        corpus, batch, "doc_id", "text", n=3, threshold=0.5, max_df=200,
        corpus_index=dedup.shared_incremental_corpus_index(
            spark, sf_dir, n=3, max_df=200, mod=10, batch_lt=2
        ),
    )


@query("curate_corpus", headline=True)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a 100 TB training
    run actually executes, each stage the cheapest that can reject a
    document: (1) codegen'd quality score ≥ 0.6, (2) language-ID keep
    'en', (3) exact + near dedup (dedup_pipeline: digests → capped
    postings → components), (4) deterministic 10% hash sample. Filters
    run FIRST so the expensive dedup stages see only the kept docs;
    the sample runs LAST so it never discards a doc that dedup needed
    to see."""
    docs = load(spark, sf_dir, "documents")
    # The two rejectors are regexp-heavy scan expressions, and the
    # dedup pipeline consumes its input 4-5 times — fusing the
    # predicate into every consumer's scan re-pays the regex cost per
    # scan (~0.75 s each at sf0.1). Evaluate the rejectors ONCE into a
    # checkpointed id list and semi-join it instead: each downstream
    # scan is then a pruned parquet read + hash semi-join (measured
    # 7.5 s → 5.3 s, identical rows; checkpointing the exact-dedup
    # survivors too measured WORSE, 6.0 s). The semi-join strategy is
    # size-aware (joins.semi_join_ids): a broadcast while the id list
    # fits spark.sql.autoBroadcastJoinThreshold, a shuffle-hash semi
    # past it — at 100 TB billions of kept ids would OOM a broadcast.
    # The estimate is the corpus row count from the parquet footer
    # (kept ⊆ corpus), read driver-side with zero Spark jobs.
    # The rejector evaluation itself is served from the
    # fingerprint-keyed flag artifact shared with curation_funnel and
    # the curated_pairs build (dedup.shared_curation_flags) — the
    # regexes run once per corpus version, this query reads booleans.
    # flags.__fp (sha256 per kept doc) also supplies the exact-dedup
    # survivors, so the pipeline's stage (1) re-hash pass is gone too.
    flags = dedup.shared_curation_flags(spark, sf_dir)
    kept_ids = flags.filter("__k").select("doc_id")
    kept = joins.semi_join_ids(
        docs, kept_ids, "doc_id", n_ids_estimate=_parquet_rows(sf_dir, "documents")
    )
    exact_sur = (
        flags.filter("__k")
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # The near-dup pair relation over the kept corpus is served from
    # the fingerprint-keyed artifact (dedup.shared_curated_pairs) it
    # shares with curation_funnel — byte-identical to the inline
    # posting join, which was ~3 s of this query's 5 s recomputed per
    # run (the build is itemized once per corpus in the bench).
    survivors = dedup.dedup_pipeline(
        kept, "doc_id", "text", n=3, threshold=0.5, max_df=200,
        pairs_override=dedup.shared_curated_pairs(
            spark, sf_dir, n=3, threshold=0.5, max_df=200
        ),
        exact_sur_override=exact_sur,
    )
    return sampling.hash_sample(survivors, "doc_id", bps=6554).select(
        "doc_id", "lang", "source"
    )


@query("corpus_split", headline=True)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 95/2.5/2.5 train/val/test assignment over the
    corpus (operators/sampling.py:split_corpus): membership is a pure
    md5-of-key function — no shuffle, reproducible across engines,
    stable under appends."""
    return sampling.split_corpus(
        load(spark, sf_dir, "documents"), "doc_id", train_bps=62259, val_bps=1638
    ).select("doc_id", "lang", "source", "split")


@query("vocab_top_terms", headline=True)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-vocabulary build: global term count + doc frequency,
    min_count=2, global top-500 via TakeOrdered (never a full-vocab
    sort)."""
    return textanalysis.vocab_top_terms(
        load(spark, sf_dir, "documents"), "doc_id", "text", min_count=2, k=500
    )


@query("text_search_and", headline=True)
def text_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive inverted-index search (operators/invindex.py):
    docs containing ALL of {join, hash, vector}, ranked by total term
    frequency — postings intersection by distinct-term count, never an
    N-way self-join; cost is the queried posting lists only."""
    from nabatshy_spark.operators import invindex

    # Postings served from the shared term-bucket-partitioned
    # layout (invindex.shared_postings) — the scan is pruned to the
    # queried terms' buckets; search_and's own isin filter runs on top,
    # so the result is identical to the inline build.
    terms = ["join", "hash", "vector"]
    postings, _ = invindex.shared_postings(spark, sf_dir, terms=terms)
    return invindex.search_and(postings, terms, k=20)


@query("chunk_documents", headline=True)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size=100, stride=80) —
    narrow sequence+explode+slice expansion, tokens bound once, no
    shuffle (operators/textanalysis.py:chunk_documents)."""
    return textanalysis.chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text", size=100, stride=80
    )


@query("text_search_bm25", headline=True)
def text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked OR search for {join, hash, vector} over the
    inverted index (operators/invindex.py:search_bm25): queried
    posting lists only + one groupBy(doc) + TakeOrdered."""
    from nabatshy_spark.operators import invindex

    # Pruned postings + doc_lens from the shared layout
    # artifact (see text_search_and).
    terms = ["join", "hash", "vector"]
    postings, doc_lens = invindex.shared_postings(spark, sf_dir, terms=terms)
    return invindex.search_bm25(postings, doc_lens, terms, k=20)


@query("fuzzy_prefix_pairs")
def fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-match pairs (block = source, 40-char
    prefix, dist ≤ 12): quadratic only within blocks, JVM-side
    levenshtein (operators/textanalysis.py:blocked_edit_distance_pairs)."""
    return textanalysis.blocked_edit_distance_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@query("hybrid_search_rrf")
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25({join,hash,vector}) ∪ cosine(vec 0)
    fused by reciprocal rank (invindex.hybrid_search) — each branch
    sub-linear, fusion on 2·20 rows."""
    from nabatshy_spark.operators import invindex

    # Pruned postings + doc_lens from the shared layout
    # artifact (see text_search_and).
    terms = ["join", "hash", "vector"]
    postings, doc_lens = invindex.shared_postings(spark, sf_dir, terms=terms)
    return invindex.hybrid_search(
        postings, doc_lens, load(spark, sf_dir, "embeddings"),
        terms, query_vec_id=0, k=10,
    )


@query("dedup_containment")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment pairs (|A∩B|/|A| ≥ 0.6): the
    asymmetric near-dup mode Jaccard misses when the container is much
    longer; one intersection join scores both directions."""
    return dedup.ngram_containment_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.6
    )


@query("dedup_rates_by_source")
def dedup_rates_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-health monitoring: per-source exact-duplicate rate —
    distinct sha256 digests vs rows, in one partial-agg pass over the
    digest projection (the 32-byte key is all that shuffles). The
    gate a crawl pipeline alerts on when a source starts mirroring."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("source", F.sha2(F.col("text"), 256).alias("__h"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("__h").alias("n_distinct"),
            F.round(
                1.0 - F.countDistinct("__h") / F.count("*"), 6
            ).alias("dup_rate"),
        )
    )


@query("unigram_fluency_scores")
def unigram_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style fluency scores under the corpus's own unigram
    LM (textanalysis.unigram_logprob_scores): one corpus explode, two
    aggregates, vocab joined back — the CCNet-class quality filter
    shape with the LM swappable."""
    return textanalysis.unigram_logprob_scores(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query("boilerplate_scrub", headline=True)
def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup / boilerplate removal
    (textanalysis.boilerplate_scrub): 5-word chunks appearing in >2
    distinct documents are scrubbed and every document reassembled.
    The hot-chunk vocabulary is served from the fingerprint-keyed
    artifact (textanalysis.shared_hot_chunks): the corpus
    chunk-explodes once per run (flag + reassemble in one group-by)
    instead of re-aggregating chunk frequencies per invocation, and
    the probe stays a broadcast."""
    return textanalysis.boilerplate_scrub(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_words=5, max_docs=2,
        hot_override=textanalysis.shared_hot_chunks(
            spark, sf_dir, chunk_words=5, max_docs=2
        ),
    )


@query("quality_model_scores", headline=True)
def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (textanalysis.quality_model_scores):
    five engineered features → linear model → sigmoid → label, all as
    one codegen'd projection (the fastText-classifier stand-in)."""
    return textanalysis.quality_model_scores(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query("token_mixture_plan")
def token_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based token-budget allocation across sources
    (sampling.temperature_mixture_rates, τ=2, budget = 50% of corpus
    tokens): per-source keep-rates from one agg + a 1-row broadcast
    grand total — no empty-frame window, no driver collect."""
    docs = load(spark, sf_dir, "documents")
    return sampling.temperature_mixture_rates(
        docs, "source", F.size(F.split(F.col("text"), " ")),
        budget_frac=0.5, temperature=2.0,
    )


@query("sample_token_mixture", headline=True)
def sample_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture plan applied (sampling.mixture_sample): broadcast
    the k-row rate table onto the corpus scan and keep each doc by the
    deterministic md5 uniform — reproducible corpus rebalancing."""
    docs = load(spark, sf_dir, "documents")
    return sampling.mixture_sample(
        docs, "doc_id", "source", F.size(F.split(F.col("text"), " ")),
        budget_frac=0.5, temperature=2.0,
    )


@query("bpe_vocab_merges")
def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (operators/bpe.py, Sennrich et al.
    2016): 20 deterministic merges trained on the word-frequency table
    (ONE corpus pass; every round runs on the small distinct-word
    relation). Iterative training is not SQL-expressible ⇒ rows-only
    driver check; the classic-corpus unit pins the merge sequence."""
    from nabatshy_spark.operators import bpe

    merges = bpe.bpe_train(load(spark, sf_dir, "documents"), "text", num_merges=20)
    return spark.createDataFrame(
        [(i, l, r, l + r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


@query("bpe_token_stats")
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the trained BPE vocabulary
    (bpe.bpe_token_counts): whitespace vs subword counts + fertility —
    the accounting that drives packing budgets. Tokenization is one
    narrow mapInPandas pass with a per-batch word cache."""
    from nabatshy_spark.operators import bpe

    docs = load(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, "text", num_merges=20)
    return bpe.bpe_token_counts(docs, "doc_id", "text", merges)


@query("source_kl_drift")
def source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution
    (textanalysis.source_kl_drift) — the domain-drift monitor. One
    corpus explode; all totals are aggregates over the (source, term)
    relation."""
    return textanalysis.source_kl_drift(
        load(spark, sf_dir, "documents"), "source", "text"
    )


@query("pmi_collocations")
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by PMI (Church-Hanks;
    textanalysis.pmi_collocations, min_count=5): narrow pair explode,
    partial-agg counts, marginals joined back, TakeOrdered ranking."""
    return textanalysis.pmi_collocations(
        load(spark, sf_dir, "documents"), "text", min_count=5, k=20
    )


@query("bigram_fluency_scores")
def bigram_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram fluency scores under the corpus's own LM
    (textanalysis.bigram_logprob_scores, Jelinek-Mercer λ=0.8) — the
    step above the unigram filter; one transition explode, corpus
    tables aggregated over it and joined back."""
    return textanalysis.bigram_logprob_scores(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query("repeated_ngram_docs", headline=True)
def repeated_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 3-gram stats per doc
    (textanalysis.cross_doc_ngram_dup) — the exact-substring-dedup
    signal of Lee et al. 2021: fraction of a document's gram
    occurrences shared with at least one other document. Grams shuffle
    as 8-byte xxhash64 keys, never strings."""
    return textanalysis.cross_doc_ngram_dup(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3
    )


@query("text_search_phrase", headline=True)
def text_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over positional postings
    (invindex.search_phrase): docs where "table hash" occurs
    consecutively, ranked by occurrence count. Positional
    intersection via start-position voting — one filtered posting
    scan + broadcast of the 2-row phrase table, no self-join chain."""
    from nabatshy_spark.operators import invindex

    postings = invindex.build_positional_postings(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return invindex.search_phrase(spark, postings, ["table", "hash"], k=50)


@query("dedup_cluster_stats", headline=True)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster rollup — the report a curation run actually
    ships: each near-dup component (3-gram Jaccard ≥ 0.5, large-star/
    small-star components) joined back to the documents table and
    aggregated to cluster size, distinct sources spanned, and total
    duplicated bytes. The join key is the doc id; the components
    relation is tiny next to the corpus, so AQE broadcasts it onto the
    documents scan — no corpus-wide shuffle beyond the pair finding
    itself (amortized via dedup.shared_ngram_pairs)."""
    pairs = dedup.shared_ngram_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (
        docs.join(comp, "doc_id")
        .groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(F.col("cluster_size").desc(), F.col("component").asc())
    )


@query("split_leakage_audit")
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit — the check a training run gates on
    after splitting: near-duplicate pairs (3-gram Jaccard >= 0.5, the
    same finder as `dedup_ngram_jaccard`) classified by the split
    combination of their endpoints (sampling.split_corpus, the same
    95/2.5/2.5 assignment as `corpus_split`). A (train, test) row IS
    leakage; the same-split rows double as the intra-split dup rate.
    The classification joins ride the pairs relation — tiny next to
    the corpus — against the shuffle-free split projection. Pairs come
    from the shared materialization (dedup.shared_ngram_pairs)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.shared_ngram_pairs(spark, sf_dir)
    splits = sampling.split_corpus(docs, "doc_id", train_bps=62259, val_bps=1638)
    sp = splits.select("doc_id", "split")
    classified = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("__sa")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("__sb")
            ),
            "doc_b",
        )
        .select(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
    )
    return (
        classified.groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_dup_pairs"))
        .orderBy("split_a", "split_b")
    )


@query("er_part_pairs", headline=True)
def er_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs over ``part`` with a
    multi-attribute match score (0.5·name-token Jaccard +
    0.3·brand-equal + 0.2·size proximity), multi-pass blocking:
    df-capped token postings ∪ canonical-name equality (the cap bounds
    posting joins at Σ min(df,cap)²; the name pass catches all-common-
    token exact matches the cap would drop). At threshold 0.8 a match
    needs name Jaccard ≥ 0.6, which on this catalog's 2-token names
    forces identical token sets — so the capped pair set is provably
    identical to the exhaustive one the oracle enumerates. Scoring is
    pure column arithmetic — no UDFs.

    Served from the shared ``part_matches`` artifact
    (entity.shared_part_matches, one build per catalog version shared
    with er_part_topk and er_topk_eval); floats
    are stored raw and rounded here, bit-identical to the direct
    operator."""
    m = entity.shared_part_matches(
        spark, sf_dir, threshold=0.8, max_df=200, rep_cap=None
    )
    return m.select(
        "id_a",
        "id_b",
        F.round("name_jaccard", 6).alias("name_jaccard"),
        "brand_eq",
        F.round("size_sim", 6).alias("size_sim"),
        F.round("score", 6).alias("score"),
    ).orderBy("id_a", "id_b")


@query("er_part_clusters", headline=True)
def er_part_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity clusters at match threshold 0.9: connected components
    (large-star/small-star, O(log n) rounds) over the scored pairs,
    singletons included, reported as a cluster-size histogram. Same
    capped multi-pass blocking as er_part_pairs (lossless at this
    threshold — see that docstring).

    Edges come from the threshold-0.9 ``part_matches``
    artifact (the same artifact the rest of the part-ER family reads,
    instead of 2.7 s recomputing the scored relation per run); the CC
    rounds run over the tiny matched set."""
    return entity.cluster_histogram(
        entity.shared_part_matches(
            spark, sf_dir, threshold=0.9, max_df=200, rep_cap=None
        ),
        load(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("node")
        ),
    )


@query("dup_ngram_coverage", headline=True)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-window coverage: fraction of each doc's
    character 20-gram windows that also appear in another document.
    The duplicated vocabulary is served from the fingerprint-keyed
    artifact it shares with dup_span_chars (dedup.shared_dup_char_vocab),
    so each run is ONE corpus explode + a broadcast probe
    + one doc-keyed aggregate; the 100 TB switch is hashing the
    shingle to int64."""
    return dedup.duplicate_ngram_coverage(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=20,
        dup_vocab_override=dedup.shared_dup_char_vocab(spark, sf_dir, k=20),
    )


@query("dup_span_chars", headline=True)
def dup_span_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level duplicated-span coverage per doc: union of all
    cross-doc-duplicated 20-gram windows via gaps-and-islands — the
    exact number of characters span-scrubbing would remove. The
    duplicated vocabulary comes from the artifact shared with
    dup_ngram_coverage (dedup.shared_dup_char_vocab): one
    corpus explode per run instead of two."""
    return dedup.duplicate_span_stats(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=20,
        dup_vocab_override=dedup.shared_dup_char_vocab(spark, sf_dir, k=20),
    )


@query("vocab_zipf_slope", headline=True)
def vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope of the top-1000 term-frequency distribution
    (corpus-health signal: natural text ≈ −1)."""
    return textanalysis.zipf_fit(
        load(spark, sf_dir, "documents"), "text", top_n=1000
    )


@query("curation_funnel", headline=True)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts for the exact `curate_corpus`
    composition — the audit artifact a curation run ships alongside
    its output (how many docs each stage rejected, so a threshold
    change's blast radius is visible before committing the full pass).

    TWO aggregate jobs, not six (the six-job form measured 2.3× slower
    — A/B in SCALE.md):
    stages 0-3 are four conditional aggregates of ONE document scan
    (count, count_if quality, count_if quality∧lang, distinct content
    fingerprints among the kept — exactly `exact_dedup`'s group count),
    so the heavy quality/langid expressions run once per row instead
    of once per stage branch; stages 4-5 are one aggregate over the
    near-dedup survivor relation (count + count_if of
    `hash_sample_pred`, the same predicate `hash_sample` filters by).
    Every predicate/fingerprint is the pipeline operators' own
    expression, so the funnel remains the pipeline's accounting, not a
    reimplementation. Only `kept` is cached (dedup_pipeline consumes
    it three times); the two 1-row results are bounded driver
    transfers."""
    from nabatshy_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    # The narrow per-row flag relation (id + two bools + 32-byte hash,
    # never text) is served from the fingerprint-keyed artifact shared
    # with curate_corpus and the curated_pairs build
    # (dedup.shared_curation_flags): the quality/langid regexes run once
    # per corpus version instead of once per consumer per run. Both the
    # head aggregate and the kept semi-join read the flags.
    flags = dedup.shared_curation_flags(spark, sf_dir)
    head = flags.agg(
        F.count("*").alias("s0"),
        F.count_if("__q").alias("s1"),
        F.count_if("__k").alias("s2"),
        F.count_distinct("__fp").alias("s3"),
    ).collect()[0]
    kept = docs.join(
        flags.filter("__k").select("doc_id"), "doc_id", "left_semi"
    )
    # near-dup pairs from the shared curated-pair artifact (same
    # relation curate_corpus consumes — see dedup.shared_curated_pairs),
    # and exact survivors derived from the checkpointed flag relation —
    # flags already carries each kept doc's sha256 (__fp), so min-id-
    # per-fingerprint here IS exact_dedup(kept) without re-reading and
    # re-hashing the text (one fewer corpus scan; `kept` is consumed
    # once, so it needs no cache).
    exact_sur = (
        flags.filter("__k")
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near = dedup.dedup_pipeline(
        kept, "doc_id", "text", n=3, threshold=0.5, max_df=200,
        pairs_override=dedup.shared_curated_pairs(
            spark, sf_dir, n=3, threshold=0.5, max_df=200
        ),
        exact_sur_override=exact_sur,
    )
    tail = near.agg(
        F.count("*").alias("s4"),
        F.count_if(sampling.hash_sample_pred("doc_id", 6554)).alias("s5"),
    ).collect()[0]
    rows = [
        (0, "input", head.s0),
        (1, "quality_gte_0.6", head.s1),
        (2, "lang_en", head.s2),
        (3, "exact_dedup", head.s3),
        (4, "near_dedup", tail.s4),
        (5, "sample_10pct", tail.s5),
    ]
    return spark.createDataFrame(
        rows, "stage_no int, stage string, n_docs long"
    )


@query("tokenizer_fertility_by_lang")
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subword-estimate tokens per
    whitespace word, the standard signal for how well a tokenizer
    serves each language before fixing a corpus mixture. One narrow
    scan (two integer expressions per row), one 5-row agg; ratios are
    computed from the BIGINT sums so the oracle is exact."""
    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("__ws"),
        F.ceil(F.length("text") / F.lit(4.0)).alias("__sw"),
        F.length("text").alias("__ch"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__ws").alias("ws_tokens"),
            F.sum("__sw").alias("subword_tokens"),
            F.round(
                F.sum("__sw").cast("double") / F.sum("__ws").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.sum("__ch").cast("double") / F.sum("__ws").cast("double"), 6
            ).alias("chars_per_word"),
        )
        .orderBy("lang")
    )


@query("source_overlap_matrix", headline=True)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: near-dup pair counts (3-gram
    Jaccard ≥ 0.5) between every pair of corpus sources — the signal
    for "which feeds copy from which" before choosing per-source
    sampling weights. The pair relation is tiny next to the corpus,
    so the two source lookups broadcast; the (least, greatest)
    normalization makes the matrix triangular and order-stable.

    Pairs come from the fingerprint-keyed shared materialization
    (dedup.shared_ngram_pairs) that all eight consumers of this exact
    relation read. Per-stage solo profile at sf0.1 (min-of-4, fresh
    lineage): posting join 2.11 s, joins+agg on the pair relation
    0.24 s — so the steady-state cost is the joins+agg (~0.3 s), and
    the posting join is paid once per corpus version."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.shared_ngram_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    sa = src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "source", "src_a"
    )
    sb = src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "source", "src_b"
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


@query("token_count_histogram", headline=True)
def token_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of per-document token counts — the
    packing/sequence-length planning input. The log2 bucket is
    computed as length(bin(n))−1, exact integer arithmetic on both
    engines (no float log whose rounding could flip a boundary doc);
    one narrow scan, one tiny bucket agg."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    return (
        docs.select(
            (F.length(F.bin(n_tok.cast("long"))) - 1).alias("log2_bucket"),
            n_tok.alias("__n"),
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").alias("total_tokens"),
        )
        .orderBy("log2_bucket")
    )


@query("dup_threshold_curve")
def dup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup rate curve: how many candidate pairs fall into each
    Jaccard band (0.5–0.7, 0.7–0.9, ≥0.9) — ONE pair-finding pass
    (threshold at the lowest band, bands as a post-hoc bucket expr)
    instead of re-running the finder per threshold. The report a
    curation run uses to pick its dedup threshold before committing
    to a full pass. Pairs come from the shared materialization
    (dedup.shared_ngram_pairs)."""
    pairs = dedup.shared_ngram_pairs(spark, sf_dir)
    band = (
        F.when(F.col("jaccard") >= 0.9, F.lit("0.9+"))
        .when(F.col("jaccard") >= 0.7, F.lit("0.7-0.9"))
        .otherwise(F.lit("0.5-0.7"))
    )
    return (
        pairs.select(band.alias("jaccard_band"))
        .groupBy("jaccard_band")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("jaccard_band")
    )


@query("dedup_keep_best", headline=True)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection per near-dup cluster — the
    production retention policy (keep the longest/highest-quality
    member, not the min-id): 3-gram Jaccard ≥ 0.5 pairs →
    large-star/small-star components → per-component row_number over
    (n_chars DESC, doc_id ASC). The ranking window partitions by
    component, so it is partition-local after one shuffle of the tiny
    components relation; the corpus itself only ever ships (id,
    n_chars) pairs. Swap ``n_chars`` for any scored quality column
    (quality_model_scores) for the model-based variant. Pairs come
    from the shared materialization (dedup.shared_ngram_pairs)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.shared_ngram_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs)
    sized = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = sized.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("kept_doc"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias(
                "kept_chars"
            ),
        )
        .orderBy("component")
    )


@query("langid_confusion", headline=True)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: gold label vs marker-argmax
    prediction, with per-cell counts — the eval artifact that says
    WHERE the classifier fails (e.g. zh → 'und': no zh marker list),
    not just how often. One scan (prediction is a pure column
    expression), one tiny (gold, pred) agg."""
    from nabatshy_spark.operators import textanalysis

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("gold_lang"),
            textanalysis.pred_lang_expr(F.col("text")).alias("pred_lang"),
        )
        .groupBy("gold_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("gold_lang", "pred_lang")
    )


@query("doc_token_entropy", headline=True)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy (bits) — the
    compressibility/diversity proxy next to repetition_stats: low
    entropy ⇒ repetitive/templated text. One (doc, term) shuffle;
    entropy is Σ −p·log2(p) over each doc's term frequencies, rounded
    at 6 dp. Reported as per-bucket doc counts so the result stays
    review-sized at any corpus scale."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    ent = (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log2(F.col("c"))).alias("clog"),
        )
        .select(
            "doc_id",
            F.round(
                F.log2(F.col("n")) - F.col("clog") / F.col("n"), 6
            ).alias("entropy_bits"),
        )
    )
    return (
        ent.select(F.floor(F.col("entropy_bits")).alias("entropy_floor"))
        .groupBy("entropy_floor")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("entropy_floor")
    )


@query("length_quality_correlation", headline=True)
def length_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between document length and the heuristic
    quality score — the sanity check that a quality model is not just
    a length detector. The five moment sums (Σx, Σy, Σx², Σy², Σxy)
    accumulate in DECIMAL(28,6), so r is bit-identical across engines
    before the 6-dp round; one scan, one 1-row agg."""
    from nabatshy_spark.operators import textanalysis

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        F.col("n_chars").cast("decimal(28,6)").alias("x"),
        textanalysis.quality_score_expr(F.col("text"))
        .cast("decimal(28,6)")
        .alias("y"),
    )
    agg = d.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    return agg.select(
        F.col("n").alias("n_docs"),
        F.round(
            (n * F.col("sxy").cast("double") - sx * sy)
            / F.sqrt(
                (n * F.col("sxx").cast("double") - sx * sx)
                * (n * F.col("syy").cast("double") - sy * sy)
            ),
            6,
        ).alias("pearson_r"),
    )


@query("gopher_rule_flags", headline=True)
def gopher_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule battery per document (Rae et al. 2021
    §A1.1, the applicable subset for a single-line corpus): word-count
    floor, mean-word-length band, stopword-fraction floor, and
    top-bigram dominance (fraction of words covered by repeats of the
    most frequent 2-gram — the repetition rule). Rules are hard
    booleans, not a blended score (that's quality_model_scores); the
    bigram pass is one doc_id-keyed shuffle of hashed grams, all other
    rules are pure scan expressions."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.length("text").alias("nc"),
    ).select(
        "doc_id",
        "w",
        F.size("w").alias("n_words"),
        ((F.col("nc") - F.size("w") + 1) / F.size("w")).alias("mean_wl"),
        (
            F.size(F.filter("w", lambda x: x.isin("the", "a")))
            / F.size("w")
        ).alias("stop_frac"),
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w)-1),"
                " (x, i) -> concat(x, ' ', element_at(w, i+2)))"
            )
        ).alias("b"),
    )
    top = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc"))
    )
    joined = base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.round("mean_wl", 6).alias("mean_word_len"),
        F.round("stop_frac", 6).alias("stopword_frac"),
        F.round(
            2.0 * F.coalesce(F.col("mc"), F.lit(0)) / F.col("n_words"), 6
        ).alias("top_bigram_frac"),
        (F.col("n_words") >= 30).alias("pass_word_count"),
        ((F.col("mean_wl") >= 3) & (F.col("mean_wl") <= 10)).alias(
            "pass_mean_word_len"
        ),
        (F.col("stop_frac") >= 0.03).alias("pass_stopword"),
        (
            2.0 * F.coalesce(F.col("mc"), F.lit(0)) / F.col("n_words")
            <= 0.125
        ).alias("pass_repetition"),
    )
    return joined.withColumn(
        "keep",
        F.col("pass_word_count")
        & F.col("pass_mean_word_len")
        & F.col("pass_stopword")
        & F.col("pass_repetition"),
    ).orderBy("doc_id")


@query("export_shard_plan", headline=True)
def export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard plan: every document lands in one of 16
    shards keyed by the first hex nibble of md5(doc_id) — deterministic,
    engine-portable (no integer hash conversion), retry-safe, and the
    write side is a plain partitionBy('shard') append. The report is
    the per-shard balance audit an export job gates on: doc count,
    byte mass, and the count's ratio to the ideal uniform share. A
    single hash-agg over the scan; the balance window runs on the
    16-row aggregate."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias(
                "shard"
            ),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    w = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "total_chars",
        F.round(
            F.col("n_docs") * 16.0 / F.sum("n_docs").over(w), 6
        ).alias("balance_ratio"),
    ).orderBy("shard")


@query("heaps_law_fit", headline=True)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth V(N) ≈ K·N^β (public
    empirical law; natural text β ≈ 0.4-0.6 — flat β flags templated
    corpora, the companion health signal to the Zipf slope): each
    term's first-occurrence doc marks when it enters the vocabulary,
    per-doc introductions and token counts cumulate over doc order
    through stats.cumulative_sum_ordered's TWO-PHASE prefix sum (the
    per-doc relation is |docs|-sized — data, not dimension, so a
    global-order window would sort the corpus's doc list on one task),
    and regr_slope of ln V on ln N is the exponent. All counts are
    exact integers, so the OLS inputs are engine-identical."""
    from nabatshy_spark.operators.stats import cumulative_sum_ordered
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    intro = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("new_terms")
    )
    per_doc = (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"))
        .join(intro, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
        )
    )
    curve = cumulative_sum_ordered(
        per_doc,
        [F.col("doc_id").asc()],
        "n_tokens",
        force="twophase",
        extra_value_cols=["new_terms"],
    ).select(
        F.col("__cum").alias("N"),
        F.col("__cum_new_terms").alias("V"),
    )
    xy = curve.select(
        F.log(F.col("N").cast("double")).alias("x"),
        F.log(F.col("V").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count("*").alias("n_points"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("heaps_beta"),
        F.round(F.exp(F.expr("regr_intercept(y, x)")), 6).alias("heaps_k"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


@query("ks_source_drift")
def ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per source: for
    each source, D = max |F_source(x) − F_rest(x)| over the doc-length
    distribution — the distribution-level gate a crawl pipeline alerts
    on when one feed's shape diverges from the corpus (the mean-based
    twin is ab_test_lift; KS sees shape changes means miss).  The CDFs
    are built on the (source × distinct-length) grid: distinct lengths
    are bounded by the max document length at ANY corpus size, so the
    grid, the per-source cumulative windows, and the one unpartitioned
    window over the ≤|lengths| relation never grow with row count —
    only the first (source, n_chars) count aggregate scans the corpus.
    All cumulative counts are exact integers; the division to CDFs is
    the only floating step."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    src_tot = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    len_tot = docs.groupBy("n_chars").agg(F.count("*").alias("c_all"))
    w_len = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_all = len_tot.select(
        "n_chars", F.sum("c_all").over(w_len).alias("cum_all")
    )
    grid = src_tot.crossJoin(len_tot.select("n_chars"))
    w_src = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_src = (
        grid.join(counts, ["source", "n_chars"], "left")
        .select(
            "source", "n_chars", "n_s",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .select(
            "source", "n_chars", "n_s",
            F.sum("c").over(w_src).alias("cum_s"),
        )
    )
    n_all = docs.agg(F.count("*").alias("n_all"))
    diffs = (
        cum_src.join(F.broadcast(cum_all), "n_chars")
        .crossJoin(F.broadcast(n_all))
        .filter(F.col("n_all") > F.col("n_s"))
        .select(
            "source", "n_s",
            F.abs(
                F.col("cum_s") / F.col("n_s")
                - (F.col("cum_all") - F.col("cum_s"))
                / (F.col("n_all") - F.col("n_s"))
            ).alias("d"),
        )
    )
    return (
        diffs.groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.round(F.max("d"), 6).alias("ks_stat"),
        )
        .orderBy("source")
    )


@query("chi2_lang_source")
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test of the (lang × source) contingency
    table plus Cramér's V — "does language mix depend on feed?", the
    categorical drift screen next to the numeric KS.  One corpus scan
    builds the observed cells; margins and expected counts live on the
    tiny contingency relation (languages × sources), so everything
    after the first aggregate broadcasts.  Expected counts divide exact
    integer margins; only the final Σ(O−E)²/E is floating."""
    docs = load(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    row_m = docs.groupBy("lang").agg(F.count("*").alias("r_tot"))
    col_m = docs.groupBy("source").agg(F.count("*").alias("c_tot"))
    tot = docs.agg(F.count("*").alias("n_all"))
    cells = (
        obs.join(F.broadcast(row_m), "lang")
        .join(F.broadcast(col_m), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang", "source", "n_all",
            (
                F.col("r_tot") * F.col("c_tot") / F.col("n_all")
            ).alias("e"),
            F.col("o").cast("double").alias("od"),
        )
    )
    dev2 = (F.col("od") - F.col("e")) * (F.col("od") - F.col("e"))
    return cells.agg(
        F.max("n_all").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        (
            (F.count_distinct("lang") - F.lit(1))
            * (F.count_distinct("source") - F.lit(1))
        ).alias("dof"),
        F.round(F.sum(dev2 / F.col("e")), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(dev2 / F.col("e"))
                / (
                    F.max("n_all")
                    * F.least(
                        F.count_distinct("lang") - F.lit(1),
                        F.count_distinct("source") - F.lit(1),
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query("spearman_length_vocab")
def spearman_length_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document length and vocabulary
    size (distinct tokens) — rank-based, so one boilerplate whale can't
    drag the estimate the way it drags Pearson
    (length_quality_correlation's family).  Ranks are MIDRANKS computed
    from the distinct-value relations, never a global row window: both
    variables are integers bounded by the max document length at any
    corpus size, so the cumulative-count windows run over ≤|distinct
    values| rows and broadcast back onto the per-doc relation.
    midrank(v) = cum_count(≤v) − (count(v)−1)/2 reproduces exactly what
    rank-then-average-ties would give; Pearson over midranks IS
    Spearman's ρ with the standard tie correction."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.size(F.array_distinct(F.split("text", " "))).alias("y"),
    )

    def midranks(col: str) -> DataFrame:
        cnts = per_doc.groupBy(col).agg(F.count("*").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return cnts.select(
            col,
            (
                F.sum("c").over(w) - (F.col("c") - F.lit(1)) / F.lit(2.0)
            ).alias(f"r_{col}"),
        )

    joined = per_doc.join(F.broadcast(midranks("x")), "x").join(
        F.broadcast(midranks("y")), "y"
    )
    return joined.agg(
        F.count("*").alias("n_docs"),
        F.round(F.corr("r_x", "r_y"), 6).alias("spearman_rho"),
        F.round(F.corr("x", "y"), 6).alias("pearson_r"),
    )


@query("flesch_readability")
def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source (206.835 − 1.015·words/sentences
    − 84.6·syllables/words, the public readability formula) with a
    vowel-group syllable proxy — the classic cheap quality signal a
    curation pipeline bins corpora by before any model-based scorer.
    Every term is a codegen'd scan expression (split size + two
    regexp_count calls — `[.!?]+` sentences, `[aeiouy]+` syllable
    groups, identical RE2/Java semantics); the per-source rollup is one
    partial-agg shuffle of five numbers."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("double").alias("words"),
        F.greatest(
            F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
        ).cast("double").alias("sentences"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("double").alias("syllables"),
    ).select(
        "source",
        (
            F.lit(206.835)
            - F.lit(1.015) * F.col("words") / F.col("sentences")
            - F.lit(84.6) * F.col("syllables") / F.col("words")
        ).alias("flesch"),
        "words", "syllables",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("flesch"), 6).alias("avg_flesch"),
            F.round(
                F.avg(F.col("syllables") / F.col("words")), 6
            ).alias("avg_syll_per_word"),
            F.round(
                F.sum(F.when(F.col("flesch") >= 60, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("easy_share"),
        )
        .orderBy("source")
    )


@query("quantile_calibration_by_source")
def quantile_calibration_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration table across sources: each source's quality-
    score deciles next to the corpus-wide deciles and the gap — the
    report that says "feed X's 0.6 means what the corpus calls 0.4"
    before any cross-source threshold is applied (the quantile-
    normalization step of heterogeneous curation).  Quantiles are
    EXACT order statistics but computed WITHOUT any global sort or
    whole-corpus percentile state: scores land on the 6-dp rounded
    grid, so the (source × distinct-score) count histogram is bounded
    at any corpus size, and decile d is "min grid value whose
    cumulative count reaches floor((n−1)·d/10)+1" — cumulative windows
    and decile joins all run on that bounded relation.  Only the first
    (source, score) aggregate scans the corpus."""
    from nabatshy_spark.operators import textanalysis

    docs = load(spark, sf_dir, "documents")
    s = textanalysis.quality_model_scores(
        docs, "doc_id", "text", extra_cols=["source"]
    ).select("source", "model_score")
    cnts = s.groupBy("source", "model_score").agg(F.count("*").alias("c"))
    ns = cnts.groupBy("source").agg(F.sum("c").alias("n_s"))
    w_s = (
        Window.partitionBy("source")
        .orderBy("model_score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = cnts.select(
        "source", "model_score", F.sum("c").over(w_s).alias("cum")
    )
    gc = cnts.groupBy("model_score").agg(F.sum("c").alias("c"))
    w_g = Window.orderBy("model_score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumg = gc.select("model_score", F.sum("c").over(w_g).alias("cum"))
    ng = s.agg(F.count("*").alias("n"))
    d = spark.range(1, 10).select(F.col("id").alias("decile"))
    sidx = ns.crossJoin(F.broadcast(d)).select(
        "source", "decile",
        (
            F.floor((F.col("n_s") - 1) * F.col("decile") / F.lit(10.0))
            + F.lit(1)
        ).alias("idx"),
    )
    sval = (
        cums.join(F.broadcast(sidx), "source")
        .filter(F.col("cum") >= F.col("idx"))
        .groupBy("source", "decile")
        .agg(F.min("model_score").alias("src_value"))
    )
    gidx = ng.crossJoin(F.broadcast(d)).select(
        "decile",
        (
            F.floor((F.col("n") - 1) * F.col("decile") / F.lit(10.0))
            + F.lit(1)
        ).alias("idx"),
    )
    gval = (
        cumg.crossJoin(F.broadcast(gidx))
        .filter(F.col("cum") >= F.col("idx"))
        .groupBy("decile")
        .agg(F.min("model_score").alias("global_value"))
    )
    return (
        sval.join(F.broadcast(gval), "decile")
        .select(
            "source", "decile", "src_value", "global_value",
            F.round(
                F.col("src_value") - F.col("global_value"), 6
            ).alias("gap"),
        )
        .orderBy("source", "decile")
    )


@query("epoch_shuffle_order", headline=True)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle for training export:
    every (epoch, doc) gets the sort key md5(epoch ':' doc_id), the
    first hex nibble is its shard, and the within-shard order is the
    hash order — a different, reproducible permutation each epoch
    with no RNG state anywhere (retry-safe: any task can recompute
    its order from the key alone).  The audit emitted here proves the
    ORDER, not just membership: order_checksum = Σ position·doc_id is
    order-sensitive, so two engines agree only if the full permutation
    agrees.  One narrow scan ×3 epochs, one shuffle on (epoch, shard);
    positions come from a row_number inside each shard partition —
    at 100 TB each of the 16·epochs partitions sorts independently
    (raise the nibble width for more shards)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    h = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id",
        h.alias("h"), F.substring(h, 1, 1).alias("shard"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("h")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .groupBy("epoch", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("pos") * F.col("doc_id")).cast("long").alias(
                "order_checksum"
            ),
            F.min_by("doc_id", "h").alias("head_doc"),
        )
        .orderBy("epoch", "shard")
    )


@query("padding_efficiency", headline=True)
def padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching audit: how many pad tokens does naive
    fixed-512 padding burn vs bucketing sequences to the next power of
    two (the dynamic-padding strategy training loaders use when full
    packing isn't applicable — e.g. contrastive or preference pairs
    that can't cross document boundaries).  The pow2 ceiling is exact
    integer arithmetic (shiftleft by bit-length, the same trick as
    token_count_histogram's floor bucket) — no float log whose
    rounding could flip a boundary doc.  One narrow scan, one tiny
    bucket agg."""
    docs = load(spark, sf_dir, "documents")
    t = F.least(F.size(F.split(F.col("text"), " ")), F.lit(512))
    ceil = F.expr(
        "CASE WHEN t <= 1 THEN 1 "
        "ELSE shiftleft(1, length(bin(cast(t - 1 AS bigint)))) END"
    )
    return (
        docs.select(t.alias("t"))
        .select("t", ceil.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").cast("long").alias("total_tokens"),
            (F.count("*") * 512 - F.sum("t")).cast("long").alias(
                "naive_pad_tokens"
            ),
            (F.sum(F.col("bucket_len") - F.col("t"))).cast("long").alias(
                "bucket_pad_tokens"
            ),
        )
        .withColumn(
            "bucket_vs_naive_savings",
            # An all-exactly-512-token bucket pads zero either way;
            # pin the ratio to 1.0 instead of engine-divergent x/0.
            F.when(F.col("naive_pad_tokens") == 0, F.lit(1.0)).otherwise(
                F.round(
                    1.0
                    - F.col("bucket_pad_tokens")
                    / F.col("naive_pad_tokens").cast("double"),
                    6,
                )
            ),
        )
        .orderBy("bucket_len")
    )


@query("search_eval_ndcg", headline=True)
def search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-quality evaluation over the BM25 surface: nDCG@10 and
    MRR per eval query, against a deterministic graded ground truth
    (relevance = how many of the query's terms the document contains;
    a full match is the MRR relevance bar).  This is the offline
    eval harness a retrieval stack runs after every index or scoring
    change — here as ONE plan for all queries: the eval-query term
    table broadcasts into the postings join (queried posting lists
    only, partition-pruned under a term-partitioned layout), BM25 and
    the relevance grade come out of the same matched relation, and
    the rank windows run per query_id on the ~top-N candidate sets,
    never the corpus."""
    from nabatshy_spark.operators import invindex

    # Postings + doc_lens from the shared term-bucket-
    # partitioned layout (invindex.shared_postings), pruned to the
    # eval terms' buckets; the broadcast qdf join restricts to the
    # exact terms downstream, so results are identical. N/avgdl come
    # from doc_lens, untouched by the prune.
    eval_terms = [
        ("q1", "join"), ("q1", "hash"), ("q1", "vector"),
        ("q2", "data"), ("q2", "query"),
        ("q3", "stream"), ("q3", "window"), ("q3", "sort"),
    ]
    postings, doc_lens = invindex.shared_postings(
        spark, sf_dir, terms=[t for _, t in eval_terms]
    )
    qdf = spark.createDataFrame(
        eval_terms,
        "query_id string, term string",
    )
    n_terms = qdf.groupBy("query_id").agg(
        F.count("*").alias("q_terms")
    )
    consts = doc_lens.agg(
        F.count("*").alias("__n"), F.avg("dl").alias("__avgdl")
    )
    k1, b = 1.2, 0.75
    matched = (
        postings.join(F.broadcast(qdf), "term")
        .withColumn(
            "__df",
            F.count("*").over(Window.partitionBy("query_id", "term")),
        )
        .join(doc_lens, "doc")
        .join(F.broadcast(consts))
    )
    idf = F.log(
        1.0 + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl"))
    )
    per_doc = matched.groupBy("query_id", "doc").agg(
        F.sum(idf * tf_part).alias("score"),
        F.count("*").alias("rel"),
    )
    w_bm = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc")
    )
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc")
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1.0
    ranked = per_doc.select(
        "query_id", "doc", "rel",
        F.row_number().over(w_bm).alias("pos"),
        F.row_number().over(w_ideal).alias("ipos"),
        gain.alias("gain"),
    ).join(F.broadcast(n_terms), "query_id")
    dcg = F.sum(
        F.when(
            F.col("pos") <= 10, F.col("gain") / F.log2(F.col("pos") + 1.0)
        ).otherwise(0.0)
    )
    idcg = F.sum(
        F.when(
            F.col("ipos") <= 10, F.col("gain") / F.log2(F.col("ipos") + 1.0)
        ).otherwise(0.0)
    )
    mrr = F.max(
        F.when(
            F.col("rel") == F.col("q_terms"), 1.0 / F.col("pos")
        ).otherwise(0.0)
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_retrieved"),
            F.round(dcg / idcg, 6).alias("ndcg_at_10"),
            F.round(mrr, 6).alias("mrr"),
        )
        .orderBy("query_id")
    )


@query("dsir_selection", headline=True)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (sampling.dsir_importance_weights): rank
    every document by the unigram log-likelihood ratio between a
    target LM (the src0-src2 exemplar feeds) and the raw-corpus LM,
    add-one smoothed over the joint vocabulary — the published
    importance-resampling selector with the Gumbel noise removed so
    the output is exactly reproducible. One corpus explode, one
    token-keyed shuffle, 1-row totals broadcast."""
    from nabatshy_spark.operators.sampling import dsir_importance_weights

    docs = load(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, "doc_id", "text",
        target_flag=F.col("source").isin("src0", "src1", "src2"),
    ).orderBy("doc_id")


@query("search_hard_negatives", headline=True)
def search_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining (invindex.hard_negatives) for
    {join, hash, vector}: top-20 docs matching some but not all query
    terms — the DPR-style negatives set, disjoint from text_search_and's
    positives by construction. Queried posting lists only."""
    from nabatshy_spark.operators import invindex

    # Pruned postings + doc_lens from the shared layout
    # artifact (see search_eval_ndcg).
    terms = ["join", "hash", "vector"]
    postings, doc_lens = invindex.shared_postings(spark, sf_dir, terms=terms)
    return invindex.hard_negatives(postings, doc_lens, terms, k=20)


@query("vocab_oov_rate_by_source", headline=True)
def vocab_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage screen: per source, the share of token
    occurrences falling OUTSIDE the corpus's top-1000 vocabulary — the
    out-of-vocabulary rate that predicts how a fixed tokenizer will
    fragment each feed. One corpus explode; the top-k vocabulary is a
    TakeOrdered k-row relation broadcast back onto the token stream;
    per-source rates are one conditional aggregate."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("__t")
    )
    vocab = (
        toks.groupBy("__t")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("__t").asc())
        .limit(1000)
        .select("__t", F.lit(1).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "__t", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


# Blocklist for the term-hit audit: vocabulary words the synthetic
# corpus actually contains plus one guaranteed-absent term, so the
# query exercises both hit and miss paths at every scale factor.
_BLOCKLIST = ["error", "join", "filter", "forbiddenterm"]


@query("blocklist_term_hits", headline=True)
def blocklist_term_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist accounting per source: how many documents and total
    occurrences each blocklist term has, by source — the audit a
    filtering pipeline runs before deciding what a term-level scrub
    would remove. The blocklist is a literal isin over the exploded
    token stream (predicate on the scan; at 100 TB the same shape
    broadcast-joins a blocklist TABLE against a token-bucketed
    layout); one (source, term) groupBy."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term").isin(_BLOCKLIST))
    return (
        toks.groupBy("source", "term")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_hits"),
        )
        .orderBy("source", "term")
    )


@query("cluster_safe_split", headline=True)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the split key is the exact-
    dup GROUP (md5 of the text), not the document id — so identical
    documents can never land in different splits, by construction
    (what `split_leakage_audit` measures after the fact, this
    guarantees up front; FineWeb/Dolma-style splits hash content for
    exactly this reason). Per-split accounting over the group relation:
    docs, groups, multi-doc groups, largest group. Same no-shuffle
    split function as corpus_split (operators/sampling.split_corpus);
    the only exchange is the (group, split) aggregation."""
    from nabatshy_spark.operators import sampling

    docs = load(spark, sf_dir, "documents").withColumn(
        "__grp", F.md5(F.col("text"))
    )
    split = sampling.split_corpus(docs, "__grp", train_bps=62259, val_bps=1638)
    groups = split.groupBy("split", "__grp").agg(F.count("*").alias("__n"))
    return (
        groups.groupBy("split")
        .agg(
            F.sum("__n").alias("n_docs"),
            F.count("*").alias("n_groups"),
            F.sum(F.when(F.col("__n") > 1, 1).otherwise(0)).alias(
                "n_dup_groups"
            ),
            F.max("__n").alias("max_group_size"),
        )
        .orderBy("split")
    )


@query("priority_sample_docs", headline=True)
def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling via priority sampling (Duffield-
    Lund-Thorup, JACM 2007; operators/sampling.priority_sample): the
    200 docs with the highest priority q = n_chars/u form a weighted-
    without-replacement sample, and the 201st priority τ turns it into
    an unbiased subset-sum estimator — Σ max(w, τ) over the sample
    estimates total corpus chars. The demo is self-grading (the exact
    total and relative error ride along, approx_revenue_estimate
    precedent); a production run ships only the k rows + τ.

    Scale: top-(k+1) by priority is a per-partition partial top-k —
    no global sort, no shuffle of non-sample rows; the estimator sums
    k DECIMAL(18,6) values (exact, associative, engine-identical).
    The true-total scan exists only for the self-check."""
    from nabatshy_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    samp = sampling.priority_sample(docs, "doc_id", "n_chars", 200)
    tot = docs.agg(F.sum("n_chars").alias("true_total_chars"))
    est = (
        samp.filter(F.col("__rank") <= 200)
        .agg(
            F.count("*").alias("n_sample"),
            F.round(F.min("__tau"), 6).alias("tau"),
            F.sum(
                F.greatest(F.col("n_chars").cast("double"), F.col("__tau"))
                .cast("decimal(18,6)")
            ).alias("__est"),
        )
    )
    return (
        est.join(F.broadcast(tot))
        .select(
            "n_sample",
            "tau",
            F.round(F.col("__est").cast("double"), 2).alias("est_total_chars"),
            "true_total_chars",
            F.round(
                (F.col("__est").cast("double") - F.col("true_total_chars"))
                / F.col("true_total_chars")
                * 100,
                4,
            ).alias("rel_err_pct"),
        )
    )


@query("fuzzy_name_pairs", headline=True)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity join with edit-distance verify — the record-
    linkage primitive the token-Jaccard ER path (er_part_pairs) can't
    express: near-identical names that differ by a typo, not by a
    token. Classic block-and-verify: dedupe to DISTINCT names first
    (names ≪ rows — the cardinality collapse that makes fuzzy joins
    feasible at 100 TB), block on the head noun so only names sharing
    it ever compare, prune by length band, then verify with exact
    Levenshtein ≤ 3. Both engines implement the same integer DP, so
    the oracle is exact.

    Scale: the self-join runs on the distinct-name relation keyed by
    (block, length-bucket) — the Ed-Join/length-filter composite. The
    head noun alone has ~92 distinct values on TPC-H names, so a
    block-only join is Σ|block|² ≈ |names|²/92 — still quadratic in
    distinct names. Folding the ±3 length band INTO the join key
    (bucket = floor(len/4); probe side explodes to bucket±1, so any
    pair within the band shares a key) multiplies the effective block
    count by the number of occupied length buckets, bounding candidate
    growth. The block key coalesces to '' for single-token names to
    match DuckDB split_part semantics (absent token → '', not NULL)."""
    part = load(spark, sf_dir, "part")
    names = (
        part.select("p_name")
        .distinct()
        .withColumn(
            # F.get (not getItem): out-of-bounds yields NULL under ANSI
            # instead of throwing; coalesce('') then matches split_part.
            "__block",
            F.coalesce(F.get(F.split("p_name", " "), 1), F.lit("")),
        )
        .withColumn("__len", F.length("p_name"))
    )
    # Probe side: each name probes its own length bucket and both
    # neighbors — |la-lb| <= 3 with width-4 buckets implies the bucket
    # indices differ by at most 1, so no band pair is missed.
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("__block"),
        F.col("__len").alias("__la"),
        F.explode(
            F.array(
                F.floor(F.col("__len") / 4) - 1,
                F.floor(F.col("__len") / 4),
                F.floor(F.col("__len") / 4) + 1,
            )
        ).alias("__bkt"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("__block"),
        F.col("__len").alias("__lb"),
        F.floor(F.col("__len") / 4).alias("__bkt"),
    )
    return (
        a.join(b, ["__block", "__bkt"])
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= 3)
        )
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select("name_a", "name_b", "edit_dist")
        .orderBy("name_a", "name_b")
    )


@query("stratified_kfold_assignment", headline=True)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold split (k=5) over the corpus:
    within each lang stratum, docs are ordered by md5(doc_id) and dealt
    round-robin into folds — every fold gets an EXACTLY balanced share
    of every stratum (sizes differ by ≤1), unlike plain hash-mod-k
    whose per-stratum balance is only in expectation. The eval-split
    primitive for quality-classifier training over curated corpora.

    Scale: one shuffle on the stratum key; the window is a
    rank-within-stratum (no global sort). Assignment is a pure
    function of (doc_id, lang) — reproducible across engines, stable
    under re-runs, and appends only ever shift fold sizes by the
    appended rows."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("fold", ((F.row_number().over(w) - 1) % 5).cast("int"))
        .groupBy("lang", "fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang", "fold")
    )


@query("class_balance_resample", headline=True)
def class_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-class downsampling to a bounded imbalance ratio: each
    lang keeps at most 2× the smallest class's count, chosen
    deterministically by md5 rank — the class-balancing step before
    training a language-ID or quality model on skewed corpora.

    Scale: the class histogram is a dimension-sized aggregate (|langs|
    rows, broadcast); the keep decision is a rank-within-class window
    + filter — one shuffle on the class key, losers never shuffle
    anywhere else. Deterministic: re-runs and engine swaps keep the
    identical subset."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_before"))
    min_n = counts.agg(F.min("n_before").alias("__min"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    kept = (
        docs.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(min_n))
        .filter(F.col("__rn") <= 2 * F.col("__min"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_after"))
    )
    return (
        counts.join(kept, "lang")
        .select(
            "lang",
            "n_before",
            "n_after",
            F.round(F.col("n_after") / F.col("n_before"), 6).alias("kept_ratio"),
        )
        .orderBy("lang")
    )


@query("compression_quality_flags", headline=True)
def compression_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compressibility profile + flag counts: documents
    whose zlib ratio drops under 0.3 are repetition/boilerplate
    suspects (operators/textanalysis.compression_ratio) — the
    compression-based quality signal that catches templated text the
    token-level heuristics (gopher_rule_flags, text_repetition) can
    miss when the repetition unit is longer than their n-grams.

    Rows-only by design: no SQL zlib, so there is no cross-engine
    oracle; the signal's semantics are pinned by crafted-text units
    (repetitive text → low ratio, prose → higher) and the output here
    is a deterministic per-source aggregate of a deterministic
    per-doc ratio.

    Scale: narrow Arrow-batched stage over (id, text), one
    dimension-sized group-by; nothing shuffles text."""
    from nabatshy_spark.operators import textanalysis

    docs = load(spark, sf_dir, "documents")
    rat = textanalysis.compression_ratio(docs, "doc_id", "text")
    joined = rat.join(docs.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("avg_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.sum((F.col("ratio") < 0.3).cast("int")).alias("n_flagged"),
        )
        .orderBy("source")
    )


@query("minhash_dedup_eval")
def minhash_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative gate for the probabilistic dedup path — the dedup
    twin of ann_recall_report: minhash_lsh_pairs' (exactly verified)
    output scored against the EXACT capped posting join's pairs
    (threshold 0.5) as precision/recall per signature budget.
    P[band miss | J=t] = (1−t^rows_per_band)^bands, so recall should
    climb toward 1 with the hash budget; "precision" < 1 can only come
    from cap divergence (the minhash path verifies full arrays, the
    exact side drops hot shingles from candidate generation — the
    documented df-cap miss condition), which makes this report a live
    measurement of that divergence too. Probabilistic by construction
    → rows-only driver check; the hard floor lives in
    tests/test_round8_ops.py::test_minhash_dedup_floor.

    Scale: the exact side is the capped posting join (Σ min(df,cap)²);
    the approximate side shuffles fixed-width signatures; the scoring
    joins ride the two pair relations (tiny next to the corpus)."""
    from nabatshy_spark.operators import dedup

    docs = load(spark, sf_dir, "documents")
    exact = (
        dedup.shared_ngram_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    n_true = exact.count()
    # ONE full-budget signature artifact serves all three configs: the
    # seeded hash family is prefix-stable, so sig[:32]/sig[:64] ARE the
    # 32-/64-hash signatures and banding only reads indices below each
    # budget (see minhash_lsh_pairs' sig_override note).
    sigs = dedup.shared_minhash_signatures(spark, sf_dir, n=3, num_hashes=128)
    reports = []
    for n_hashes in [32, 64, 128]:
        got = (
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5,
                num_hashes=n_hashes, rows_per_band=2,
                sig_override=sigs,
            )
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
        n_got = got.count()
        n_hit = got.join(exact, ["doc_a", "doc_b"], "inner").count()
        reports.append(
            (
                f"{n_hashes}h_{n_hashes // 2}bands",
                n_true,
                n_got,
                n_hit,
                round(n_hit / n_got, 4) if n_got else None,
                round(n_hit / n_true, 4) if n_true else None,
            )
        )
    return spark.createDataFrame(
        reports,
        "config string, n_true long, n_pairs long, n_hits long,"
        " precision double, recall double",
    )


@query("sequence_packing_plan", headline=True)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing audit (greedy concat-stream packing:
    documents concatenated in doc order, a document belongs to the
    sequence where it STARTS, sequences overflow at boundaries rather
    than splitting documents) for a 2048-token budget, using the same
    ceil(chars/4) subword estimate as tokenizer_fertility. The packing
    assignment is floor(exclusive_prefix_tokens / budget) — one
    two-phase prefix sum over the corpus (stats.cumulative_sum_ordered,
    never a single-task sort), then a |sequences|-bounded aggregate
    collapsed to the one-row report training-export jobs gate on:
    sequence count, mean fill vs budget, docs per sequence, and how
    many boundary sequences overflowed.

    Complements export_shard_plan (hash sharding) and
    padding_efficiency (per-batch pad waste): this is the packed
    (padding-free) export shape."""
    from nabatshy_spark.operators.stats import cumulative_sum_ordered

    budget = 2048
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.ceil(F.col("n_chars") / F.lit(4.0)).alias("__tok")
    )
    cum = cumulative_sum_ordered(
        docs, [F.col("doc_id").asc()], "__tok", force="twophase"
    ).withColumn(
        "__seq",
        F.floor((F.col("__cum") - F.col("__tok")) / F.lit(budget)),
    )
    per_seq = cum.groupBy("__seq").agg(
        F.count("*").alias("__docs"), F.sum("__tok").alias("__tokens")
    )
    return per_seq.agg(
        F.count("*").alias("n_sequences"),
        F.sum("__docs").alias("n_docs"),
        F.sum("__tokens").alias("total_tokens"),
        F.round(
            F.sum("__tokens") / (F.count("*") * F.lit(budget)), 6
        ).alias("mean_fill"),
        F.min("__docs").alias("min_docs_per_seq"),
        F.max("__docs").alias("max_docs_per_seq"),
        F.count_if(F.col("__tokens") > budget).alias("n_overflow_seqs"),
    )


@query("longest_dup_substrings", headline=True)
def longest_dup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 longest exactly-duplicated cross-document substrings
    (length ≥ 50 chars at ARBITRARY length — Lee et al. ExactSubstr,
    the marquee training-data dedup signal the fixed-n
    cross_doc_ngram_dup can only lower-bound): char-window hashing +
    diagonal run assembly (operators/suffixes.py), verified by
    substring equality, with a 40-char sample of each find.

    Oracle parity note: Spark shuffles 8-byte xxhash64 window keys,
    the DuckDB oracle groups by the 50-char window STRING — agreement
    is itself the no-collision check at test scale (same contract as
    repeated_ngram_docs). The df>200 cap is the shared miss condition.

    Scale: window relation ≈ total_chars rows × 12 bytes, shuffled on
    the hash (same memory order as a suffix array, but partitionable);
    posting self-join Σ min(df,cap)² over DUPLICATED windows only; the
    islands window partitions per (pair, diagonal). Nothing sorts
    globally; the output is dup-bounded and served from the
    fingerprint-keyed materialization (suffixes.shared_substring_runs,
    built once per corpus version)."""
    from nabatshy_spark.operators import suffixes

    docs = load(spark, sf_dir, "documents")
    runs = suffixes.shared_substring_runs(spark, sf_dir, 50, 200)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("__t"))
    return (
        runs.join(da, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            "dup_len",
            F.expr("substring(substring(__t, pos_a, dup_len), 1, 40)").alias(
                "sample"
            ),
        )
        .orderBy(
            F.col("dup_len").desc(),
            F.col("doc_a").asc(),
            F.col("doc_b").asc(),
            F.col("pos_a").asc(),
            F.col("pos_b").asc(),
        )
        .limit(20)
    )


@query("dup_substring_doc_stats", headline=True)
def dup_substring_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication exposure: for each doc
    appearing in any verified ≥50-char duplicated run, the number of
    runs, the partner count, and the longest run — the remove-list
    input an ExactSubstr dedup pass acts on (complements
    dup_span_chars, which measures char coverage from the fixed-n
    signal). One extra dup-bounded aggregate over the shared runs
    relation (suffixes.shared_substring_runs)."""
    from nabatshy_spark.operators import suffixes

    runs = suffixes.shared_substring_runs(spark, sf_dir, 50, 200)
    per_side = runs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("partner"),
        "dup_len",
    ).unionByName(
        runs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("partner"),
            "dup_len",
        )
    )
    return (
        per_side.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_runs"),
            F.countDistinct("partner").alias("n_partners"),
            F.max("dup_len").alias("max_dup_len"),
            F.sum("dup_len").alias("total_dup_chars"),
        )
        .orderBy(
            F.col("max_dup_len").desc(),
            F.col("doc_id").asc(),
        )
        .limit(50)
    )


@query("exactsubstr_cut_plan", headline=True)
def exactsubstr_cut_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup's actionable output (Lee et al. §4.2): per
    affected document, the merged duplicated spans to cut under the
    keep-first (lower doc_id survives) policy, and the resulting
    document size — the audit report a curation run reviews before
    committing the corpus rewrite. Interval merging is a per-document
    gaps-and-islands window (partition-local); the runs come from the
    shared verified artifact (suffixes.shared_substring_runs)."""
    from nabatshy_spark.operators import suffixes

    docs = load(spark, sf_dir, "documents")
    runs = suffixes.shared_substring_runs(spark, sf_dir, 50, 200)
    return suffixes.exactsubstr_cut_stats(docs, "doc_id", runs)


@query("intra_doc_repeats", headline=True)
def intra_doc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document verbatim repeats >= 20 chars at arbitrary
    length (suffixes.intra_doc_repeat_runs) — the self-repeat half of
    ExactSubstr: boilerplate lists, repeated headers, copy-paste
    stutter that word-level repetition_stats cannot measure at
    arbitrary char length. All runs, ordered deterministically; the
    period column distinguishes adjacent stutter (period == rep gap)
    from far apart repeats."""
    from nabatshy_spark.operators import suffixes

    # Served from the fingerprint-keyed artifact: the window pass is a
    # once-per-corpus-version job; the per-invocation form only looked
    # cheap under bench because the cache manager re-served the prior
    # lap's persisted window relation.
    runs = suffixes.shared_intra_repeat_runs(
        spark, sf_dir, min_len=20, max_occ=50
    )
    return runs.orderBy(
        F.col("rep_len").desc(),
        F.col("doc_id").asc(),
        F.col("pos_a").asc(),
        F.col("period").asc(),
    ).limit(50)


@query("exactsubstr_source_coverage", headline=True)
def exactsubstr_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al.'s headline corpus metric per source: what fraction of
    each feed's characters sit inside a verified cross-document
    duplicated run (BOTH occurrences count — the doc_a copy is just as
    duplicated as the doc_b copy; contrast exactsubstr_cut_plan, which
    counts only the copies the keep-first policy removes). Pairs with
    source_overlap_matrix: that says who copies from whom, this says
    how much of each feed is copies. Per-document interval merge is
    the same partition-local gaps-and-islands pass as the cut plan;
    the rollup is |sources| rows."""
    from nabatshy_spark.operators import suffixes

    docs = load(spark, sf_dir, "documents")
    runs = suffixes.shared_substring_runs(spark, sf_dir, 50, 200)
    ivals = runs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("pos_a").alias("__s"),
        (F.col("pos_a") + F.col("dup_len")).alias("__e"),
    ).unionByName(
        runs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("pos_b").alias("__s"),
            (F.col("pos_b") + F.col("dup_len")).alias("__e"),
        )
    )
    merged = (
        suffixes.merge_intervals(ivals, "doc_id", "__s", "__e")
        .groupBy("doc_id")
        .agg(F.sum(F.col("__me") - F.col("__ms")).alias("__covered"))
    )
    per_src = (
        docs.join(merged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count_if(F.col("__covered").isNotNull()).alias("n_docs_dup"),
            F.sum(F.coalesce("__covered", F.lit(0))).alias("covered_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    return per_src.select(
        "source",
        "n_docs_dup",
        "covered_chars",
        F.round(
            F.col("covered_chars") / F.col("total_chars").cast("double"), 6
        ).alias("frac_covered"),
    ).orderBy("source")


@query("decontaminate_exactsubstr", headline=True)
def decontaminate_exactsubstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level train/test decontamination (the ExactSubstr
    complement of the n-gram decontaminate_corpus): verbatim >=50-char
    overlaps between the TRAIN and TEST splits of the deterministic
    95/2.5/2.5 corpus split — arbitrary-length leak spans with exact
    positions, not fixed-n gram hits. Reported per leak, ordered by
    severity; an empty result is the clean-export gate.

    Scale: the test-split window relation is broadcast-sized by
    construction (2.5% of the corpus); the train side streams through
    one hash shuffle with the df cap (cap applies to the TRAIN side
    only — capping the benchmark would hide the leaks being hunted)."""
    from nabatshy_spark.operators import suffixes

    # Served from the fingerprint-keyed artifact (built once per corpus
    # version over the deterministic hash split; leak-bounded output) —
    # see shared_decontamination_runs for why it is not per-run.
    runs = suffixes.shared_decontamination_runs(
        spark, sf_dir, min_len=50, max_df=200, train_bps=62259,
        val_bps=1638,
    )
    return (
        runs.select(
            F.col("corpus_id").alias("train_doc"),
            F.col("bench_id").alias("test_doc"),
            F.col("pos_c").alias("pos_train"),
            F.col("pos_b").alias("pos_test"),
            "dup_len",
        )
        .orderBy(
            F.col("dup_len").desc(),
            F.col("train_doc").asc(),
            F.col("test_doc").asc(),
            F.col("pos_train").asc(),
            F.col("pos_test").asc(),
        )
        .limit(50)
    )


@query("er_part_topk", headline=True)
def er_part_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record top-3 scored ER matches over ``part`` — the bounded
    contract that replaces the all-pairs relation at scale. The sf1
    curve proved er_part_pairs is output-quadratic on dup-heavy
    catalogs (exp 1.56, adjudicated output-bound: a group of g
    identical names emits g²/2 pairs); this surface emits ≤ 3 rows per
    record with candidate generation bounded by df-capped token
    postings ∪ record×group-representative pairs (rep_cap=8 lowest
    ids per identical-(name-tokens, brand) group, Σ g·8 — linear).
    The deterministic miss condition (a true top match that is a
    non-representative of an over-cap group) is encoded IDENTICALLY in
    the DuckDB oracle, so the differential is exact at any group size;
    er_part_pairs remains the registry's exact all-pairs twin.

    The scored-candidate relation is served from the fingerprint-keyed ``part_matches`` artifact
    (entity.shared_part_matches — built once per catalog version,
    shared with er_part_pairs and the eval gate), so this query is one
    artifact scan + one explode + one window instead of re-expanding
    the blocking DAG (17 exchanges / 16 scans inline). Scores rank RAW through parquet (exact doubles), output
    identical bit-for-bit."""
    return entity.directed_topk(
        entity.shared_part_matches(
            spark, sf_dir, threshold=0.8, max_df=200, rep_cap=8
        ),
        "score",
        "p_partkey",
        "match_key",
        3,
    )


@query("er_topk_eval")
def er_topk_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative gate for the rep-capped top-k contract: compare
    er_part_topk's edges against the TRUE per-record top-3 derived
    from the exact all-pairs relation (er_part_pairs' blocking). The
    audit itself pays the quadratic twin's cost by design — it exists
    to measure what the cap loses, like minhash_dedup_eval for LSH.
    Where no (name, brand) group exceeds rep_cap the recall is exactly
    1.0; above that the lost edges are non-representative partners
    whose size happened to be closer than every representative's.
    Emits one row: record coverage and edge recall, both derived from
    deterministic integer counts.

    Both sides read the shared ``part_matches`` artifacts
    (exact all-pairs and rep-capped; inline, this gate's plan would
    re-expand BOTH candidate DAGs, 49 exchanges / 44 scans). The
    quadratic twin's cost lives in the all-pairs artifact BUILD line,
    paid once per catalog version."""
    capped = entity.directed_topk(
        entity.shared_part_matches(
            spark, sf_dir, threshold=0.8, max_df=200, rep_cap=8
        ),
        "score",
        "p_partkey",
        "match_key",
        3,
    ).select("p_partkey", "match_key")
    true_topk = (
        entity.directed_topk(
            entity.shared_part_matches(
                spark, sf_dir, threshold=0.8, max_df=200, rep_cap=None
            ),
            "score",
            "p_partkey",
            "match_key",
            3,
        )
        .select("p_partkey", "match_key", F.lit(1).alias("__t"))
    )
    # One full-outer join + one aggregate: every count comes from a
    # single pass over the edge union, so the truth and capped subtrees
    # are each referenced ONCE (three separate 1-row aggregates would
    # re-expand the whole candidate DAG per count — 90 exchanges in the
    # plan audit before this shape).
    joined = true_topk.join(
        capped.withColumn("__c", F.lit(1)),
        ["p_partkey", "match_key"],
        "full_outer",
    )
    return joined.agg(
        F.countDistinct(
            F.when(F.col("__t") == 1, F.col("p_partkey"))
        ).alias("n_records"),
        F.sum(F.when(F.col("__t") == 1, 1).otherwise(0)).alias("true_edges"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("capped_edges"),
        F.sum(
            F.when((F.col("__t") == 1) & (F.col("__c") == 1), 1).otherwise(0)
        ).alias("shared_edges"),
    ).select(
        "n_records",
        "true_edges",
        "capped_edges",
        "shared_edges",
        F.round(F.col("shared_edges") / F.col("true_edges"), 6).alias(
            "edge_recall"
        ),
    )


@query("exactsubstr_rewrite_preview", headline=True)
def exactsubstr_rewrite_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of ExactSubstr dedup: splice the keep-first cut
    intervals out of every affected document
    (suffixes.exactsubstr_rewrite over the shared runs artifact) and
    emit the verification record a curation run signs off on —
    (doc_id, old_len, new_len, sha256 of the rewritten text). The
    content hash makes the differential pin the SPLICED BYTES, not
    just lengths; docs whose every byte came out identical in DuckDB's
    independent string_agg splice prove the interval complement math
    end-to-end. Unaffected documents are excluded (they pass through
    byte-identical by construction, asserted in the unit)."""
    from nabatshy_spark.operators import suffixes

    runs = suffixes.shared_substring_runs(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    rewritten = suffixes.exactsubstr_rewrite(docs, "doc_id", "text", runs)
    affected = rewritten.join(
        runs.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id"
    )
    return (
        affected.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("old_len"),
            F.length("text").cast("long").alias("new_len"),
            F.sha2("text", 256).alias("new_sha"),
        )
        .orderBy("doc_id")
    )


@query("er_doc_topk", headline=True)
def er_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 near-duplicate matches by exact word-3-gram
    Jaccard ≥ 0.5 — the bounded document-ER surface. Candidates are
    df-capped shingle postings (Σ min(df, 200)², the
    dedup.ngram_jaccard_pairs bound) ∪ rep-capped identical-shingle-set
    groups (8 lowest ids — Σ g·8, linear on exact-dup clusters, the
    case where the all-pairs relation goes output-quadratic). Shares
    the part contract's candidate core (entity.candidate_pairs_from_sets)
    and dedup's shingle definition, so the two ER surfaces and the
    Jaccard dedup family can never encode different semantics. The cap
    miss conditions are encoded IDENTICALLY in the DuckDB oracle —
    exact differential at any group size.

    Served from the fingerprint-keyed ``doc_matches`` artifact
    (entity.shared_doc_matches — near-dup matching is THE
    once-per-corpus-version job at 100 TB; the matched relation is
    dup-bounded and every consumer reads it), the same shape as the
    part-ER family. Raw Jaccard through
    parquet, ranked exact, rounded at output — bit-identical to the
    direct operator (unit-asserted). The direct contract's own scale
    curve lives in SCALE.md (sf0.001→1)."""
    return entity.directed_topk(
        entity.shared_doc_matches(
            spark, sf_dir, n=3, threshold=0.5, max_df=200, rep_cap=8
        ),
        "jac",
        "doc_id",
        "match_id",
        3,
        score_out="jaccard",
    )


@query("er_doc_clusters", headline=True)
def er_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate document clusters at Jaccard ≥ 0.5: connected
    components (large-star/small-star) over the SAME bounded matched
    relation er_doc_topk ranks (the ``doc_matches`` artifact),
    singleton documents included, reported as a cluster-size histogram
    — the corpus-level view a curation run signs off on before
    keep-best dedup. The DuckDB twin runs a recursive CTE over the
    shared capped fragment, so the two consumers cannot encode
    different cap semantics."""
    from pyspark.sql import functions as F

    from nabatshy_spark.catalog import load

    return entity.cluster_histogram(
        entity.shared_doc_matches(spark, sf_dir),
        load(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("node")
        ),
    )


@query("er_doc_topk_eval")
def er_doc_topk_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative gate for the document caps (the er_topk_eval
    convention): compare er_doc_topk's edges against the TRUE per-doc
    top-3 derived from the EXACT uncapped pair relation
    (dedup.ngram_jaccard_pairs with no df cap — the audit deliberately
    pays the unbounded cost, like minhash_dedup_eval). Where no
    shingle exceeds the df cap and no identical-set group exceeds
    rep_cap the recall is exactly 1.0. Both sides rank by the 6-dp
    jaccard (the exact relation emits rounded values; identical
    doubles round identically in DuckDB), ties broken by match id.
    One row of deterministic integer counts + the recall ratio."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators import dedup

    capped = entity.directed_topk(
        entity.shared_doc_matches(spark, sf_dir),
        "jac",
        "doc_id",
        "match_id",
        3,
    ).select("doc_id", "match_id", F.lit(1).alias("__c"))
    # Truth side from the fingerprint-keyed UNCAPPED pair artifact:
    # shared_ngram_pairs with
    # max_df=None materializes exactly ngram_jaccard_pairs(documents,
    # n=3, t=0.5, no cap) — deterministic operator, exact doubles
    # through parquet, so the gate's truth is byte-identical while the
    # uncapped Σ df² expansion runs once per corpus version instead of
    # per invocation (as for the part family's eval gate). The gate still deliberately PAYS the unbounded cost —
    # in the build, where it belongs.
    exact = dedup.shared_ngram_pairs(
        spark, sf_dir, n=3, threshold=0.5, max_df=None
    ).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("jaccard").alias("jac"),
    )
    true_topk = (
        entity.directed_topk(exact, "jac", "doc_id", "match_id", 3)
        .select("doc_id", "match_id", F.lit(1).alias("__t"))
    )
    # One full-outer join + one aggregate (the er_topk_eval shape): the
    # truth and capped subtrees are each referenced once.
    joined = true_topk.join(capped, ["doc_id", "match_id"], "full_outer")
    return joined.agg(
        F.countDistinct(
            F.when(F.col("__t") == 1, F.col("doc_id"))
        ).alias("n_records"),
        F.sum(F.when(F.col("__t") == 1, 1).otherwise(0)).alias("true_edges"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("capped_edges"),
        F.sum(
            F.when((F.col("__t") == 1) & (F.col("__c") == 1), 1).otherwise(0)
        ).alias("shared_edges"),
    ).select(
        "n_records",
        "true_edges",
        "capped_edges",
        "shared_edges",
        F.round(F.col("shared_edges") / F.col("true_edges"), 6).alias(
            "edge_recall"
        ),
    )
