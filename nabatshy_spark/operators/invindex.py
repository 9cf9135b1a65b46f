"""Inverted-index full-text search: conjunctive (AND) term queries as
a count-based postings intersection.

The reference's broad search is a per-row OR of LIKE predicates over
the raw table (reference api/service.go:757-800 — a full scan per
query). The scale-correct serving structure is the inverted index
every search engine uses: a (term, doc) postings table, with a term
query answered by intersecting posting lists instead of scanning
documents.

Scale shape:
- The postings build is explode → distinct — one shuffle keyed by
  (term, doc), and it is a LAYOUT JOB: write postings partitioned by
  term once, and every subsequent query prunes to just its terms'
  partitions (the same amortization argument as the z-order /
  bucketed-join layouts in sources/).
- A conjunctive query never materializes an intersection join chain:
  filter postings to the query terms (an `isin` over a handful of
  literals — pushdown-able to the scan), then one groupBy(doc) keeping
  docs whose distinct-term count equals the query length. Cost is
  Σ|posting(t)| for the queried terms only — independent of corpus
  size beyond those lists, and the classic smallest-list-first
  optimization is subsumed: every list is read exactly once.
- Ranking reads nothing extra: tf per (term, doc) is kept in the
  postings row, and the score is a sum over the matched rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark import artifacts
from nabatshy_spark.catalog import load, table_path

# Okapi BM25 term-frequency saturation and length normalization
_BM25_K1 = 1.2
_BM25_B = 0.75
# reciprocal rank fusion: list depth per branch, and the rank offset
_RRF_DEPTH = 20
_RRF_K = 60


def build_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc, tf) postings from whitespace tokens. At scale this
    is written out `partitionBy("term")` (or bucketed by term) so term
    queries become partition-pruned scans; here it stays a plan
    fragment feeding :func:`search_and`."""
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .groupBy("term", "doc")
        .agg(F.count("*").alias("tf"))
    )


def search_and(
    postings: DataFrame, terms: list[str], k: int = 20
) -> DataFrame:
    """Docs containing ALL ``terms``, ranked by total term frequency
    (desc) with doc id as the deterministic tiebreak, top ``k``.

    One filtered scan of the queried posting lists + one groupBy(doc);
    the AND is the HAVING distinct-term-count == len(terms) — no
    N-way self-join, no ordering sensitivity.
    """
    # Dedup: a repeated query term would make the distinct-count ==
    # len(terms) conjunction unsatisfiable (same family as the
    # hard_negatives leak).
    terms = sorted(set(terms))
    if not terms:
        raise ValueError("need at least one query term")
    matched = postings.filter(F.col("term").isin(terms))
    return (
        matched.groupBy("doc")
        .agg(
            F.countDistinct("term").alias("__nterms"),
            F.sum("tf").alias("score"),
        )
        .filter(F.col("__nterms") == len(terms))
        .drop("__nterms")
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(k)
    )


def search_bm25(
    postings: DataFrame,
    doc_lens: DataFrame,
    terms: list[str],
) -> DataFrame:
    """BM25-ranked disjunctive (OR) top-20 search — the standard relevance
    ranking (Robertson/Spärck Jones, public) over the same postings
    layout as :func:`search_and`.

    ``doc_lens`` is (doc, dl) — token count per document, a one-pass
    side product of the postings build. Corpus constants (N, avgdl)
    are one scalar aggregate broadcast back; idf uses the standard
    ln(1 + (N - df + 0.5)/(df + 0.5)) form, so every score is plain
    arithmetic an oracle replicates exactly.

    Scale shape: the scan is filtered to the queried terms' posting
    lists (partition-pruned under a term-partitioned layout); df per
    term is a window count over that small relation; one groupBy(doc)
    sums the per-term contributions, then TakeOrdered for the top 20.
    """
    from pyspark.sql import Window

    if not terms:
        raise ValueError("need at least one query term")
    consts = doc_lens.agg(
        F.count("*").alias("__n"), F.avg("dl").alias("__avgdl")
    )
    matched = (
        postings.filter(F.col("term").isin(terms))
        .withColumn("__df", F.count("*").over(Window.partitionBy("term")))
        .join(doc_lens, "doc")
        .join(F.broadcast(consts))
    )
    idf = F.log(
        1.0 + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("__avgdl"))
    )
    return (
        matched.select("doc", (idf * tf_part).alias("__s"))
        .groupBy("doc")
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(20)
    )


def hard_negatives(
    postings: DataFrame,
    doc_lens: DataFrame,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Hard-negative mining for retrieval training data: the top-``k``
    BM25-scored documents that match SOME but not ALL query terms —
    lexically close to the query yet not full matches, exactly the
    negatives a dual-encoder / reranker needs (BM25-negative mining is
    the standard recipe, e.g. DPR, Karpukhin et al. 2020).

    Same scoring arithmetic as :func:`search_bm25`; the only change is
    the per-doc distinct-term count kept in the aggregate and the
    ``< len(terms)`` filter (full matches are the positives, mined by
    :func:`search_and`). Scale shape is unchanged: queried posting
    lists only, one groupBy(doc), TakeOrdered on the rounded score
    with the doc id as deterministic tiebreak.
    """
    from pyspark.sql import Window

    # Dedup up front: duplicate query terms would inflate len(terms)
    # so true full matches (the positives) leak past the < len(terms)
    # filter into the negatives set.
    terms = sorted(set(terms))
    if len(terms) < 2:
        raise ValueError("hard negatives need >= 2 distinct query terms")
    consts = doc_lens.agg(
        F.count("*").alias("__n"), F.avg("dl").alias("__avgdl")
    )
    matched = (
        postings.filter(F.col("term").isin(terms))
        .withColumn("__df", F.count("*").over(Window.partitionBy("term")))
        .join(doc_lens, "doc")
        .join(F.broadcast(consts))
    )
    idf = F.log(
        1.0 + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("__avgdl"))
    )
    return (
        matched.select("doc", "term", (idf * tf_part).alias("__s"))
        .groupBy("doc")
        .agg(
            F.countDistinct("term").alias("n_terms_matched"),
            F.round(F.sum("__s"), 6).alias("score"),
        )
        .filter(F.col("n_terms_matched") < len(terms))
        .orderBy(F.col("score").desc(), F.col("doc").asc())
        .limit(k)
    )


def hybrid_search(
    postings: DataFrame,
    doc_lens: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    query_vec_id: int,
) -> DataFrame:
    """Hybrid lexical+semantic top-10 via reciprocal rank fusion
    (Cormack/Clarke/Büttcher, public): the BM25 top-20 and the cosine top-20
    merge on 1/(60 + rank) — the standard
    score-scale-free fusion every hybrid search stack runs.

    Scale shape: each branch is already sub-linear (pruned posting
    lists / TakeOrdered vector scan); fusion operates on 2·20 rows
    — a full-outer join of two tiny lists, broadcast regardless of
    corpus size.
    """
    from pyspark.sql import Window

    from nabatshy_spark.operators.similarity import cosine_topk

    lex = search_bm25(postings, doc_lens, terms)  # _RRF_DEPTH rows
    sem = cosine_topk(embeddings, "vec_id", "embedding", query_vec_id, k=_RRF_DEPTH)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc").asc())
    ws = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    lex_r = lex.select("doc", F.row_number().over(wl).alias("__rl"))
    sem_r = sem.select(
        F.col("vec_id").alias("doc"), F.row_number().over(ws).alias("__rs")
    )
    fused = lex_r.join(sem_r, "doc", "full_outer").select(
        "doc",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("__rl")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("__rs")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc").asc()).limit(10)


def build_positional_postings(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(term, doc, pos) positional postings — the layout phrase and
    proximity queries need, one ``posexplode`` heavier than the tf
    postings of :func:`build_postings`. At scale this is the same
    term-partitioned layout job; positions add one int per token."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    )


def search_phrase(
    spark: SparkSession,
    postings: DataFrame,
    phrase: list[str],
    k: int = 20,
) -> DataFrame:
    """Exact phrase match over positional postings: docs containing the
    words of ``phrase`` consecutively, ranked by occurrence count
    (desc, doc asc tiebreak), top ``k``.

    Algorithm: the classic positional-intersection — each posting row
    matching phrase word j votes for start position ``pos - j``; a
    start with all ``len(phrase)`` distinct j's present is an
    occurrence. No self-join chain over the postings: one filtered scan
    of the phrase terms' lists (isin pushdown / partition pruning under
    a term-partitioned layout), a broadcast join against the
    |phrase|-row literal table, and two cheap aggregations keyed by
    (doc, start) then doc. Duplicate words in the phrase are handled by
    counting distinct j, not distinct terms.
    """
    if not phrase:
        raise ValueError("need a non-empty phrase")
    lit = spark.createDataFrame(
        list(enumerate(phrase)), schema="j INT, term STRING"
    )
    matched = postings.filter(F.col("term").isin(phrase)).join(
        F.broadcast(lit), "term"
    )
    occurrences = (
        matched.select("doc", (F.col("pos") - F.col("j")).alias("__start"), "j")
        .groupBy("doc", "__start")
        .agg(F.countDistinct("j").alias("__nj"))
        .filter(F.col("__nj") == len(phrase))
    )
    return (
        occurrences.groupBy("doc")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("doc").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# shared postings layout artifact
# ---------------------------------------------------------------------------

# Versions the postings artifact: the documents fingerprint tracks the
# data; this tracks build_postings' semantics (whitespace tokenizer,
# per-(term, doc) tf) and the bucket function below. Bump on any
# change, or a warm artifact root serves pre-change postings.
_POSTINGS_VERSION = 1
# Terms hash into this many layout partitions — a query's scan reads
# only the buckets its terms land in. 16 keeps file counts trivial
# while pruning ~15/16 of the postings bytes for few-term queries.
_N_TERM_BUCKETS = 16


def _term_bucket_py(term: str) -> int:
    """Driver-side twin of the layout's bucket expression. MUST stay
    bit-identical to the crc32-based column in the build (zlib.crc32
    and Spark's ``crc32`` both compute the unsigned CRC-32 of the
    UTF-8 bytes)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % _N_TERM_BUCKETS


def shared_postings(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fingerprint-keyed materialization of THE inverted-index layout
    this module's docstring promises at scale: the (term, doc, tf)
    postings written partitioned by a term hash bucket, plus the
    (doc, dl) token-length sidecar every BM25 scorer joins. Five
    queries (text_search_and / text_search_bm25 / hybrid_search_rrf /
    search_eval_ndcg / search_hard_negatives) each re-ran the
    explode + groupBy postings build over the corpus per invocation —
    measured: the build is the dominant cost of each
    (family solo total 7.3 s at sf0.1) for one deterministic relation.

    ``terms``: when given, the postings read is partition-pruned to
    the buckets covering those terms (``_term_bucket_py``, the exact
    driver-side twin of the layout's crc32 bucket column). The pruned
    relation is a SUPERSET of the term-filtered relation every
    consumer builds next (their own ``isin``/join term filters run
    downstream), so results are identical — the prune only skips
    buckets that cannot contain a queried term. Corpus-wide BM25
    constants (N, avgdl) come from ``doc_lens``, never from the
    postings relation, so pruning cannot perturb them.

    Identity: tf and dl are integer-valued and the build is
    deterministic, so the parquet round-trip is bit-exact and every
    consumer's output is unchanged (oracle differentials unaffected).
    At 100 TB the postings build is the scheduled index job; a term
    query reads Σ|posting(t)| bytes + the doc-length sidecar, never
    the corpus.

    Returns (postings, doc_lens).
    """
    def _build(staging: str) -> None:
        docs = load(spark, sf_dir, "documents")
        (
            build_postings(docs, "doc_id", "text")
            .withColumn(
                "__tb", (F.crc32(F.col("term")) % _N_TERM_BUCKETS).cast("int")
            )
            # one file per bucket dir — the shuffle is bucket-keyed so
            # each output task owns whole buckets
            .repartition(_N_TERM_BUCKETS, "__tb")
            .write.partitionBy("__tb")
            .mode("overwrite")
            .parquet(os.path.join(staging, "postings"))
        )
        docs.select(
            F.col("doc_id").alias("doc"),
            F.size(F.split("text", " ")).alias("dl"),
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "doc_lens")
        )
        # Multi-relation artifact: each parquet dir carries its own
        # _SUCCESS; the lifecycle gate checks the top level.
        with open(os.path.join(staging, "_SUCCESS"), "w"):
            pass

    path = artifacts.ensure(
        "postings",
        table_path(sf_dir, "documents"),
        _POSTINGS_VERSION,
        {"term_buckets": _N_TERM_BUCKETS},
        _build,
    )
    # Explicit schemas (driver-side analysis of the same expressions the
    # build writes — no job): a 0-row corpus writes NO partition dirs
    # under partitionBy, and schema inference on an empty layout throws.
    # An empty ingest window is a normal production state; with the
    # schema supplied the read returns the correct empty relations.
    docs0 = load(spark, sf_dir, "documents")
    p_schema = (
        build_postings(docs0, "doc_id", "text")
        .withColumn("__tb", F.lit(0).cast("int"))
        .schema
    )
    dl_schema = docs0.select(
        F.col("doc_id").alias("doc"),
        F.size(F.split("text", " ")).alias("dl"),
    ).schema
    postings = spark.read.schema(p_schema).parquet(
        os.path.join(path, "postings")
    )
    if terms is not None:
        buckets = sorted({_term_bucket_py(t) for t in terms})
        postings = postings.filter(F.col("__tb").isin(buckets))
    postings = postings.select("term", "doc", "tf")
    doc_lens = spark.read.schema(dl_schema).parquet(
        os.path.join(path, "doc_lens")
    )
    return postings, doc_lens
