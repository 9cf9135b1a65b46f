"""Entity resolution / record linkage over attribute-bearing tables.

Beyond-reference extension (SURVEY §2.11 spirit): a training-data /
warehouse pipeline routinely needs to collapse near-identical records
(products, authors, users) before dedup or feature building.  The
classic scalable shape is **blocking → pairwise scoring → clustering**:

- blocking via an inverted index on cheap keys (name tokens here, with
  a document-frequency cap) so candidate generation is Σ min(df, cap)²
  instead of N² — the same bounded-postings design as
  ``operators/dedup.py`` n-gram Jaccard;
- pairwise scoring as pure column arithmetic (token Jaccard, attribute
  equality, bounded numeric distance) — whole-stage-codegen'd, no UDFs;
- clustering by reusing the large-star/small-star connected components
  in ``operators/dedup.py`` (O(log n) rounds at scale).

Everything here is deterministic integer/ratio arithmetic so the DuckDB
oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nabatshy_spark import artifacts
from nabatshy_spark.catalog import load, table_path
from nabatshy_spark.operators.dedup import SHINGLE_N, connected_components

# One value per decision of the served ER relations: the
# document-frequency cap on blocking postings, the representative cap
# of the canonical pass, the part and document match thresholds, and
# the threshold of the part cluster rollup.
MAX_DF = 200
REP_CAP = 8
PART_THRESHOLD = 0.8
DOC_THRESHOLD = 0.5
CLUSTER_THRESHOLD = 0.9


def candidate_pairs_from_sets(
    sets: DataFrame,
    *,
    n_block: int = 0,
    carry_cols: list[str] | None = None,
    max_df: int | None = None,
    min_jaccard: float = 0.0,
    rep_cap: int | None = None,
    hash_canon_key: bool = False,
    rep_flag_cap: int | None = None,
) -> DataFrame:
    """The blocking/candidate core shared by every set-similarity ER
    surface: :func:`blocked_candidate_pairs` and the document contract
    both call it, so they share the SAME bounded semantics.

    ``sets`` must carry ``id``, ``ts`` (the token/shingle array),
    ``__bk0..__bk{n_block-1}`` equality-blocking keys, and any
    ``carry_cols``. Semantics (token pass, df cap, canonical pass,
    rep cap, Jaccard-upper-bound prune) are documented on
    :func:`blocked_candidate_pairs`, which delegates here unchanged.

    ``hash_canon_key`` switches the canonical pass's group key from the
    sorted token array itself to ``md5(concat_ws(tab, sorted))`` —
    logically the same grouping (collisions are negligible and the key
    never reaches the output), but documents shuffle a 32-char digest
    instead of their full shingle arrays. The part path keeps the raw
    array key (its 2-token names are smaller than the digest).

    ``rep_flag_cap`` (only with ``rep_cap=None`` and a df cap): run the EXACT uncapped candidate pass but additionally emit
    ``in_rep_cap`` — whether the pair would also have been generated
    by the rep-capped pass with that cap (true for every token-pass
    pair; for canonical pairs, true iff either endpoint ranks ≤ cap in
    its identical-set group). One build then serves both the exact and
    the rep-capped contract as filters of one relation: the rep-capped
    candidate set is tokencand ∪ {pairs with a ≤cap-ranked endpoint}
    by construction, and the threshold-derived prune only ever drops
    pairs that fail the score threshold in both contracts.
    """
    if rep_flag_cap is not None and (rep_cap is not None or max_df is None):
        raise ValueError("rep_flag_cap requires rep_cap=None and a df cap")
    carry = list(carry_cols or [])
    bks = [f"__bk{i}" for i in range(n_block)]

    def _bk_eq(x: str, y: str):
        cond = F.lit(True)
        for k in bks:
            cond = cond & (F.col(f"{x}.{k}") == F.col(f"{y}.{k}"))
        return cond

    tok = sets.select("id", F.explode("ts").alias("tok"), *bks)
    if max_df is not None:
        # df-cap as aggregate + equi-join instead of a count-over-
        # partition window: the window sorts the whole exploded token
        # relation inside one exchange, while the aggregate's partial
        # combine shrinks it to the (token, block) vocabulary before
        # the shuffle and AQE broadcasts the surviving keys back on.
        keep = (
            tok.groupBy("tok", *bks)
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("tok", *bks)
        )
        tok = tok.join(keep, ["tok", *bks])
    # Pin the self-join's parallelism: the posting relation is tiny in
    # BYTES (AQE would coalesce it to one partition — a single small
    # source file serializes the whole pair expansion on one core,
    # measured 5s for ~2M expanded pairs) but the join OUTPUT is
    # Σ df² rows of compute. An explicit partition count is respected
    # by AQE; keying by (token, block) keeps the equi-join co-located.
    fanout = tok.sparkSession.sparkContext.defaultParallelism
    # The capped posting relation feeds both self-join sides plus the
    # prune's survivor counts. Measured (sf0.1, within-session A/B):
    # localCheckpoint-ing it here is a net LOSS (er_part_pairs 4.46 s
    # checkpointed vs 3.84 s recomputed) — the narrow scan → explode →
    # cap chain recomputes cheaper than the materialization barrier it
    # introduces (the checkpoint serializes the consumers behind one
    # materialization and defeats stage pipelining). Checkpoint only
    # when the upstream is genuinely expensive relative to its size.
    tok = tok.repartition(fanout, "tok", *bks)
    a = tok.alias("a")
    b = tok.alias("b")
    # One aggregation replaces the former dropDuplicates at the same
    # shuffle cost AND yields the shared-surviving-token count the
    # Jaccard prune below needs.
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            & _bk_eq("a", "b"),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count("*").alias("__c"))
    )
    if min_jaccard > 0.0:
        # Threshold-derived candidate prune, EXACT: per pair, the true
        # intersection I satisfies I <= __c + min(dropped_a, dropped_b)
        # (a shared token is either surviving — counted in __c — or
        # capped on both sides, bounded by either side's capped count).
        # J = I/(n_a+n_b-I) is increasing in I, so pairs whose upper
        # bound falls below min_jaccard can never verify; with no cap
        # (or nothing actually dropped) the bound IS the true Jaccard
        # and the verify join below receives only genuine matches.
        kept = tok.groupBy("id").agg(F.count("*").alias("__k"))
        per_id = (
            sets.select("id", F.size("ts").alias("__n"))
            .join(kept, "id", "left")
            .select(
                "id",
                "__n",
                (F.col("__n") - F.coalesce("__k", F.lit(0))).alias("__d"),
            )
        )
        pa = per_id.select(
            F.col("id").alias("id_a"),
            F.col("__n").alias("__na"),
            F.col("__d").alias("__da"),
        )
        pb = per_id.select(
            F.col("id").alias("id_b"),
            F.col("__n").alias("__nb"),
            F.col("__d").alias("__db"),
        )
        ub = F.col("__c") + F.least("__da", "__db")
        cand = (
            cand.join(pa, "id_a")
            .join(pb, "id_b")
            .filter(
                ub * (1.0 + min_jaccard)
                >= min_jaccard * (F.col("__na") + F.col("__nb")) - 1e-9
            )
        )
    if rep_flag_cap is not None:
        # token-pass pairs are candidates of BOTH contracts
        cand = cand.select("id_a", "id_b", F.lit(True).alias("__rc"))
    else:
        cand = cand.select("id_a", "id_b")
    if max_df is not None:
        canon_key = (
            F.md5(F.concat_ws("\t", F.sort_array("ts")))
            if hash_canon_key
            else F.sort_array("ts")
        )
        # same single-small-file serialization risk as the token pass
        canon = sets.select(
            "id", canon_key.alias("key"), *bks
        ).repartition(fanout, "key", *bks)
        if rep_cap is not None:
            w = Window.partitionBy("key", *bks).orderBy("id")
            ranked = canon.withColumn("__r", F.row_number().over(w))
            reps = ranked.filter(F.col("__r") <= rep_cap).select(
                F.col("id").alias("__rep"), "key", *bks
            )
            canon_pairs = (
                ranked.join(reps, ["key", *bks])
                .filter(F.col("id") != F.col("__rep"))
                .select(
                    F.least("id", "__rep").alias("id_a"),
                    F.greatest("id", "__rep").alias("id_b"),
                )
                .distinct()
            )
        else:
            if rep_flag_cap is not None:
                # group rank by id — the rep-capped pass pairs members
                # with the rep_cap LOWEST-ID representatives, so a full
                # pair {a, b} is also a capped candidate iff either
                # endpoint ranks ≤ cap in the group
                w = Window.partitionBy("key", *bks).orderBy("id")
                canon = canon.withColumn("__r", F.row_number().over(w))
            ca = canon.alias("ca")
            cb = canon.alias("cb")
            canon_pairs = ca.join(
                cb,
                (F.col("ca.key") == F.col("cb.key"))
                & (F.col("ca.id") < F.col("cb.id"))
                & _bk_eq("ca", "cb"),
            ).select(
                F.col("ca.id").alias("id_a"),
                F.col("cb.id").alias("id_b"),
                *(
                    [
                        (
                            (F.col("ca.__r") <= rep_flag_cap)
                            | (F.col("cb.__r") <= rep_flag_cap)
                        ).alias("__rc")
                    ]
                    if rep_flag_cap is not None
                    else []
                ),
            )
        cand = cand.unionByName(canon_pairs)
    if rep_flag_cap is not None:
        # dedup via aggregate so the flag survives: a pair found by
        # both passes is a capped candidate if EITHER pass says so
        cand = cand.groupBy("id_a", "id_b").agg(
            F.max("__rc").alias("in_rep_cap")
        )
    else:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    return (
        cand.join(sa, cand.id_a == F.col("sa.id"))
        .join(sb, cand.id_b == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("sa.ts"), F.col("sb.ts"))).alias(
                "inter"
            ),
            F.size(F.col("sa.ts")).alias("n_a"),
            F.size(F.col("sb.ts")).alias("n_b"),
            *[F.col(f"sa.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"sb.{c}").alias(f"{c}_b") for c in carry],
            *(["in_rep_cap"] if rep_flag_cap is not None else []),
        )
    )


def blocked_candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_df: int | None = None,
    block_cols: list[str] | None = None,
    carry_cols: list[str] | None = None,
    min_jaccard: float = 0.0,
    rep_cap: int | None = None,
    rep_flag_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥1 name token, with the token-Jaccard
    ingredients (``inter``, ``n_a``, ``n_b``).

    ``rep_cap`` bounds the canonical-name pass: instead of
    all pairs within an identical-token-set group (Σ g², the quadratic
    term on dup-heavy catalogs), each record pairs only with the
    ``rep_cap`` LOWEST-ID representatives of its group — Σ g·rep_cap,
    linear in group size. Groups ≤ rep_cap are exhaustively paired, so
    the cap is invisible until it binds; a deterministic, documented
    miss condition beyond that (non-rep×non-rep pairs are not
    emitted). ``None`` keeps the exact full pass.

    Multi-pass blocking, the scalable record-linkage shape:

    - *Token pass*: inverted index on name tokens; ``max_df`` drops
      tokens whose posting list exceeds the cap before the self-join
      (stop-token suppression), bounding join cost at Σ min(df, cap)²
      per token even when one token appears in half the corpus.
    - *Canonical-name pass* (only when a cap is set): equality join on
      the sorted token set. This closes the cap's one real hole —
      records whose name is made ENTIRELY of ubiquitous tokens are
      still perfect token-set matches of each other (a low-cardinality
      catalog is exactly that), and group-key equality finds them at
      Σ group² cost with no postings at all.

    Scoring then recomputes the TRUE intersection per surviving
    candidate via ``array_intersect`` on the full token arrays — so a
    candidate found through one rare token still counts its capped
    common tokens, and the emitted (inter, n_a, n_b) are exact
    regardless of which pass produced the pair.  With ``max_df`` the
    candidate SET is exact for pairs sharing a sub-cap token or with
    identical token sets; anything lost shares only capped tokens AND
    differs somewhere, i.e. sits at partial Jaccard.

    ``block_cols`` adds conjunctive equality blocking: columns whose
    equality the caller has PROVEN necessary for a match (e.g. a score
    threshold unreachable without brand equality) join the block key
    of both passes, dividing posting lists / name groups by that
    column's cardinality at zero recall cost.

    ``carry_cols`` rides attribute columns through to the output as
    ``<col>_a`` / ``<col>_b`` so scorers don't need two more id-keyed
    joins back to the source relation after candidate generation.

    ``min_jaccard`` prunes candidates whose token-Jaccard UPPER BOUND
    (shared surviving tokens + the smaller capped count, the most the
    true intersection can reach) falls below it — recall-lossless for
    any scorer that needs at least that Jaccard, and it shrinks the
    exact-verify join from every co-token pair to the near-match set.
    Callers derive it from their score threshold (see
    :func:`score_part_pairs`); 0.0 disables the prune.
    """
    extra = list(block_cols or [])
    carry = list(carry_cols or [])
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.split(F.lower(F.trim(F.col(name_col))), r"\s+")
        ).alias("ts"),
        *[F.col(c).alias(f"__bk{i}") for i, c in enumerate(extra)],
        *[F.col(c) for c in carry],
    )
    return candidate_pairs_from_sets(
        sets,
        n_block=len(extra),
        carry_cols=carry,
        max_df=max_df,
        min_jaccard=min_jaccard,
        rep_cap=rep_cap,
        rep_flag_cap=rep_flag_cap,
    )


def _score_part_candidates(pairs: DataFrame, extra_cols: list[str]) -> DataFrame:
    """THE part-ER score — 0.5·Jaccard(name tokens) + 0.3·[brand equal]
    + 0.2·(1 − min(|Δsize|, 10)/10) — over a candidate relation
    carrying (inter, n_a, n_b, p_brand_a/b, p_size_a/b). One
    definition consumed by both score_part_pairs and
    part_topk_matches (and mirrored by the DuckDB twins), so a weight
    or cap change can never leave the truth and capped relations
    scored by different rules. ``extra_cols`` ride through unchanged
    (the unified artifact's in_rep_cap flag)."""
    return pairs.select(
        "id_a",
        "id_b",
        *extra_cols,
        (
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        ).alias("name_jaccard"),
        F.when(F.col("p_brand_a") == F.col("p_brand_b"), 1)
        .otherwise(0)
        .alias("brand_eq"),
        (
            1.0
            - F.least(
                F.abs(F.col("p_size_a") - F.col("p_size_b")), F.lit(10)
            ) / 10.0
        ).alias("size_sim"),
    ).withColumn(
        "score",
        0.5 * F.col("name_jaccard")
        + 0.3 * F.col("brand_eq")
        + 0.2 * F.col("size_sim"),
    )


def part_matched_pairs(
    part: DataFrame,
    threshold: float = PART_THRESHOLD,
    max_df: int | None = None,
    rep_cap: int | None = None,
    rep_flag_cap: int | None = None,
) -> DataFrame:
    """RAW scored matched pairs over ``part`` — the relation both ER
    contracts and the eval gate derive from; :func:`shared_part_matches`
    materializes it ONCE instead of every consumer re-expanding the
    candidate DAG.

    Columns (id_a, id_b, name_jaccard, brand_eq, size_sim, score) with
    score ≥ threshold; floats UNROUNDED so downstream top-k ranks by
    the exact double (rounding is the output queries' presentation
    concern — ranking by a 6-dp rounding could order two near-ties
    differently than the oracle's exact-score rank).

    ``rep_cap=None`` is the exact all-pairs contract (threshold-derived
    Jaccard prune enabled); with a cap, the canonical pass is
    rep-capped and the prune is skipped (see
    :func:`part_topk_matches`'s plan note).
    """
    block_cols = ["p_brand"] if threshold > 0.7 else None
    # name_jaccard is the only unbounded-from-below component: brand_eq
    # and size_sim cap at 0.3 + 0.2, so score >= threshold REQUIRES
    # J >= (threshold - 0.5)/0.5 — a recall-lossless candidate prune.
    # With a rep_cap the candidates are already df- and rep-capped and
    # the prune's survivor-count machinery re-references the posting
    # subtree (plan audit: 29→17 exchanges without it), so it is
    # skipped there — the post-threshold match set is identical either
    # way (the prune is recall-lossless by construction).
    pairs = blocked_candidate_pairs(
        part, "p_partkey", "p_name", max_df=max_df, block_cols=block_cols,
        carry_cols=["p_brand", "p_size"],
        min_jaccard=(
            max(0.0, (threshold - 0.5) / 0.5) if rep_cap is None else 0.0
        ),
        rep_cap=rep_cap,
        rep_flag_cap=rep_flag_cap,
    )
    return _score_part_candidates(
        pairs, ["in_rep_cap"] if rep_flag_cap is not None else []
    ).filter(F.col("score") >= threshold)


def score_part_pairs(
    part: DataFrame,
    threshold: float = PART_THRESHOLD,
    max_df: int | None = None,
) -> DataFrame:
    """Multi-attribute ER scoring for the ``part`` table.

    score = 0.5·Jaccard(name tokens) + 0.3·[brand equal]
          + 0.2·(1 − min(|Δsize|, 10)/10)

    All components are ratios of integers, so the score is the same
    IEEE double in Spark and DuckDB; the threshold compare and the
    6-dp rounding are therefore hash-stable.

    Threshold-derived conjunctive blocking: name_jaccard and size_sim
    cap at 1.0, so without brand equality the score caps at
    0.5 + 0.2 = 0.7 — any threshold above that makes brand a NECESSARY
    condition, and it joins the block key (25× fewer candidates on a
    25-brand catalog) with zero recall loss.
    """
    scored = part_matched_pairs(part, threshold=threshold, max_df=max_df)
    return scored.select(
        "id_a",
        "id_b",
        F.round("name_jaccard", 6).alias("name_jaccard"),
        "brand_eq",
        F.round("size_sim", 6).alias("size_sim"),
        F.round("score", 6).alias("score"),
    )


def part_topk_matches(
    part: DataFrame,
    k: int = 3,
    max_df: int | None = MAX_DF,
    rep_cap: int = REP_CAP,
) -> DataFrame:
    """Per-record top-``k`` scored matches — the OUTPUT-BOUNDED ER
    surface.

    The all-pairs contract (:func:`score_part_pairs`) is inherently
    output-quadratic on dup-heavy catalogs: a (name, brand) group of g
    records emits g·(g−1)/2 matched pairs, so its cost grows with its
    own output (sf1 curve exponent 1.56, adjudicated output-bound). At
    100 TB nobody consumes that relation row-by-row; the useful
    bounded contract is "for each record, its k best matches", ≤ N·k
    rows total. Candidate generation is bounded too:

    - *token pass*: df-capped inverted index on (token, brand) — the
      same Σ min(df, cap)² bound as :func:`blocked_candidate_pairs`;
    - *canonical pass*: each record pairs with the ``rep_cap``
      LOWEST-ID REPRESENTATIVES of its identical-(token-set, brand)
      group instead of with every member — Σ g·rep_cap, linear in g.

    Miss condition (documented, deterministic): a record's true k-th
    best match can be a same-group NON-representative whose size is
    closer than every representative's; reps are a fixed deterministic
    sample (lowest ids), so the result is exactly reproducible and the
    oracle encodes the same cap. Groups ≤ rep_cap are exhaustively
    paired (the cap binds nowhere at small scale, so the answer equals
    the uncapped one there). Emits
    (p_partkey, match_key, score, rank) with rank 1..k by
    (score DESC, match_key ASC).

    The threshold is ``PART_THRESHOLD``; brand equality is
    threshold-necessary above 0.7 (see :func:`score_part_pairs`), so
    both passes block on it.
    """
    # Same candidate machinery and score definition as the all-pairs
    # contract — only the canonical pass runs rep-capped (see
    # part_matched_pairs for the skipped-prune plan note).
    matched = part_matched_pairs(
        part, threshold=PART_THRESHOLD, max_df=max_df, rep_cap=rep_cap
    )
    return directed_topk(
        matched, "score", "p_partkey", "match_key", k, score_out="score"
    )


def directed_topk(
    matched: DataFrame,
    score_col: str,
    out_id: str,
    out_match: str,
    k: int,
    score_out: str = "score",
) -> DataFrame:
    """Per-record top-``k`` from an undirected matched-pair relation
    (id_a, id_b, score): each pair becomes two directed edges via ONE
    ``explode`` over the row (a two-branch union would scan the (often
    artifact-backed) source twice), then
    row_number ≤ k by (score DESC, partner ASC). Ranks by the RAW
    score and rounds only for output, so near-ties order exactly as
    the oracle's exact-score rank."""
    e = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("k"),
                F.col("id_b").alias("m"),
                F.col(score_col).alias("s"),
            ),
            F.struct(
                F.col("id_b").alias("k"),
                F.col("id_a").alias("m"),
                F.col(score_col).alias("s"),
            ),
        )
    )
    directed = matched.select(e.alias("e")).select(
        F.col("e.k").alias(out_id),
        F.col("e.m").alias(out_match),
        F.col("e.s").alias("__score"),
    )
    tw = Window.partitionBy(out_id).orderBy(
        F.col("__score").desc(), F.col(out_match).asc()
    )
    return (
        directed.withColumn("rank", F.row_number().over(tw))
        .filter(F.col("rank") <= k)
        .select(
            out_id,
            out_match,
            F.col("rank").cast("int").alias("rank"),
            F.round("__score", 6).alias(score_out),
        )
        .orderBy(out_id, "rank")
    )


_MATCHES_VERSION = 1


def shared_part_matches(
    spark,
    sf_dir: str,
    threshold: float = PART_THRESHOLD,
    rep_cap: int | None = None,
) -> DataFrame:
    """Fingerprint-keyed materialization of
    :func:`part_matched_pairs` — the scored-candidate relation
    er_part_pairs, er_part_topk AND the er_topk_eval gate all consume
    (computed in-plan, er_part_topk re-scans ``part`` 16× and the eval
    gate re-expands the whole candidate DAG on both sides). The
    matched relation is output-bounded (threshold-crossing pairs
    only), so consumers read hundreds of rows instead of replaying the
    blocking joins.

    At 100 TB this is the only sane shape: candidate generation +
    scoring is the scheduled once-per-catalog-version job; the top-k
    projection, the pair report, and the recall gate are all cheap
    reads of its output.

    The family's three configurations (t0.8/rcNone, t0.8/rc8,
    t0.9/rcNone) built separately are three expansions of the same
    blocking DAG (15.9 s of builds at sf0.1). They are all filters of
    ONE relation: the unified
    ``PART_THRESHOLD`` build runs the exact uncapped pass once with an
    ``in_rep_cap`` flag (see :func:`candidate_pairs_from_sets`), and

    - ``threshold > PART_THRESHOLD`` is a score filter (every pair
      scoring ≥ t also scores ≥ 0.8 and candidate generation is
      threshold-independent above 0.7 — brand blocking + the
      recall-lossless prune, see :func:`part_matched_pairs`);
    - ``rep_cap = REP_CAP`` is the flag filter (token-pass
      candidates are shared; a canonical pair is rep-capped iff an
      endpoint ranks ≤ cap — the flag's definition).

    Any other configuration still gets its own per-config build.
    """
    unified = threshold >= PART_THRESHOLD and rep_cap in (None, REP_CAP)
    params = (
        {"threshold": PART_THRESHOLD, "max_df": MAX_DF, "rep_flag_cap": REP_CAP}
        if unified
        else {"threshold": threshold, "max_df": MAX_DF, "rep_cap": rep_cap}
    )

    def _build(staging: str) -> None:
        # repartition(1), NOT coalesce(1): the output is tiny, but
        # coalesce propagates the 1-partition constraint into the last
        # stage — here the verify join probing the full record sets —
        # serializing it onto one core (measured 203 s vs 4 s on the
        # document twin). repartition inserts a shuffle barrier, so
        # upstream keeps its parallelism and only the write is single.
        part_matched_pairs(
            load(spark, sf_dir, "part"),
            threshold=PART_THRESHOLD if unified else threshold,
            max_df=MAX_DF,
            rep_cap=None if unified else rep_cap,
            rep_flag_cap=REP_CAP if unified else None,
        ).repartition(1).write.mode("overwrite").parquet(staging)

    path = artifacts.ensure(
        "part_matches",
        table_path(sf_dir, "part"),
        _MATCHES_VERSION,
        params,
        _build,
    )
    m = spark.read.parquet(path)
    if unified:
        if threshold > PART_THRESHOLD:
            m = m.filter(F.col("score") >= threshold)
        if rep_cap == REP_CAP:
            m = m.filter(F.col("in_rep_cap"))
        m = m.select(
            "id_a", "id_b", "name_jaccard", "brand_eq", "size_sim", "score"
        )
    return m


def doc_matched_pairs(docs: DataFrame) -> DataFrame:
    """RAW matched document pairs (id_a, id_b, jac ≥ ``DOC_THRESHOLD``)
    of a (doc_id, text) relation by exact word n-gram Jaccard over
    BOUNDED candidates — the matching stage of the document-ER
    contract (see :func:`doc_topk_matches`).
    Candidate generation: df-capped shingle postings (Σ min(df, cap)²,
    the same inverted-index bound as dedup.ngram_jaccard_pairs) ∪
    record×group-representative pairs over identical-shingle-set
    groups (``REP_CAP`` lowest ids — Σ g·rep_cap, linear; exactly the
    bound that keeps exact-duplicate clusters from going quadratic).

    Wired to the existing machinery, not a re-implementation: shingles
    come from ``dedup.shingles`` (the same 3-gram definition every
    Jaccard-family query uses) and the candidate core is
    :func:`candidate_pairs_from_sets` — the part contract and this one
    cannot drift apart. The canonical group key is hashed
    (``hash_canon_key``) so the group-by shuffles a 32-char digest,
    not full shingle arrays. ``jac`` is emitted UNROUNDED so top-k
    ranks on the exact double (the part_matched_pairs convention).
    """
    from nabatshy_spark.operators.dedup import shingles

    # The shingled relation feeds five subtrees of the candidate core
    # (posting explode, df cap, canonical pass, both verify sides);
    # without materializing it each re-shingles the corpus — measured
    # 6.5 s vs 3.7 s materialized at sf0.1.
    sets = (
        docs.select(
            F.col("doc_id").alias("id"),
            shingles(F.col("text")).alias("ts"),
        )
        .filter(F.size("ts") > 0)
        .localCheckpoint(eager=False)
    )
    # min_jaccard = threshold: the score IS the Jaccard here, so the
    # core's exact upper-bound prune applies at full strength — only
    # pairs whose capped-token slack could still reach the threshold
    # ship their shingle arrays into the verify join. Without it every
    # co-shingle pair is array-intersected, and the sf1 curve reads
    # exponent 1.55 (157.8 s) vs sub-linear with the prune — on a
    # document corpus the prune is the difference between "bounded"
    # and "every pair sharing one common 3-gram".
    pairs = candidate_pairs_from_sets(
        sets,
        max_df=MAX_DF,
        min_jaccard=DOC_THRESHOLD,
        rep_cap=REP_CAP,
        hash_canon_key=True,
    )
    return pairs.select(
        "id_a",
        "id_b",
        (
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        ).alias("jac"),
    ).filter(F.col("jac") >= DOC_THRESHOLD)


_DOC_MATCHES_VERSION = 1


def shared_doc_matches(spark, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed materialization of :func:`doc_matched_pairs`
    over the ``documents`` table — the document twin of
    :func:`shared_part_matches`, same rationale: near-dup matching is
    the once-per-corpus-version job (at 100 TB, THE scheduled dedup
    pass), its output is dup-bounded, and every consumer (top-k view,
    cluster rollups, keep-best policies) reads the artifact instead of
    re-running the blocking joins."""

    def _build(staging: str) -> None:
        # repartition(1), not coalesce(1) — see shared_part_matches.
        pairs = doc_matched_pairs(load(spark, sf_dir, "documents"))
        pairs.repartition(1).write.mode("overwrite").parquet(staging)

    path = artifacts.ensure(
        "doc_matches",
        table_path(sf_dir, "documents"),
        _DOC_MATCHES_VERSION,
        {
            "n": SHINGLE_N,
            "threshold": DOC_THRESHOLD,
            "max_df": MAX_DF,
            "rep_cap": REP_CAP,
        },
        _build,
    )
    return spark.read.parquet(path)


def doc_topk_matches(docs: DataFrame) -> DataFrame:
    """Per-document top-3 near-duplicate matches by exact word
    n-gram Jaccard — the output-bounded ER contract generalized from
    ``part`` to the LLM-pipeline consumer, DOCUMENT entity resolution:
    ≤ 3 rows per document; bounded candidate generation documented on
    :func:`doc_matched_pairs`.

    Deterministic miss condition (encoded identically in the DuckDB
    oracle): a true top match reachable only through over-cap shingles
    AND a non-representative of its over-cap identical-set group.
    Scoring is the exact Jaccard from full shingle arrays, so reported
    values are exact for every emitted pair. Emits
    (doc_id, match_id, rank, jaccard), rank 1..3 by
    (jaccard DESC, match_id ASC).
    """
    return directed_topk(
        doc_matched_pairs(docs), "jac", "doc_id", "match_id", 3, score_out="jaccard"
    )


def cluster_histogram(matched: DataFrame, nodes: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters) histogram of the entities induced by
    an undirected matched-pair relation (id_a, id_b): components via
    the large-star/small-star rounds in ``dedup.connected_components``,
    with every node in ``nodes`` (single ``node`` column) counted —
    isolated records are singleton clusters. ONE definition shared by
    the part and document cluster rollups."""
    edges = matched.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    comp = connected_components(edges, "a", "b").withColumnRenamed(
        "doc_id", "node"
    )
    labeled = (
        nodes.join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
    sizes = labeled.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def part_entity_clusters(part: DataFrame) -> DataFrame:
    """Cluster-size histogram of matched part entities.

    Edges = scored pairs ≥ ``CLUSTER_THRESHOLD``; components + singleton handling
    via :func:`cluster_histogram` — the shape reviewers actually look
    at for an ER run.
    """
    return cluster_histogram(
        score_part_pairs(part, threshold=CLUSTER_THRESHOLD),
        part.select(F.col("p_partkey").alias("node")),
    )
