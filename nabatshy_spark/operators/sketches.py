"""Mergeable frequency / membership sketches as plain DataFrame
aggregates (SURVEY §2.11 extension surface): count-min for heavy-hitter
frequency estimation, Bloom bits for membership prefilters.

Both are built from engine-portable md5 hashing (the repo's standard
determinism trick), so the ENTIRE sketch — not just its answers — is
bit-identical across Spark, DuckDB, and reruns, and the DuckDB oracle
replicates construction and query verbatim (a rarity for sketches:
these are oracle-checked, not rows-only).

Scale shape:
- A count-min sketch (Cormode & Muthukrishnan 2005) is depth×width
  counters built by ONE partial-aggregated groupBy over (row,
  hash(key) % width) — d·w groups regardless of key cardinality, and
  sketches of corpus shards merge by cell-wise addition (the partial
  agg IS the merge).
- Bloom bits (Bloom 1970) are the distinct (bit) set from k probes per
  key — a groupBy on bit position, ≤ m groups. The probe side is a
  broadcast join of the bit set into any scan: the standard cheap
  prefilter in front of expensive dedup / decontamination joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# count-min: 4 hash rows of 64 counters, 512 for join-size estimates;
# Bloom filters probe 5 bits per key, 1,024 bits in the packed form
CMS_DEPTH = 4
CMS_WIDTH = 64
JOIN_CMS_WIDTH = 512
BLOOM_HASHES = 5
BLOOM_BITS = 1024


def _h(key: Column, seed: int, modulus: int) -> Column:
    """Engine-portable hash: first 8 md5 hex chars of "<seed>:<key>"
    as an integer, mod ``modulus`` (DuckDB spells it
    ('0x' || substr(md5(seed || ':' || key), 1, 8))::UBIGINT % m)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % modulus
    )


def cms_counters(df: DataFrame, key_col: str, width: int = CMS_WIDTH) -> DataFrame:
    """The count-min sketch itself: (row, col, c) counters — ``CMS_DEPTH``
    independent hash rows, each key adding its multiplicity to one cell
    per row. One explode (×depth) + one partial-agg shuffle of d·w
    groups; shard sketches merge by summing cells."""
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("row"), _h(F.col(key_col), d, width).alias("col")
            )
            for d in range(CMS_DEPTH)
        ]
    )
    return (
        df.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.col").alias("col"))
        .agg(F.count("*").alias("c"))
    )


def cms_estimates(df: DataFrame, key_col: str) -> DataFrame:
    """Per-distinct-key count-min estimate: min over the key's cells —
    ≥ the true count always (collisions only inflate), with the classic
    (ε=e/width, δ=e^-depth) overestimate bound. The distinct-key probe
    relation joins the d·w counter table (broadcast — the sketch is
    O(1) size by construction)."""
    sketch = cms_counters(df, key_col)
    keys = df.select(F.col(key_col).alias("key")).distinct()
    probes = keys.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        _h(F.col("key"), d, CMS_WIDTH).alias("col"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    )
    return (
        probes.join(
            F.broadcast(sketch),
            (F.col("p.row") == F.col("row")) & (F.col("p.col") == F.col("col")),
        )
        .groupBy("key")
        .agg(F.min("c").alias("est"))
    )


def bloom_bits(df: DataFrame, key_col: str, num_bits: int = BLOOM_BITS) -> DataFrame:
    """The Bloom filter's set-bit relation: distinct bit positions from
    ``BLOOM_HASHES`` probes per key. ≤ m rows regardless of input size;
    shard filters merge by union (distinct)."""
    probes = F.array(
        *[_h(F.col(key_col), d, num_bits) for d in range(BLOOM_HASHES)]
    )
    return (
        df.select(F.explode(probes).alias("bit"))
        .distinct()
    )


def bloom_probe(
    filter_bits: DataFrame,
    candidates: DataFrame,
    key_col: str,
    num_bits: int = 1024,
) -> DataFrame:
    """Membership test: a candidate "may be present" iff ALL its probe
    bits are set — no false negatives ever, false-positive rate
    ≈ (1 - e^{-kn/m})^k. The bit set broadcasts into the candidate
    scan (left join + count == k), the cheap prefilter shape."""
    keys = candidates.select(F.col(key_col).alias("key")).distinct()
    probes = keys.select(
        "key",
        F.explode(
            F.array(*[_h(F.col("key"), d, num_bits) for d in range(BLOOM_HASHES)])
        ).alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(filter_bits), "bit", "left_semi")
        .groupBy("key")
        .agg(F.count("*").alias("__set"))
    )
    return (
        keys.join(hits, "key", "left")
        .select(
            "key",
            (F.coalesce(F.col("__set"), F.lit(0)) == BLOOM_HASHES).alias(
                "may_contain"
            ),
        )
    )


def hll_rollup(
    df: DataFrame,
    ts_col: str,
    key_col: str,
) -> DataFrame:
    """Pre-aggregated distinct counting with MERGEABLE HLL sketches
    (Spark's built-in Apache DataSketches HllSketch, Spark 3.5+): one
    sketch per day, weekly distincts answered by UNIONING the daily
    sketches — never rescanning the fact table.

    This is the 100 TB distinct-count architecture: the daily sketch
    build is one partial-aggregated groupBy (a few KB of registers per
    day regardless of cardinality), and every coarser rollup (week /
    month / arbitrary day range) is a union of those sketches — HLL
    union is register-wise max, so estimate(union(daily sketches)) is
    IDENTICAL to the estimate a single sketch over the raw week would
    give (same hash, same registers; pinned by unit test). The exact
    twin (count_distinct) needs a full reshuffle of the fact table per
    window asked.

    Sketches keep 2^12 registers (lg_k = 12). Returns (week_start,
    est_users, n_days) — estimates as long, like approx_count_distinct.
    """
    daily = (
        df.select(F.to_date(F.col(ts_col)).alias("day"), F.col(key_col))
        .groupBy("day")
        .agg(F.hll_sketch_agg(key_col, F.lit(12)).alias("sk"))
    )
    return (
        daily.groupBy(
            F.date_trunc("week", F.col("day")).cast("date").alias("week_start")
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
            F.count("*").alias("n_days"),
        )
        .orderBy("week_start")
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size estimation from two ``key``-column count-min sketches
    of width ``JOIN_CMS_WIDTH`` (Cormode & Muthukrishnan 2005 §4.2; the
    AGMS-style inner-product estimator):
    |A ⋈ B| = Σ_k f_A(k)·f_B(k) is estimated per hash row as
    Σ_col cmsA[row,col]·cmsB[row,col], taking the MIN over rows.
    Collisions only ever add mass, so the estimate ≥ the true join
    size always, with the classic ε·N_A·N_B overestimate bound — the
    primitive a cost-based optimizer uses to order joins without
    touching either table.

    Scale: each sketch is depth·width integers regardless of input
    size (one scan + one tiny agg per side); the estimator joins the
    two d·w-cell relations — O(1) work. Returns one row per hash row
    (``est`` per row); min over rows is the estimate.
    """
    sa = cms_counters(a, "key", JOIN_CMS_WIDTH)
    sb = cms_counters(b, "key", JOIN_CMS_WIDTH).select(
        F.col("row"), F.col("col"), F.col("c").alias("c_b")
    )
    return (
        sa.join(sb, ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("c") * F.col("c_b")).alias("est"))
    )


def bloom_bitmap(bits) -> list[int]:
    """Pack a ``BLOOM_BITS``-bit set-bit list (bloom_bits rows) into
    ⌈BLOOM_BITS/64⌉ SIGNED 64-bit words for the O(1) scan-side probe
    (:func:`bloom_pred`)."""
    words = [0] * ((BLOOM_BITS + 63) // 64)
    for b in bits:
        words[int(b) // 64] |= 1 << (int(b) % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_pred(key, bitmap_words: list[int]):
    """Codegen'd Bloom membership predicate over a packed
    ``BLOOM_BITS``-bit bitmap — each of the ``BLOOM_HASHES`` probes is
    element_at + shift + AND (O(1)), NOT an array_contains scan of the
    set-bit list (which is a LINEAR walk of up to ``BLOOM_BITS``
    literals per probe: measured 4.49 s → sub-second on the fact scan
    at sf0.1). The words enter the plan as a literal array
    (⌈BLOOM_BITS/64⌉ longs — config-bounded
    like the CMS sketch), so the filter rides the scan with no join."""
    wl = F.array(*[F.lit(int(w)).cast("long") for w in bitmap_words])
    pred = None
    for d in range(BLOOM_HASHES):
        h = _h(key, d, BLOOM_BITS)
        word = F.element_at(wl, (h / 64).cast("int") + 1)
        term = F.getbit(word, F.pmod(h, F.lit(64))) == 1
        pred = term if pred is None else (pred & term)
    return pred
