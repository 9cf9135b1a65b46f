"""DuckDB oracle SQL — one ANSI-SQL statement per registry query, with
column aliases matching the Spark side byte-for-byte (the driver sorts
columns by name before hashing).

DuckDB specifics handled here:
- ``sum`` over integers returns HUGEINT → cast ``::BIGINT`` to match
  Spark's LongType;
- ``epoch_us(ts) // 1000000`` is the exact integer-floor epoch that
  Spark's ``unix_timestamp`` produces;
- ``quantile_cont`` == Spark exact ``percentile`` (linear interpolation);
- double aggregates rounded identically to the Spark side (see
  plans/queries.py float policy).
"""

from __future__ import annotations

from nabatshy_spark.plans.span_queries import DEFAULT_SPANS_PATH

ORACLES: dict[str, str] = {}

ORACLES["pricing_summary"] = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                          AS sum_qty,
  round(sum(l_extendedprice), 2)                                     AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
  round(avg(l_quantity), 6)                                          AS avg_qty,
  round(avg(l_extendedprice), 6)                                     AS avg_price,
  round(avg(l_discount), 6)                                          AS avg_disc,
  count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["endpoint_stats"] = """
SELECT
  l_returnflag,
  l_linestatus,
  count(*)                                    AS call_count,
  round(avg(l_extendedprice), 6)              AS avg_price,
  min(l_extendedprice)                        AS min_price,
  max(l_extendedprice)                        AS max_price,
  quantile_cont(l_extendedprice, 0.5)  AS p50_price,
  quantile_cont(l_extendedprice, 0.95) AS p95_price,
  quantile_cont(l_extendedprice, 0.99) AS p99_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["trace_rollup"] = """
SELECT
  l_orderkey,
  count(*)           AS span_count,
  max(l_extendedprice) AS max_price,
  min(l_shipdate)    AS first_ship
FROM lineitem
GROUP BY l_orderkey
ORDER BY max_price DESC, l_orderkey ASC
LIMIT 100
"""

ORACLES["error_rate_by_priority"] = """
WITH stats AS (
  SELECT o_orderpriority, avg(o_totalprice) AS avg_price
  FROM orders GROUP BY o_orderpriority
)
SELECT
  o.o_orderpriority                                        AS priority,
  count(*)                                                 AS total_count,
  sum(CASE WHEN o.o_totalprice > 2 * s.avg_price THEN 1 ELSE 0 END)::BIGINT
                                                           AS issue_count,
  round(sum(CASE WHEN o.o_totalprice > 2 * s.avg_price THEN 1 ELSE 0 END)
        / count(*) * 100.0, 6)                             AS error_rate
FROM orders o JOIN stats s ON o.o_orderpriority = s.o_orderpriority
GROUP BY o.o_orderpriority
"""

ORACLES["distinct_segments"] = """
SELECT DISTINCT c_mktsegment FROM customer
"""

ORACLES["top_event_types"] = """
SELECT event_type, round(avg(value), 6) AS avg_value, count(*) AS n
FROM events
GROUP BY event_type
ORDER BY avg_value DESC
LIMIT 10
"""

ORACLES["pct_vs_baseline"] = """
WITH t AS (SELECT event_type, avg(value) AS a FROM events GROUP BY event_type),
     g AS (SELECT avg(value) AS ga FROM events)
SELECT
  t.event_type,
  round(t.a, 6)                          AS avg_value,
  round((t.a - g.ga) / g.ga * 100.0, 6)  AS pct_diff
FROM t, g
"""

ORACLES["slowest_traces"] = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderdate DESC, o_orderkey ASC
LIMIT 100
"""

ORACLES["point_lookup"] = """
SELECT * FROM events WHERE event_id = 4242
"""

ORACLES["search_page"] = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
WHERE event_type = 'click'
ORDER BY ts DESC, event_id ASC
LIMIT 20 OFFSET 40
"""

ORACLES["search_page_keyset"] = """
WITH b AS (
  SELECT ts, event_id FROM events WHERE event_type = 'click'
  ORDER BY ts DESC, event_id ASC LIMIT 1 OFFSET 1979
)
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props
FROM events e, b
WHERE e.event_type = 'click'
  AND (e.ts < b.ts OR (e.ts = b.ts AND e.event_id > b.event_id))
ORDER BY e.ts DESC, e.event_id ASC
LIMIT 20
"""

ORACLES["search_dsl_typed"] = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_type = 'error' AND json_extract_string(props, '$.k') = '42'
"""

ORACLES["search_dsl_fallback"] = """
SELECT event_id, event_type, value
FROM events
WHERE event_type = 'purchase'
   OR COALESCE(json_extract_string(props, '$.k'), '') = 'purchase'
"""

ORACLES["service_dependency"] = """
SELECT
  s1.l_returnflag AS parent_flag,
  s2.l_returnflag AS child_flag,
  count(*)        AS call_count
FROM lineitem s1
JOIN lineitem s2
  ON s1.l_orderkey = s2.l_orderkey
 AND s2.l_linenumber = s1.l_linenumber + 1
WHERE s1.l_suppkey != s2.l_suppkey
GROUP BY s1.l_returnflag, s2.l_returnflag
"""

ORACLES["region_nation_rollup"] = """
SELECT
  r.r_name,
  n.n_name,
  count(*)                  AS n_customers,
  round(avg(c.c_acctbal), 6) AS avg_acctbal,
  round(sum(c.c_acctbal), 2) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""

ORACLES["hourly_heatmap"] = """
SELECT
  date_trunc('hour', ts)   AS bucket,
  count(*)                 AS n,
  round(avg(value), 6)     AS avg_value,
  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS err_count
FROM events
GROUP BY date_trunc('hour', ts)
ORDER BY bucket ASC
LIMIT 24
"""

ORACLES["dynamic_buckets"] = """
WITH s AS (
  SELECT min(epoch_us(ts) // 1000000) AS lo, max(epoch_us(ts) // 1000000) AS hi
  FROM events
)
SELECT
  (epoch_us(ts) // 1000000)
    - (epoch_us(ts) // 1000000) % greatest((s.hi - s.lo) // 15, 1) AS bucket_epoch,
  count(*)             AS n,
  round(avg(value), 6) AS avg_value
FROM events, s
GROUP BY bucket_epoch
ORDER BY bucket_epoch
"""

ORACLES["gapfill_series"] = """
WITH buckets AS (
  SELECT unnest(generate_series(1704067200, 1704239999, 3600)) AS bucket_epoch
),
agg AS (
  SELECT
    (epoch_us(ts) // 1000000) - (epoch_us(ts) // 1000000) % 3600 AS bucket_epoch,
    count(*) AS n
  FROM events
  WHERE event_type = 'purchase' AND value > 45
    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts <  TIMESTAMP '2024-01-03 00:00:00'
  GROUP BY 1
)
SELECT b.bucket_epoch, COALESCE(a.n, 0)::BIGINT AS n
FROM buckets b LEFT JOIN agg a ON b.bucket_epoch = a.bucket_epoch
ORDER BY b.bucket_epoch
"""

_CM_IV = (1705276800 - 1704067200) // 15  # 80640s, range/15 (utils.go:81-85)
# toStartOfInterval aligns to the absolute epoch, so the padded series
# starts at the *aligned* range start (utils/utils.go:74-79).
_CM_ALIGNED = 1704067200 - (1704067200 % _CM_IV)

ORACLES["combined_metrics"] = f"""
WITH buckets AS (
  SELECT unnest(generate_series({_CM_ALIGNED}, 1705276799, {_CM_IV})) AS bucket_epoch
),
agg AS (
  SELECT
    (epoch_us(ts) // 1000000) - (epoch_us(ts) // 1000000) % {_CM_IV} AS bucket_epoch,
    quantile_cont(value, 0.95) AS p95_value,
    count(*)                             AS n,
    round(avg(value), 6)                 AS avg_value
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts <  TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY 1
)
SELECT
  b.bucket_epoch,
  COALESCE(a.p95_value, 0.0)  AS p95_value,
  COALESCE(a.n, 0)::BIGINT    AS n,
  COALESCE(a.avg_value, 0.0)  AS avg_value
FROM buckets b LEFT JOIN agg a ON b.bucket_epoch = a.bucket_epoch
ORDER BY b.bucket_epoch
"""

ORACLES["relative_window"] = """
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value
FROM events, mx
WHERE ts >= mx.m - INTERVAL 1 DAY
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# Extension operators (SURVEY §2.11). ann_lsh_topk is intentionally
# absent (probabilistic recall → rows-only check).
# ---------------------------------------------------------------------------

ORACLES["dedup_exact"] = """
SELECT min(doc_id) AS doc_id, count(*) AS n_dups
FROM documents
GROUP BY sha256(text)
"""

_JACCARD_PAIRS_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t
  WHERE len(w) >= 3
),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i / (x.sz + y.sz - i), 6) AS jaccard
FROM inter
JOIN sz x ON inter.doc_a = x.doc_id
JOIN sz y ON inter.doc_b = y.doc_id
WHERE round(i / (x.sz + y.sz - i), 6) >= 0.5
"""

ORACLES["audio_wav_features"] = """
SELECT doc_id,
       16000::INT AS sample_rate,
       1::INT AS n_channels,
       (8000 + (doc_id % 5) * 1000)::BIGINT AS n_samples,
       round((8000 + (doc_id % 5) * 1000) / 16000.0, 6) AS duration_s,
       round((1000 + (doc_id % 7) * 100)::DOUBLE, 6) AS rms
FROM documents
"""

ORACLES["video_frame_sample"] = """
SELECT d.doc_id, f.i::INT AS frame_idx, 8::INT AS width, 6::INT AS height,
       round(((d.doc_id * 7 + f.i * 13) % 256)::DOUBLE, 6) AS mean_pixel
FROM documents d, (SELECT unnest([0, 2]) AS i) f
"""

ORACLES["kmeans_embeddings"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v
  FROM e ORDER BY vec_id LIMIT 4
),
a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c0.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_sum([ (e.v[i] - c0.v[i]) * (e.v[i] - c0.v[i])
                                       for i in range(1, len(e.v) + 1) ]), 9),
                      c0.cluster
           ) AS rn
    FROM e CROSS JOIN c0
  ) WHERE rn = 1
),
u1 AS (
  SELECT a1.cluster, d.x['d'] AS dim, d.x['val'] AS val
  FROM a1 JOIN e USING (vec_id),
       LATERAL (SELECT unnest([{'d': i, 'val': e.v[i]}
                               for i in range(1, len(e.v) + 1)]) AS x) d
),
c1m AS (
  SELECT cluster, dim, round(avg(val), 6) AS m FROM u1 GROUP BY 1, 2
),
c1 AS (
  SELECT c0.cluster,
         coalesce(cm.v, c0.v) AS v
  FROM c0 LEFT JOIN (
    SELECT cluster, list(m ORDER BY dim) AS v FROM c1m GROUP BY cluster
  ) cm USING (cluster)
)
SELECT vec_id, cluster::INT AS cluster FROM (
  SELECT e.vec_id, c1.cluster,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_sum([ (e.v[i] - c1.v[i]) * (e.v[i] - c1.v[i])
                                     for i in range(1, len(e.v) + 1) ]), 9),
                    c1.cluster
         ) AS rn
  FROM e CROSS JOIN c1
) WHERE rn = 1
"""

ORACLES["decontaminate_corpus"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t WHERE len(w) >= 3
),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 50 = 0)
SELECT e.doc_id, count(DISTINCT e.g) AS n_hits
FROM ex e JOIN bench b ON e.g = b.g
WHERE e.doc_id % 50 != 0
GROUP BY 1
HAVING count(DISTINCT e.g) >= 3
"""

ORACLES["dedup_ngram_jaccard"] = _JACCARD_PAIRS_SQL
# LSH at 64 bands x 2 rows has miss probability ~1e-8 at J>=0.5, so its
# verified output equals the exact operator's (see operators/dedup.py).
ORACLES["dedup_minhash_lsh"] = _JACCARD_PAIRS_SQL

ORACLES["dedup_simhash"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::UBIGINT::BIGINT AS hv
  FROM tok
),
bits AS (
  SELECT doc_id, i.i,
         sum(CASE WHEN (hv >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range(0, 60)) AS i) i
  GROUP BY doc_id, i.i
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

_COS = """list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])
  / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))
     * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"""

ORACLES["dedup_embedding"] = f"""
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round({_COS.format(a="a.embedding", b="b.embedding")}, 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_COS.format(a="a.embedding", b="b.embedding")}, 6) >= 0.45
"""

# The clustered form is EXACT (ball-cover pruning cannot miss a
# qualifying pair) and shares the all-pairs kernel bit-for-bit, so the
# same oracle covers it.
ORACLES["dedup_embedding_clustered"] = ORACLES["dedup_embedding"]

ORACLES["ann_cosine_topk"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round({_COS.format(a="e.embedding", b="q.qv")}, 6) AS cos
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY cos DESC, e.vec_id ASC
LIMIT 10
"""

_STOPWORDS_SQL = "['the','a','is','of','and','to','in']"

ORACLES["text_stats"] = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT
  doc_id,
  len(w)::INT                                               AS n_tokens,
  length(text)::INT                                         AS n_chars_measured,
  round(length(replace(text, ' ', '')) / len(w), 6)         AS avg_token_len,
  round(len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x))) / len(w), 6)
                                                            AS stopword_ratio,
  round(least(len(w) / 100.0, 1.0) * 0.5
        + least(len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x))) / 5.0,
                1.0) * 0.5, 6)                              AS quality_score
FROM t
"""

ORACLES["text_langid"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id,
    len(list_filter(w, x -> list_contains(['the','a','is','of','and'], x)))::INT  AS score_en,
    len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], x)))::INT AS score_de,
    len(list_filter(w, x -> list_contains(['el','los','es','y','que'], x)))::INT  AS score_es,
    len(list_filter(w, x -> list_contains(['le','les','est','et','une'], x)))::INT AS score_fr
  FROM t
)
SELECT doc_id, score_en, score_de, score_es, score_fr,
  CASE
    WHEN score_en = 0 AND score_de = 0 AND score_es = 0 AND score_fr = 0 THEN 'und'
    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
    WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
    WHEN score_es >= score_fr THEN 'es'
    ELSE 'fr'
  END AS pred_lang
FROM s
"""

ORACLES["text_token_counts"] = """
SELECT doc_id,
       len(string_split(text, ' '))::INT      AS ws_tokens,
       ceil(length(text) / 4.0)::BIGINT       AS subword_est
FROM documents
"""

ORACLES["text_fingerprint"] = """
SELECT doc_id,
       md5(lower(trim(text))) AS fp_md5,
       ('0x' || substr(md5(lower(trim(text))), 1, 15))::UBIGINT::BIGINT AS fp_60bit
FROM documents
"""

ORACLES["multimodal_features"] = """
SELECT doc_id,
       'application/octet-stream'        AS media_type,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text)                      AS sha_hex
FROM documents
"""

# ---------------------------------------------------------------------------
# Span-native queries over the committed fixture (FIXTURES.md §1).
# DuckDB reads the parquet by path; predicates use the parallel-array
# layout (ra_keys/ra_values/sa_keys/sa_values) — the reference's
# physical shape — so the independent-arrays semantics (P6/P7,
# api/service.go:744-771) are expressed literally.
# ---------------------------------------------------------------------------

_SPANS = f"'{DEFAULT_SPANS_PATH}'"

ORACLES["spans_slowest_traces"] = f"""
SELECT trace_id, name, scope_name,
       round(duration_ns / 1000000.0, 6) AS duration_ms,
       start_time_unix_nano
FROM {_SPANS}
WHERE parent_span_id = ''
ORDER BY duration_ms DESC, start_time_unix_nano DESC, trace_id ASC
LIMIT 20
"""

ORACLES["spans_endpoint_latency"] = f"""
SELECT name,
       count(*)                                        AS call_count,
       round(avg(duration_ns / 1000000.0), 6)          AS avg_ms,
       round(min(duration_ns / 1000000.0), 6)          AS min_ms,
       round(max(duration_ns / 1000000.0), 6)          AS max_ms,
       quantile_cont(duration_ns / 1000000.0, 0.5)  AS p50_ms,
       quantile_cont(duration_ns / 1000000.0, 0.95) AS p95_ms,
       quantile_cont(duration_ns / 1000000.0, 0.99) AS p99_ms
FROM {_SPANS}
GROUP BY name
"""

ORACLES["spans_service_dependency"] = f"""
SELECT s1.scope_name AS parent_service,
       s2.scope_name AS child_service,
       count(*)      AS call_count
FROM {_SPANS} s1
JOIN {_SPANS} s2 ON s1.span_id = s2.parent_span_id
WHERE s2.parent_span_id != ''
  AND s1.scope_name != s2.scope_name
GROUP BY s1.scope_name, s2.scope_name
"""

ORACLES["spans_error_traces"] = f"""
SELECT trace_id,
       count(*) AS span_count,
       sum(CASE WHEN len(list_filter(events, e -> e.name = 'exception')) > 0
                THEN 1 ELSE 0 END)::BIGINT AS error_spans,
       round(max(duration_ns / 1000000.0), 6) AS max_duration_ms
FROM {_SPANS}
GROUP BY trace_id
HAVING sum(CASE WHEN len(list_filter(events, e -> e.name = 'exception')) > 0
               THEN 1 ELSE 0 END) > 0
"""

ORACLES["spans_attr_negation"] = f"""
SELECT span_id, trace_id, name
FROM {_SPANS}
WHERE NOT list_contains(sa_keys, 'db.system')
   OR (list_contains(sa_keys, 'db.system')
       AND NOT list_contains(sa_values, 'postgres'))
"""

ORACLES["spans_attr_pair"] = f"""
SELECT span_id, scope_name
FROM {_SPANS}
WHERE list_contains(ra_keys, 'env') AND list_contains(ra_values, 'prod')
"""

ORACLES["spans_search_page"] = f"""
SELECT trace_id, span_id, parent_span_id, name, scope_name,
       start_time_unix_nano,
       round(duration_ns / 1000000.0, 6) AS duration_ms,
       len(list_filter(events, e -> e.name = 'exception')) > 0 AS has_error
FROM {_SPANS}
WHERE scope_name = 'svc-api'
  AND list_contains(ra_keys, 'env') AND list_contains(ra_values, 'prod')
  AND parent_span_id = ''
ORDER BY start_time_unix_nano DESC, span_id ASC
LIMIT 15 OFFSET 0
"""

ORACLES["spans_trace_details"] = f"""
SELECT trace_id, span_id, parent_span_id, name, scope_name,
       start_time_unix_nano,
       round(duration_ns / 1000000.0, 6) AS duration_ms,
       len(list_filter(events, e -> e.name = 'exception')) > 0 AS has_error
FROM {_SPANS}
WHERE trace_id = 'tr0007'
ORDER BY start_time_unix_nano, span_id
"""

ORACLES["spans_distinct_services"] = f"""
SELECT DISTINCT ra_values[list_position(ra_keys, 'service.name')] AS service_name
FROM {_SPANS}
WHERE list_contains(ra_keys, 'service.name')
"""

ORACLES["spans_hourly_heatmap"] = f"""
SELECT date_trunc('hour', make_timestamp(start_time_unix_nano // 1000)) AS bucket,
       count(*) AS n,
       round(avg(duration_ns / 1000000.0), 6) AS avg_duration_ms
FROM {_SPANS}
GROUP BY 1
ORDER BY bucket
LIMIT 24
"""

ORACLES["spans_slow_vs_baseline"] = f"""
WITH p AS (
  SELECT name, quantile_cont(duration_ns / 1000000.0, 0.95) AS p95_ms
  FROM {_SPANS} GROUP BY name
)
SELECT s.span_id, s.name, s.scope_name,
       round(s.duration_ns / 1000000.0, 6) AS duration_ms,
       p.p95_ms,
       round((s.duration_ns / 1000000.0 - p.p95_ms) / p.p95_ms * 100.0, 6)
         AS pct_over
FROM {_SPANS} s JOIN p USING (name)
WHERE s.duration_ns / 1000000.0 > p.p95_ms
"""

ORACLES["spans_service_issues"] = f"""
WITH a AS (
  SELECT scope_name, avg(duration_ns) AS avg_ns FROM {_SPANS} GROUP BY scope_name
)
SELECT s.scope_name AS service,
       count(*) AS total_spans,
       sum(CASE WHEN s.duration_ns > 2 * a.avg_ns THEN 1 ELSE 0 END)::BIGINT
         AS issue_count,
       round(sum(CASE WHEN s.duration_ns > 2 * a.avg_ns THEN 1 ELSE 0 END)
             / count(*) * 100.0, 6) AS issue_rate
FROM {_SPANS} s JOIN a USING (scope_name)
GROUP BY s.scope_name
"""

ORACLES["sessionization"] = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER w) // 1000000) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seq AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
  FROM s
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       min(ts)  AS session_start,
       max(ts)  AS session_end,
       ((epoch_us(max(ts)) // 1000000) - (epoch_us(min(ts)) // 1000000)) AS duration_secs
FROM seq
GROUP BY user_id, session_seq
"""

ORACLES["topk_per_group"] = """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC)::INT AS rank
  FROM events
) WHERE rank <= 3
"""

ORACLES["cube_pricing"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)                  AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

ORACLES["distinct_customers_by_priority"] = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*)                  AS n_orders
FROM orders
GROUP BY o_orderpriority
"""

ORACLES["asof_join_orders"] = """
SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS matched_date
FROM events e
ASOF JOIN orders o
  ON e.user_id = o.o_custkey % 150 AND e.ts >= o.o_orderdate
"""

ORACLES["pivot_status_price"] = """
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
FROM orders
GROUP BY o_orderpriority
"""

ORACLES["range_join_events"] = """
WITH e AS (SELECT event_id AS err_id, ts AS err_ts FROM events WHERE event_type = 'error'),
     p AS (SELECT event_id AS pur_id, ts AS pur_ts FROM events WHERE event_type = 'purchase')
SELECT e.err_id,
       count(*)       AS n_nearby,
       min(p.pur_id)  AS first_pur_id
FROM e JOIN p
  ON abs(epoch_us(e.err_ts) - epoch_us(p.pur_ts)) <= 60 * 1000000
GROUP BY e.err_id
"""

ORACLES["spans_search_sorted"] = f"""
SELECT trace_id, span_id, parent_span_id, name, scope_name,
       start_time_unix_nano,
       round(duration_ns / 1000000.0, 6) AS duration_ms,
       len(list_filter(events, e -> e.name = 'exception')) > 0 AS has_error
FROM {_SPANS}
WHERE name = 'GET /api/v1/users' AND parent_span_id != ''
ORDER BY duration_ms ASC, span_id ASC
LIMIT 10 OFFSET 10
"""

ORACLES["spans_search_timerange"] = f"""
SELECT trace_id, span_id, parent_span_id, name, scope_name,
       start_time_unix_nano,
       round(duration_ns / 1000000.0, 6) AS duration_ms,
       len(list_filter(events, e -> e.name = 'exception')) > 0 AS has_error
FROM {_SPANS}
WHERE (name = 'svc-db' OR scope_name = 'svc-db'
       OR trace_id = 'svc-db' OR span_id = 'svc-db'
       OR list_contains(sa_keys, 'svc-db') OR list_contains(sa_values, 'svc-db')
       OR list_contains(ra_keys, 'svc-db') OR list_contains(ra_values, 'svc-db'))
  AND parent_span_id = ''
  AND start_time_unix_nano >= 1706745600000000000
  AND end_time_unix_nano <= 1706752800000000000
ORDER BY start_time_unix_nano ASC, span_id ASC
LIMIT 50 OFFSET 0
"""

ORACLES["spans_search_metrics"] = f"""
WITH buckets AS (
  SELECT unnest(generate_series(1706745600, 1706745600 + 4*3600 - 1, 960))
           AS bucket_epoch
),
agg AS (
  SELECT
    (start_time_unix_nano // 1000000000)
      - (start_time_unix_nano // 1000000000) % 960 AS bucket_epoch,
    quantile_cont(duration_ns / 1000000.0, 0.95)   AS p95_ms,
    count(*)                                       AS n,
    round(avg(duration_ns / 1000000.0), 6)         AS avg_ms
  FROM {_SPANS}
  WHERE scope_name = 'svc-api'
    AND start_time_unix_nano >= 1706745600000000000
    AND start_time_unix_nano <  1706760000000000000
  GROUP BY 1
)
SELECT b.bucket_epoch,
       COALESCE(a.p95_ms, 0.0) AS p95_ms,
       COALESCE(a.n, 0)::BIGINT AS n,
       COALESCE(a.avg_ms, 0.0) AS avg_ms
FROM buckets b LEFT JOIN agg a ON b.bucket_epoch = a.bucket_epoch
ORDER BY b.bucket_epoch
"""

ORACLES["spans_trace_waterfall"] = f"""
SELECT trace_id,
       count(*) AS span_count,
       round(sum(duration_ns / 1000000.0), 6) AS total_ms,
       string_agg(span_id, ',' ORDER BY start_time_unix_nano, span_id) AS span_sequence
FROM {_SPANS}
GROUP BY trace_id
"""

ORACLES["sql_top_revenue_brands"] = """
SELECT p.p_brand,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY revenue DESC, p.p_brand ASC
LIMIT 10
"""

ORACLES["sql_segment_order_stats"] = """
SELECT c.c_mktsegment,
       count(DISTINCT c.c_custkey) AS n_customers,
       count(o.o_orderkey)         AS n_orders,
       round(avg(o.o_totalprice), 6) AS avg_order_price
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""

ORACLES["customers_without_orders"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""

ORACLES["segments_with_big_orders"] = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
GROUP BY c_mktsegment
"""

ORACLES["order_coverage_left_join"] = """
SELECT c.c_mktsegment,
       count(*) AS n_rows,
       sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_orderless_rows
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""

ORACLES["running_user_value"] = """
SELECT user_id, event_id, ts,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events
WHERE user_id = 7
"""

ORACLES["unpivot_status_price"] = """
SELECT o_orderpriority, o_orderstatus,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY o_orderpriority, o_orderstatus
"""

ORACLES["text_tfidf_top_terms"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, rank, score FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC)::INT AS rank
  FROM scored
) WHERE rank <= 3
"""

ORACLES["sample_hash"] = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '199a'
"""

ORACLES["sample_stratified"] = """
SELECT doc_id, lang, n_chars, pr FROM (
  SELECT doc_id, lang, n_chars,
         round(percent_rank() OVER (PARTITION BY lang
                                    ORDER BY n_chars DESC, doc_id ASC), 6) AS pr
  FROM documents
) WHERE pr <= 0.25
"""

ORACLES["text_normalize"] = """
SELECT doc_id, norm_text, len(string_split(norm_text, ' '))::INT AS n_tokens
FROM (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM documents
)
"""

ORACLES["dedup_components"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
)
SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src
"""

ORACLES["event_funnel"] = """
WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT v.user_id, min(e.ts) AS t1 FROM v JOIN events e
      ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL 24 HOURS
      GROUP BY v.user_id),
p AS (SELECT c.user_id, min(e.ts) AS t2 FROM c JOIN events e
      ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL 24 HOURS
      GROUP BY c.user_id)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round((SELECT count(*) FROM p) / (SELECT count(*) FROM v), 6) AS conv_rate
"""

ORACLES["dedup_pipeline"] = """
WITH RECURSIVE
ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
sdocs AS (SELECT d.doc_id, d.text, d.lang, d.source
          FROM documents d JOIN ex USING (doc_id)),
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM sdocs),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t
  WHERE len(w) >= 3
),
exx AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM exx a JOIN exx b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz x ON inter.doc_a = x.doc_id
  JOIN sz y ON inter.doc_b = y.doc_id
  WHERE round(i / (x.sz + y.sz - i), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
removed AS (
  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(node) < src
)
SELECT s.doc_id, s.lang, s.source FROM sdocs s
WHERE s.doc_id NOT IN (SELECT doc_id FROM removed)
"""

ORACLES["corpus_length_stats"] = """
SELECT source,
       count(*)                        AS n_docs,
       round(avg(n_chars), 6)          AS avg_chars,
       quantile_cont(n_chars, 0.5)     AS p50_chars,
       quantile_cont(n_chars, 0.95)    AS p95_chars,
       quantile_cont(n_chars, 0.99)    AS p99_chars,
       sum(n_chars)::BIGINT            AS total_chars
FROM documents
GROUP BY source
"""

ORACLES["skew_salted_value_by_user"] = """
SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value
FROM events
GROUP BY user_id
"""

ORACLES["props_json_stats"] = """
SELECT event_type,
       count(k)            AS n_with_k,
       round(avg(k), 6)    AS avg_k,
       min(k)              AS min_k,
       max(k)              AS max_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""

ORACLES["sample_weighted"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT / 65536.0
      < least(n_chars / 200.0, 1.0)
"""

ORACLES["sample_capped_per_source"] = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT / 65536.0 ASC,
                    doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 15
"""

ORACLES["pack_chunks"] = """
SELECT doc_id, source,
       n_tokens,
       (cum - n_tokens)::BIGINT                  AS start_offset,
       floor((cum - n_tokens) / 512)::BIGINT     AS chunk_id
FROM (
  SELECT doc_id, source,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         sum(len(string_split(text, ' '))::BIGINT) OVER (
           PARTITION BY source ORDER BY doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM documents
)
"""

ORACLES["embedding_centroids"] = """
SELECT label, i::INT AS dim,
       round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid_v,
       count(*) AS n
FROM embeddings, (SELECT unnest(range(0, 64)) AS i)
GROUP BY label, i
"""

ORACLES["pii_redaction"] = r"""
WITH planted AS (
  SELECT doc_id,
         text || CASE doc_id % 4
           WHEN 0 THEN ' contact user' || doc_id || '@example.com'
           WHEN 1 THEN ' call 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
           WHEN 2 THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
           ELSE ' host 10.0.' || (doc_id % 256)::VARCHAR || '.7'
         END AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted,
  len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::INT AS n_email,
  len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))::INT AS n_ssn,
  len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))::INT AS n_phone,
  len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::INT AS n_ipv4,
  (n_email + n_ssn + n_phone + n_ipv4)::INT AS n_pii
FROM planted
"""

ORACLES["text_repetition"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
  CASE WHEN len(toks) >= 2 THEN round(
    1 - len(list_distinct([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]))::DOUBLE
        / (len(toks) - 1), 6) ELSE 0.0 END AS dup2_ratio,
  CASE WHEN len(toks) >= 3 THEN round(
    1 - len(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)]))::DOUBLE
        / (len(toks) - 2), 6) ELSE 0.0 END AS dup3_ratio
FROM t
"""

ORACLES["bucketed_revenue_join"] = """
SELECT o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

ORACLES["dedup_incremental"] = """
WITH batch AS (SELECT * FROM documents WHERE doc_id % 10 < 2),
corpus AS (SELECT * FROM documents WHERE doc_id % 10 >= 2),
exact AS (
  SELECT b.doc_id, min(c.doc_id) AS exact_id
  FROM batch b JOIN corpus c ON sha256(b.text) = sha256(c.text)
  GROUP BY b.doc_id
),
bsh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM batch)
  WHERE len(w) >= 3
),
csh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
  WHERE len(w) >= 3
),
bex AS (SELECT doc_id, unnest(s) AS g FROM bsh),
cex AS (SELECT doc_id, unnest(s) AS g FROM csh),
inter AS (
  SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS i
  FROM bex b JOIN cex c ON b.g = c.g
  GROUP BY 1, 2
),
near AS (
  SELECT bid AS doc_id, min(cid) AS near_id
  FROM inter
  JOIN (SELECT doc_id, len(s) AS bsz FROM bsh) x ON inter.bid = x.doc_id
  JOIN (SELECT doc_id, len(s) AS csz FROM csh) y ON inter.cid = y.doc_id
  WHERE round(i / (bsz + csz - i), 6) >= 0.5
  GROUP BY bid
)
SELECT b.doc_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 'dup_exact'
            WHEN n.near_id IS NOT NULL THEN 'dup_near'
            ELSE 'kept' END AS status,
       coalesce(e.exact_id, n.near_id) AS match_id
FROM batch b
LEFT JOIN exact e ON b.doc_id = e.doc_id
LEFT JOIN near n ON b.doc_id = n.doc_id
"""

ORACLES["zorder_pruning_stats"] = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
WHERE user_id BETWEEN 100 AND 300 AND value BETWEEN 10.0 AND 50.0
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["profile_orders"] = """
SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
       count(*) - count(o_orderkey) AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       min(o_orderkey)::VARCHAR AS min_value, max(o_orderkey)::VARCHAR AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
       count(DISTINCT o_custkey),
       min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority),
       min(o_orderpriority)::VARCHAR, max(o_orderpriority)::VARCHAR
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice),
       min(o_totalprice)::VARCHAR, max(o_totalprice)::VARCHAR
FROM orders
"""

ORACLES["sliding_window_counts"] = """
WITH e AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS b, value FROM events
)
SELECT (b - k.k * INTERVAL '15 minutes')::TIMESTAMP AS window_start,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
GROUP BY 1
ORDER BY 1
"""

ORACLES["sql_grouping_sets_revenue"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""

ORACLES["curate_corpus"] = f"""
WITH RECURSIVE
t0 AS (SELECT doc_id, text, lang, source, string_split(text, ' ') AS w
       FROM documents),
q AS (
  SELECT doc_id FROM t0
  WHERE round(least(len(w) / 100.0, 1.0) * 0.5
        + least(len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x))) / 5.0,
                1.0) * 0.5, 6) >= 0.6
),
ls AS (
  SELECT doc_id,
    len(list_filter(w, x -> list_contains(['the','a','is','of','and'], x)))::INT  AS score_en,
    len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], x)))::INT AS score_de,
    len(list_filter(w, x -> list_contains(['el','los','es','y','que'], x)))::INT  AS score_es,
    len(list_filter(w, x -> list_contains(['le','les','est','et','une'], x)))::INT AS score_fr
  FROM t0
),
en AS (
  SELECT doc_id FROM ls
  WHERE NOT (score_en = 0 AND score_de = 0 AND score_es = 0 AND score_fr = 0)
    AND score_en >= score_de AND score_en >= score_es AND score_en >= score_fr
),
kept AS (
  SELECT d.doc_id, d.text, d.lang, d.source FROM documents d
  JOIN q USING (doc_id) JOIN en USING (doc_id)
),
ex AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
sdocs AS (SELECT k.* FROM kept k JOIN ex USING (doc_id)),
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM sdocs),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t
  WHERE len(w) >= 3
),
exx AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM exx a JOIN exx b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz x ON inter.doc_a = x.doc_id
  JOIN sz y ON inter.doc_b = y.doc_id
  WHERE round(i / (x.sz + y.sz - i), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
removed AS (
  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(node) < src
)
SELECT s.doc_id, s.lang, s.source FROM sdocs s
WHERE s.doc_id NOT IN (SELECT doc_id FROM removed)
  AND substr(md5(s.doc_id::VARCHAR), 1, 4) < '199a'
"""

ORACLES["corpus_split"] = """
SELECT doc_id, lang, source,
  CASE
    WHEN u < 62259 THEN 'train'
    WHEN u < 62259 + 1638 THEN 'val'
    ELSE 'test'
  END AS split
FROM (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT::INT AS u
  FROM documents
)
"""

ORACLES["vocab_top_terms"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
stats AS (
  SELECT term, count(*) AS term_count, count(DISTINCT doc_id) AS doc_freq
  FROM toks GROUP BY term
)
SELECT row_number() OVER (ORDER BY term_count DESC, term ASC)::INT AS rank,
       term, term_count, doc_freq
FROM stats
WHERE term_count >= 2
ORDER BY term_count DESC, term ASC
LIMIT 500
"""

ORACLES["embedding_quantize"] = """
SELECT vec_id,
       round(scale, 9) AS scale,
       list_min(q) AS q_min,
       list_max(q) AS q_max,
       list_sum(list_transform(q, x -> abs(x)))::BIGINT AS q_l1
FROM (
  SELECT vec_id,
         scale,
         list_transform(v, x -> floor(x / scale)::INT) AS q
  FROM (
    SELECT vec_id, v,
           CASE WHEN maxabs > 0 THEN maxabs / 127.0 ELSE 1.0 END AS scale
    FROM (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS v,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS maxabs
      FROM embeddings
    )
  )
)
"""

ORACLES["latest_event_per_user"] = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""

ORACLES["continuous_aggregate"] = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       count(*) AS n,
       round(sum(value::DECIMAL(28,6)), 4)::DOUBLE AS sum_value,
       round(sum(value::DECIMAL(28,6)) / count(*), 6)::DOUBLE AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY 1, 2
"""

ORACLES["text_search_and"] = """
WITH postings AS (
  SELECT term, doc, count(*) AS tf FROM (
    SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) GROUP BY term, doc
)
SELECT doc, sum(tf)::BIGINT AS score
FROM postings
WHERE term IN ('join', 'hash', 'vector')
GROUP BY doc
HAVING count(DISTINCT term) = 3
ORDER BY score DESC, doc ASC
LIMIT 20
"""

ORACLES["pagerank_trade"] = """
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
w_edges AS (
  SELECT src, dst, 1.0 / cnt AS w FROM edges
  JOIN (SELECT src AS s2, count(*)::DOUBLE AS cnt FROM edges GROUP BY src) d ON src = s2
),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
r1 AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * coalesce(sum(r0.rank * w_edges.w), 0.0) AS rank
  FROM nodes
  LEFT JOIN w_edges ON w_edges.dst = nodes.node
  LEFT JOIN r0 ON r0.node = w_edges.src
  GROUP BY nodes.node
),
r2 AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * coalesce(sum(r1.rank * w_edges.w), 0.0) AS rank
  FROM nodes
  LEFT JOIN w_edges ON w_edges.dst = nodes.node
  LEFT JOIN r1 ON r1.node = w_edges.src
  GROUP BY nodes.node
),
r3 AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * coalesce(sum(r2.rank * w_edges.w), 0.0) AS rank
  FROM nodes
  LEFT JOIN w_edges ON w_edges.dst = nodes.node
  LEFT JOIN r2 ON r2.node = w_edges.src
  GROUP BY nodes.node
),
r4 AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * coalesce(sum(r3.rank * w_edges.w), 0.0) AS rank
  FROM nodes
  LEFT JOIN w_edges ON w_edges.dst = nodes.node
  LEFT JOIN r3 ON r3.node = w_edges.src
  GROUP BY nodes.node
),
r5 AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * coalesce(sum(r4.rank * w_edges.w), 0.0) AS rank
  FROM nodes
  LEFT JOIN w_edges ON w_edges.dst = nodes.node
  LEFT JOIN r4 ON r4.node = w_edges.src
  GROUP BY nodes.node
)
SELECT node AS nationkey, round(rank, 6) AS rank FROM r5
"""

ORACLES["chunk_documents"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0, greatest(1, ceil((n - 100) / 80.0)::INT + 1) - 1)) AS chunk_idx
  FROM toks
)
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       len(list_slice(t, chunk_idx * 80 + 1, chunk_idx * 80 + 100)) AS n_chunk_tokens,
       array_to_string(list_slice(t, chunk_idx * 80 + 1, chunk_idx * 80 + 100), ' ') AS chunk_text
FROM idx
"""

ORACLES["user_event_deltas"] = """
SELECT user_id, event_id,
       round(epoch_us(ts - lag(ts) OVER w) / 1000000.0, 6) AS gap_s,
       round(value - lag(value) OVER w, 6) AS value_delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

ORACLES["order_value_deciles"] = """
SELECT decile, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(avg(o_totalprice), 4) AS avg_price
FROM (
  SELECT o_orderkey, o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY decile
"""

ORACLES["rolling_user_value"] = """
SELECT user_id, ts,
       count(*) OVER w AS n_trailing,
       round(sum(value) OVER w, 4) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""

ORACLES["value_outliers"] = """
SELECT event_id, event_type, value,
       round((value - mu) / sd, 6) AS zscore
FROM (
  SELECT event_id, event_type, value,
         avg(value) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(value) OVER (PARTITION BY event_type) AS sd
  FROM events
)
WHERE sd > 0 AND abs(round((value - mu) / sd, 6)) > 2.5
"""

ORACLES["price_histogram"] = """
WITH bounds AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
bucketed AS (
  SELECT least(floor((o_totalprice - lo) / ((hi - lo) / 20))::INT + 1, 20) AS bucket,
         lo, hi
  FROM orders, bounds
)
SELECT bucket,
       round(lo + (bucket - 1) * (hi - lo) / 20, 4) AS bucket_lo,
       round(lo + bucket * (hi - lo) / 20, 4) AS bucket_hi,
       count(*) AS n
FROM bucketed
GROUP BY 1, 2, 3
"""

ORACLES["lineitem_correlations"] = """
SELECT col_a, col_b, corr FROM (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
         round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_discount',
         round(corr(l_quantity, l_discount), 6) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_discount',
         round(corr(l_extendedprice, l_discount), 6) FROM lineitem
)
"""

ORACLES["text_search_bm25"] = """
WITH postings AS (
  SELECT term, doc, count(*) AS tf FROM (
    SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) GROUP BY term, doc
),
doc_lens AS (
  SELECT doc_id AS doc, len(string_split(text, ' ')) AS dl FROM documents
),
consts AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doc_lens),
matched AS (
  SELECT p.doc, p.tf, l.dl,
         count(*) OVER (PARTITION BY p.term) AS df
  FROM postings p JOIN doc_lens l ON p.doc = l.doc
  WHERE p.term IN ('join', 'hash', 'vector')
)
SELECT doc,
       round(sum(
         ln(1.0 + (c.n - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / c.avgdl))
       ), 6) AS score
FROM matched, consts c
GROUP BY doc
ORDER BY score DESC, doc ASC
LIMIT 20
"""

ORACLES["fuzzy_prefix_pairs"] = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS edit_dist
FROM documents a JOIN documents b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 12
"""

ORACLES["cohort_retention"] = """
WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
first AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT f.cohort_day, date_diff('day', f.cohort_day, e.day) AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM ev e JOIN first f ON e.user_id = f.user_id
GROUP BY 1, 2
"""

ORACLES["hourly_latency_percentiles"] = """
SELECT date_trunc('hour', ts) AS bucket,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY 1
"""

ORACLES["embedding_gram"] = """
WITH el AS (
  SELECT unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS i,
         vec_id
  FROM embeddings
)
SELECT a.i, b.i AS j, round(sum(a.x::DOUBLE * b.x::DOUBLE), 6) AS g
FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""

_DIFF_BASE = """
WITH new AS (
  SELECT o_orderkey, o_totalprice + (CASE WHEN o_orderkey % 31 = 0 THEN 1.0 ELSE 0 END) AS o_totalprice,
         o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 97 != 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 113 = 0
),
classified AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE
           WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.o_totalprice != n.o_totalprice
             OR o.o_orderstatus != n.o_orderstatus
             OR o.o_orderpriority != n.o_orderpriority THEN 'changed'
           ELSE 'unchanged'
         END AS status
  FROM orders o FULL OUTER JOIN new n USING (o_orderkey)
)
"""

ORACLES["orders_snapshot_diff"] = _DIFF_BASE + "SELECT o_orderkey, status FROM classified"

ORACLES["orders_diff_summary"] = (
    _DIFF_BASE + "SELECT status, count(*) AS n FROM classified GROUP BY status"
)

ORACLES["shipping_priority"] = """
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'AUTOMOBILE'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

ORACLES["local_supplier_volume"] = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY 1
"""

ORACLES["image_thumbnails"] = """
SELECT doc_id,
       8 AS width, 6 AS height, 4 AS thumb_w, 3 AS thumb_h,
       ((doc_id * 11 + 5) % 256)::DOUBLE AS thumb_mean
FROM documents
"""

ORACLES["weekly_revenue_wow"] = """
WITH weekly AS (
  SELECT date_trunc('week', o_orderdate)::DATE AS week, o_orderpriority,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1, 2
)
SELECT week, o_orderpriority, revenue,
       round(revenue - lag(revenue) OVER (PARTITION BY o_orderpriority ORDER BY week), 2) AS wow_delta
FROM weekly
"""

ORACLES["event_transitions"] = """
SELECT from_type, to_type, count(*) AS n FROM (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
)
WHERE from_type IS NOT NULL
GROUP BY 1, 2
"""

ORACLES["hybrid_search_rrf"] = """
WITH postings AS (
  SELECT term, doc, count(*) AS tf FROM (
    SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) GROUP BY term, doc
),
doc_lens AS (
  SELECT doc_id AS doc, len(string_split(text, ' ')) AS dl FROM documents
),
consts AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doc_lens),
matched AS (
  SELECT p.doc, p.tf, l.dl,
         count(*) OVER (PARTITION BY p.term) AS df
  FROM postings p JOIN doc_lens l ON p.doc = l.doc
  WHERE p.term IN ('join', 'hash', 'vector')
),
bm25 AS (
  SELECT doc,
         round(sum(
           ln(1.0 + (c.n - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / c.avgdl))
         ), 6) AS score
  FROM matched, consts c
  GROUP BY doc
  ORDER BY score DESC, doc ASC
  LIMIT 20
),
lex_r AS (
  SELECT doc, row_number() OVER (ORDER BY score DESC, doc ASC) AS rl FROM bm25
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT vec_id AS doc,
         round(
           list_sum(list_transform(list_zip(embedding, qv), p -> p[1]::DOUBLE * p[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))),
         6) AS cos
  FROM embeddings, q
  WHERE vec_id != 0
  ORDER BY cos DESC, vec_id ASC
  LIMIT 20
),
sem_r AS (
  SELECT doc, row_number() OVER (ORDER BY cos DESC, doc ASC) AS rs FROM cos
)
SELECT coalesce(l.doc, s.doc) AS doc,
       round(coalesce(1.0 / (60 + l.rl), 0) + coalesce(1.0 / (60 + s.rs), 0), 6) AS rrf_score
FROM lex_r l FULL OUTER JOIN sem_r s ON l.doc = s.doc
ORDER BY rrf_score DESC, doc ASC
LIMIT 10
"""

ORACLES["daily_event_pivot"] = """
SELECT ts::DATE AS day,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'view') AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'error') AS error
FROM events
GROUP BY 1
"""

ORACLES["dedup_containment"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t
  WHERE len(w) >= 3
),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT ida, idb, i, x.sz AS sa, y.sz AS sb
  FROM inter JOIN sz x ON inter.ida = x.doc_id JOIN sz y ON inter.idb = y.doc_id
),
directed AS (
  SELECT ida AS contained, idb AS container, round(i / sa, 6) AS containment FROM sized
  UNION ALL
  SELECT idb, ida, round(i / sb, 6) FROM sized
)
SELECT * FROM directed WHERE containment >= 0.6
"""

ORACLES["spans_critical_path"] = f"""
WITH RECURSIVE walk AS (
  SELECT trace_id, span_id, duration_ns::DOUBLE AS path
  FROM {_SPANS} WHERE parent_span_id = ''
  UNION ALL
  SELECT s.trace_id, s.span_id, w.path + s.duration_ns
  FROM {_SPANS} s JOIN walk w
    ON s.parent_span_id = w.span_id AND s.trace_id = w.trace_id
)
SELECT trace_id, round(max(path) / 1000000.0, 6) AS critical_ms
FROM walk GROUP BY trace_id
"""

ORACLES["retention_purge"] = """
SELECT event_id, user_id, event_type
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND user_id NOT IN (SELECT DISTINCT user_id FROM events WHERE user_id % 101 = 0)
"""

ORACLES["retention_purge_audit"] = """
SELECT CASE
         WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 'too_old'
         WHEN user_id % 101 = 0 THEN 'erasure'
         ELSE 'kept'
       END AS reason,
       count(*) AS n
FROM events
GROUP BY 1
"""

ORACLES["spans_fanout_stats"] = f"""
WITH fanout AS (
  SELECT p.trace_id, p.span_id, p.scope_name, count(*) AS n
  FROM {_SPANS} p JOIN {_SPANS} c
    ON c.parent_span_id = p.span_id AND c.trace_id = p.trace_id
  WHERE c.parent_span_id != ''
  GROUP BY 1, 2, 3
)
SELECT scope_name, count(*) AS n_parents,
       round(avg(n), 6) AS avg_children, max(n) AS max_children
FROM fanout GROUP BY 1
"""

ORACLES["fk_integrity_audit"] = """
SELECT 'lineitem->orders' AS fk_edge,
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
UNION ALL SELECT 'orders->customer',
       (SELECT count(*) FROM orders o WHERE NOT EXISTS
         (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL SELECT 'customer->nation',
       (SELECT count(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
UNION ALL SELECT 'supplier->nation',
       (SELECT count(*) FROM supplier s WHERE NOT EXISTS
         (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
UNION ALL SELECT 'nation->region',
       (SELECT count(*) FROM nation n WHERE NOT EXISTS
         (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
"""

ORACLES["series_anomalies"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
  FROM hourly GROUP BY 1
)
SELECT h.bucket, h.event_type, h.n,
       round((h.n - m.mu) / m.sd, 6) AS zscore
FROM hourly h JOIN m USING (event_type)
WHERE m.sd > 0 AND abs(round((h.n - m.mu) / m.sd, 6)) > 2
"""

ORACLES["winsorized_values"] = """
WITH b AS (
  SELECT quantile_cont(value, 0.01) AS lo, quantile_cont(value, 0.99) AS hi
  FROM events
)
SELECT event_id, value,
       round(least(greatest(value, lo), hi), 6) AS value_winsorized
FROM events, b
"""

ORACLES["user_features"] = """
WITH m AS (SELECT max(ts) AS maxts FROM events)
SELECT user_id,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       round(sum(value::DECIMAL(28,6)) / count(*), 4) AS avg_value,
       round(max(value), 6) AS max_value,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'error') AS n_error,
       round(epoch_us((SELECT maxts FROM m) - max(ts)) / 1000000.0, 6) AS recency_s
FROM events
GROUP BY user_id
"""

ORACLES["time_to_convert"] = """
SELECT user_id,
       round(epoch_us(p - v) / 3600000000.0, 6) AS hours_to_convert
FROM (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS v,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events GROUP BY user_id
)
WHERE v IS NOT NULL AND p >= v
"""

ORACLES["dedup_rates_by_source"] = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT sha256(text)) AS n_distinct,
       round(1.0 - count(DISTINCT sha256(text)) / count(*), 6) AS dup_rate
FROM documents
GROUP BY source
"""

ORACLES["nation_revenue_share"] = """
WITH per_nation AS (
  SELECT n.n_name, round(sum(o.o_totalprice), 2) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name, revenue,
       round(revenue / (SELECT sum(revenue) FROM per_nation), 6) AS share
FROM per_nation
"""

ORACLES["unigram_fluency_scores"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
doc_tok AS (
  SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2
),
vocab AS (SELECT t, count(*) AS vc FROM toks GROUP BY 1),
total AS (SELECT sum(vc)::DOUBLE AS n FROM vocab)
SELECT doc_id,
       round(sum(c * ln(vc / (SELECT n FROM total))) / sum(c), 6) AS mean_logprob,
       sum(c)::BIGINT AS n_tokens
FROM doc_tok JOIN vocab USING (t)
GROUP BY doc_id
"""

ORACLES["boilerplate_scrub"] = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / 5.0) AS BIGINT) AS n_chunks
  FROM documents
), chunks AS (
  SELECT b.doc_id, t.i AS pos,
         array_to_string(b.w[t.i*5+1 : t.i*5+5], ' ') AS chunk
  FROM base b, LATERAL (SELECT unnest(range(0, b.n_chunks)) AS i) t
), hot AS (
  SELECT md5(chunk) AS h FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) > 2
), kept AS (
  SELECT c.doc_id, c.pos, c.chunk FROM chunks c
  WHERE md5(c.chunk) NOT IN (SELECT h FROM hot)
), rebuilt AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(chunk, ' ' ORDER BY pos) AS clean
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_chunks,
       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
       (b.n_chunks - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
       md5(coalesce(r.clean, '')) AS clean_md5,
       length(coalesce(r.clean, ''))::BIGINT AS n_chars_clean
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""

ORACLES["quality_model_scores"] = """
SELECT doc_id,
  round(1.0 / (1.0 + exp(-( -1.0
    + 2.2 * least(len(w) / 100.0, 1.0)
    + 1.5 * (len(list_filter(w, t -> t IN ('the','a','is','of','and','to','in'))) / CAST(len(w) AS DOUBLE))
    - 0.8 * (length(replace(text, ' ', '')) / CAST(len(w) AS DOUBLE) / 10.0)
    + 1.1 * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
    - 2.0 * ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / CAST(length(text) AS DOUBLE))
  ))), 6) AS model_score,
  CASE
    WHEN round(1.0 / (1.0 + exp(-( -1.0
      + 2.2 * least(len(w) / 100.0, 1.0)
      + 1.5 * (len(list_filter(w, t -> t IN ('the','a','is','of','and','to','in'))) / CAST(len(w) AS DOUBLE))
      - 0.8 * (length(replace(text, ' ', '')) / CAST(len(w) AS DOUBLE) / 10.0)
      + 1.1 * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
      - 2.0 * ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / CAST(length(text) AS DOUBLE))
    ))), 6) >= 0.75 THEN 'high'
    WHEN round(1.0 / (1.0 + exp(-( -1.0
      + 2.2 * least(len(w) / 100.0, 1.0)
      + 1.5 * (len(list_filter(w, t -> t IN ('the','a','is','of','and','to','in'))) / CAST(len(w) AS DOUBLE))
      - 0.8 * (length(replace(text, ' ', '')) / CAST(len(w) AS DOUBLE) / 10.0)
      + 1.1 * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
      - 2.0 * ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / CAST(length(text) AS DOUBLE))
    ))), 6) >= 0.5 THEN 'medium'
    ELSE 'low'
  END AS quality_label
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
"""

ORACLES["token_mixture_plan"] = """
WITH per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(string_split(text, ' ')))::BIGINT AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(pow(tokens, 0.5)) AS raw_total, sum(tokens)::BIGINT AS tok_total
  FROM per_source
)
SELECT p.source, p.n_docs, p.tokens,
       round(pow(p.tokens, 0.5) / t.raw_total, 6) AS share,
       round(least(1.0, 0.5 * t.tok_total * (pow(p.tokens, 0.5) / t.raw_total) / p.tokens), 6) AS rate,
       CAST(floor(round(least(1.0, 0.5 * t.tok_total * (pow(p.tokens, 0.5) / t.raw_total) / p.tokens), 6) * p.tokens) AS BIGINT) AS expected_tokens
FROM per_source p, tot t
"""

ORACLES["sample_token_mixture"] = """
WITH per_source AS (
  SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(pow(tokens, 0.5)) AS raw_total, sum(tokens)::BIGINT AS tok_total
  FROM per_source
), rates AS (
  SELECT p.source,
         round(least(1.0, 0.5 * t.tok_total * (pow(p.tokens, 0.5) / t.raw_total) / p.tokens), 6) AS rate
  FROM per_source p, tot t
)
SELECT d.doc_id, d.source, r.rate
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::UBIGINT / 65536.0 < r.rate
"""

ORACLES["trade_triangles"] = """
WITH e AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS u,
                  greatest(c.c_nationkey, s.s_nationkey) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), nodes AS (
  SELECT u AS n FROM e UNION SELECT v AS n FROM e
), per_node AS (
  SELECT n, count(*)::BIGINT AS t FROM (
    SELECT a AS n FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY n
)
SELECT nodes.n AS nationkey, coalesce(per_node.t, 0)::BIGINT AS triangles
FROM nodes LEFT JOIN per_node ON nodes.n = per_node.n
"""

ORACLES["cms_user_counts"] = """
WITH d AS (SELECT unnest(range(0, 4)) AS row),
cells AS (
  SELECT d.row AS row,
         ('0x' || substr(md5(d.row || ':' || e.user_id::VARCHAR), 1, 8))::UBIGINT % 64 AS col
  FROM events e, d
), sketch AS (
  SELECT row, col, count(*)::BIGINT AS c FROM cells GROUP BY row, col
), keys AS (
  SELECT DISTINCT user_id::VARCHAR AS key FROM events
), probes AS (
  SELECT k.key, d.row AS row,
         ('0x' || substr(md5(d.row || ':' || k.key), 1, 8))::UBIGINT % 64 AS col
  FROM keys k, d
)
SELECT p.key, min(s.c)::BIGINT AS est
FROM probes p JOIN sketch s ON p.row = s.row AND p.col = s.col
GROUP BY p.key
"""

ORACLES["bloom_purchase_users"] = """
WITH d AS (SELECT unnest(range(0, 5)) AS h),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5(d.h || ':' || e.user_id::VARCHAR), 1, 8))::UBIGINT % 256 AS bit
  FROM events e, d WHERE e.event_type = 'purchase' AND e.value > 250
), cand AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events),
probes AS (
  SELECT c.key, ('0x' || substr(md5(d.h || ':' || c.key), 1, 8))::UBIGINT % 256 AS bit
  FROM cand c, d
), hits AS (
  SELECT key, count(*)::BIGINT AS nset FROM probes WHERE bit IN (SELECT bit FROM bits) GROUP BY key
)
SELECT c.key, coalesce(h.nset, 0) = 5 AS may_contain
FROM cand c LEFT JOIN hits h USING (key)
"""

ORACLES["source_kl_drift"] = """
WITH toks AS (
  SELECT source AS g, unnest(string_split(text, ' ')) AS t FROM documents
), gt AS (
  SELECT g, t, count(*)::BIGINT AS c FROM toks GROUP BY g, t
), g_tot AS (SELECT g, sum(c)::BIGINT AS gn FROM gt GROUP BY g),
t_tot AS (SELECT t, sum(c)::BIGINT AS tc FROM gt GROUP BY t),
n AS (SELECT sum(c)::BIGINT AS n FROM gt)
SELECT gt.g AS source,
       round(sum((gt.c / CAST(g_tot.gn AS DOUBLE))
                 * ln((gt.c / CAST(g_tot.gn AS DOUBLE)) / (t_tot.tc / CAST(n.n AS DOUBLE)))), 6) AS kl_divergence,
       sum(gt.c)::BIGINT AS n_tokens
FROM gt JOIN g_tot USING (g) JOIN t_tot USING (t), n
GROUP BY gt.g
"""

ORACLES["pmi_collocations"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pairs AS (
  SELECT w[i] AS x, w[i+1] AS y
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
), xy AS (
  SELECT x, y, count(*)::BIGINT AS cxy FROM pairs GROUP BY x, y
), cx AS (SELECT x, sum(cxy)::BIGINT AS cx FROM xy GROUP BY x),
cy AS (SELECT y, sum(cxy)::BIGINT AS cy FROM xy GROUP BY y),
n AS (SELECT sum(cxy)::BIGINT AS n FROM xy)
SELECT xy.x, xy.y, xy.cxy,
       round(ln(xy.cxy * n.n / (CAST(cx.cx AS DOUBLE) * cy.cy)), 6) AS pmi
FROM xy JOIN cx USING (x) JOIN cy USING (y), n
WHERE xy.cxy >= 5
ORDER BY pmi DESC, x ASC, y ASC
LIMIT 20
"""

ORACLES["bigram_fluency_scores"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), trans AS (
  SELECT doc_id, w[i] AS x, w[i+1] AS y
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
), doc_xy AS (
  SELECT doc_id, x, y, count(*)::BIGINT AS c FROM trans GROUP BY doc_id, x, y
), xy AS (SELECT x, y, sum(c)::BIGINT AS cxy FROM doc_xy GROUP BY x, y),
xdot AS (SELECT x, sum(cxy)::BIGINT AS cx FROM xy GROUP BY x),
uni AS (SELECT y, sum(cxy)::BIGINT AS cy FROM xy GROUP BY y),
n AS (SELECT sum(cxy)::BIGINT AS n FROM xy)
SELECT d.doc_id,
       round(sum(d.c * ln(0.8 * xy.cxy / CAST(xdot.cx AS DOUBLE)
                          + 0.2 * uni.cy / CAST(n.n AS DOUBLE))) / sum(d.c), 6)
         AS mean_bigram_logprob,
       sum(d.c)::BIGINT AS n_transitions
FROM doc_xy d JOIN xy USING (x, y) JOIN xdot USING (x) JOIN uni USING (y), n
GROUP BY d.doc_id
"""

ORACLES["repeated_ngram_docs"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t
), dg AS (
  SELECT doc_id, g, count(*)::BIGINT AS c FROM grams GROUP BY doc_id, g
), gd AS (SELECT g, count(*)::BIGINT AS nd FROM dg GROUP BY g)
SELECT dg.doc_id,
       sum(dg.c)::BIGINT AS n_grams,
       sum(CASE WHEN gd.nd > 1 THEN dg.c ELSE 0 END)::BIGINT AS dup_grams,
       round(sum(CASE WHEN gd.nd > 1 THEN dg.c ELSE 0 END)
             / CAST(sum(dg.c) AS DOUBLE), 6) AS dup_fraction
FROM dg JOIN gd USING (g)
GROUP BY dg.doc_id
"""

ORACLES["text_search_phrase"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), occ AS (
  SELECT doc_id
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
  WHERE w[i] = 'table' AND w[i+1] = 'hash'
)
SELECT doc_id AS doc, count(*)::BIGINT AS n_occurrences
FROM occ GROUP BY doc_id
ORDER BY n_occurrences DESC, doc ASC
LIMIT 50
"""

ORACLES["frequent_part_pairs"] = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), capped AS (
  SELECT basket, item FROM b
  WHERE basket IN (
    SELECT basket FROM b GROUP BY basket HAVING count(*) <= 1000
  )
), kept AS (
  SELECT basket, item FROM capped
  WHERE item IN (SELECT item FROM capped GROUP BY item HAVING count(*) >= 3)
)
SELECT a.item AS item_a, c.item AS item_b, count(*)::BIGINT AS support
FROM kept a JOIN kept c ON a.basket = c.basket AND a.item < c.item
GROUP BY a.item, c.item
HAVING count(*) >= 3
ORDER BY support DESC, item_a ASC, item_b ASC
LIMIT 100
"""

ORACLES["dedup_cluster_stats"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
comp AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src)
SELECT c.component,
       count(*)::BIGINT AS cluster_size,
       count(DISTINCT d.source)::BIGINT AS n_sources,
       sum(d.n_chars)::BIGINT AS total_chars
FROM comp c JOIN documents d USING (doc_id)
GROUP BY c.component
ORDER BY cluster_size DESC, component ASC
"""

ORACLES["sql_cheapest_supplier_per_brand"] = """
SELECT p.p_brand AS brand,
       count(*)::BIGINT AS n_min_price_lines,
       round(min(l.l_extendedprice), 2) AS cheapest_line
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_extendedprice = (
    SELECT min(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
)
GROUP BY p.p_brand
ORDER BY brand
"""

ORACLES["sql_promo_revenue_share"] = """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'ECONOMY'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)), 6
       ) AS promo_share_pct,
       count(*)::BIGINT AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
"""

ORACLES["data_quality_report"] = """
WITH m AS (
  SELECT count(*)::DOUBLE AS n,
         coalesce(avg(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END), 0.0) AS nullfrac,
         count(DISTINCT o_orderkey)::DOUBLE AS uniq,
         coalesce(sum(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 450000.0
                           THEN 1 ELSE 0 END), 0)::DOUBLE AS bad_range,
         coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                           THEN 1 ELSE 0 END), 0)::DOUBLE AS bad_vals
  FROM orders
)
SELECT * FROM (
  SELECT 'not_null(o_custkey)' AS rule, round(nullfrac, 6) AS metric,
         nullfrac <= 0.0 AS passed FROM m
  UNION ALL
  SELECT 'unique(o_orderkey)', round(uniq, 6), uniq >= n * 1.0 FROM m
  UNION ALL
  SELECT 'in_range(o_totalprice,0.0,450000.0)', round(bad_range, 6),
         bad_range = 0.0 FROM m
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)', round(bad_vals, 6),
         bad_vals = 0.0 FROM m
  UNION ALL
  SELECT 'min_rows(100)', round(n, 6), n >= 100 FROM m
)
ORDER BY rule
"""

ORACLES["split_leakage_audit"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
s AS (
  SELECT doc_id,
         CASE
           WHEN u < 62259 THEN 'train'
           WHEN u < 62259 + 1638 THEN 'val'
           ELSE 'test'
         END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT::INT AS u
    FROM documents
  )
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*)::BIGINT AS n_dup_pairs
FROM pairs p
JOIN s sa ON p.doc_a = sa.doc_id
JOIN s sb ON p.doc_b = sb.doc_id
GROUP BY 1, 2
ORDER BY split_a, split_b
"""

ORACLES["value_trends"] = """
WITH e AS (
  SELECT event_type,
         epoch(ts) - 1704067200.0 AS x,
         CAST(value AS DOUBLE) AS y
  FROM events
)
SELECT event_type,
       round(regr_slope(y, x) * 86400, 6) AS slope_per_day,
       round(regr_r2(y, x), 6) AS r2,
       count(*)::BIGINT AS n
FROM e
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["approx_revenue_estimate"] = """
WITH s AS (
  SELECT sum(l_extendedprice * (1 - l_discount)) * (65536.0 / 6554) AS est
  FROM lineitem
  WHERE substr(md5(l_orderkey::VARCHAR), 1, 4) < '199a'
), t AS (
  SELECT sum(l_extendedprice * (1 - l_discount)) AS tru FROM lineitem
)
SELECT round(s.est, 2) AS estimated_revenue,
       round(t.tru, 2) AS true_revenue,
       round(abs(s.est - t.tru) / t.tru, 6) AS rel_error
FROM s, t
"""

ORACLES["trade_reach_hops"] = """
WITH RECURSIVE pair_rev AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
), topk AS (
  SELECT src, dst FROM pair_rev
  ORDER BY rev DESC, src ASC, dst ASC
  LIMIT 150
), hops(node, hop) AS (
  -- UNION (distinct), not UNION ALL: recursion over distinct
  -- (node, hop) rows stays <= |V| x 25; ALL would enumerate every
  -- PATH, exponential in a denser graph
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT t.dst, h.hop + 1
  FROM hops h JOIN topk t ON t.src = h.node
  WHERE h.hop < 25
)
SELECT node AS nationkey, min(hop)::INT AS hop
FROM hops
GROUP BY node
ORDER BY hop, nationkey
"""

ORACLES["spans_concurrency"] = f"""
WITH ev AS (
  SELECT trace_id, start_time_unix_nano AS t, 1 AS d FROM {_SPANS}
  UNION ALL
  SELECT trace_id, end_time_unix_nano, -1 FROM {_SPANS}
), r AS (
  SELECT trace_id,
         sum(d) OVER (PARTITION BY trace_id ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM ev
)
SELECT trace_id, max(c)::BIGINT AS max_concurrent
FROM r
GROUP BY trace_id
ORDER BY max_concurrent DESC, trace_id ASC
LIMIT 50
"""

ORACLES["spans_self_time"] = f"""
WITH parents AS (
  SELECT trace_id AS t_id, span_id AS p_id, name,
         start_time_unix_nano AS ps, end_time_unix_nano AS pe
  FROM {_SPANS}
), children AS (
  SELECT trace_id AS t_id, parent_span_id AS p_id,
         start_time_unix_nano AS cs, end_time_unix_nano AS ce
  FROM {_SPANS} WHERE parent_span_id <> ''
), clamped AS (
  SELECT p.t_id, p.p_id,
         greatest(c.cs, p.ps) AS s, least(c.ce, p.pe) AS e
  FROM parents p JOIN children c ON p.t_id = c.t_id AND p.p_id = c.p_id
  WHERE greatest(c.cs, p.ps) < least(c.ce, p.pe)
), ev AS (
  SELECT t_id, p_id, s AS t, 1 AS d FROM clamped
  UNION ALL
  SELECT t_id, p_id, e, -1 FROM clamped
), r AS (
  SELECT t_id, p_id, t,
         sum(d) OVER (PARTITION BY t_id, p_id ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS c,
         lead(t) OVER (PARTITION BY t_id, p_id ORDER BY t, d) AS nt
  FROM ev
), cov AS (
  SELECT t_id, p_id, sum(nt - t) AS covered
  FROM r WHERE c > 0 AND nt IS NOT NULL
  GROUP BY t_id, p_id
)
SELECT p.name,
       round(sum(p.pe - p.ps - coalesce(cov.covered, 0)) / 1e6, 3) AS total_self_ms,
       round(sum(p.pe - p.ps) / 1e6, 3) AS total_ms,
       count(*)::BIGINT AS n_spans
FROM parents p LEFT JOIN cov ON p.t_id = cov.t_id AND p.p_id = cov.p_id
GROUP BY p.name
ORDER BY total_self_ms DESC, name ASC
"""

ORACLES["spans_error_root_cause"] = f"""
WITH err AS (
  SELECT trace_id, span_id, parent_span_id, name
  FROM {_SPANS}
  WHERE len(list_filter(events, e -> e.name = 'exception')) > 0
), culprits AS (
  SELECT e.* FROM err e
  WHERE NOT EXISTS (
    SELECT 1 FROM err c
    WHERE c.trace_id = e.trace_id
      AND c.parent_span_id = e.span_id
      AND c.parent_span_id <> ''
  )
)
SELECT name,
       count(*)::BIGINT AS n_root_causes,
       count(DISTINCT trace_id)::BIGINT AS n_traces
FROM culprits
GROUP BY name
ORDER BY n_root_causes DESC, name ASC
"""

ORACLES["customer_rfm_segments"] = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_d,
         count(*) AS freq,
         sum(o_totalprice) AS spend
  FROM orders GROUP BY o_custkey
), maxd AS (SELECT max(o_orderdate) AS md FROM orders),
rfm AS (
  SELECT o_custkey,
         date_diff('day', last_d, md) AS rec, freq, spend
  FROM per_cust, maxd
), bounds AS (
  SELECT quantile_cont(rec, 1.0/3) AS r1, quantile_cont(rec, 2.0/3) AS r2,
         quantile_cont(freq, 1.0/3) AS f1, quantile_cont(freq, 2.0/3) AS f2,
         quantile_cont(spend, 1.0/3) AS m1, quantile_cont(spend, 2.0/3) AS m2
  FROM rfm
), scored AS (
  SELECT
    4 - (CASE WHEN rec <= r1 THEN 1 WHEN rec <= r2 THEN 2 ELSE 3 END) AS r_score,
    CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2 ELSE 3 END AS f_score,
    CASE WHEN spend <= m1 THEN 1 WHEN spend <= m2 THEN 2 ELSE 3 END AS m_score
  FROM rfm, bounds
)
SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_customers
FROM scored
GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""

ORACLES["top_session_paths"] = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER w) // 1000000) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seq AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM s
), paths AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER w2 AS path,
         lead(event_type, 1) OVER w2 IS NOT NULL AS ok
  FROM seq
  WINDOW w2 AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id)
)
SELECT path, count(*)::BIGINT AS n_occurrences
FROM paths WHERE ok
GROUP BY path
ORDER BY n_occurrences DESC, path ASC
LIMIT 20
"""

# --- TPC-H-shaped SQL surface ---------------------------------------------

ORACLES["sql_small_qty_revenue"] = """
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly_loss,
       count(*) AS n_small_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < 0.2 * (
    SELECT avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)
"""

ORACLES["sql_large_orders"] = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice,
       CAST(big.total_qty AS BIGINT) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300
) big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY total_qty DESC, o.o_orderkey
"""

ORACLES["sql_late_sole_suppliers"] = """
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         datediff('day', o.o_orderdate, l.l_shipdate) AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT s.s_name, l1.l_suppkey AS suppkey,
       count(DISTINCT l1.l_orderkey) AS n_waiting_orders
FROM li l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.lag_days > 365
  AND EXISTS (
    SELECT 1 FROM li l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM li l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.lag_days > 365)
GROUP BY s.s_name, l1.l_suppkey
ORDER BY n_waiting_orders DESC, suppkey
LIMIT 100
"""

ORACLES["sql_dormant_high_balance"] = """
SELECT c.c_nationkey,
       count(*) AS n_customers,
       CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(28,6))), 2)
            AS DOUBLE) AS total_acctbal
FROM customer c
WHERE c.c_acctbal > (
    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
           / count(*)
    FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= (
        SELECT max(o2.o_orderdate) - INTERVAL 365 DAY FROM orders o2))
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""

# --- entity resolution / coverage / embedding health ----------------------

_ER_SCORED_SQL = """
  SELECT p.ia AS id_a, p.ib AS id_b,
         p.inter * 1.0 / (p.na + p.nb - p.inter) AS name_jaccard,
         CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS brand_eq,
         1.0 - least(abs(a.p_size - b.p_size), 10) / 10.0 AS size_sim
  FROM (
    SELECT ta.id AS ia, tb.id AS ib, count(*) AS inter,
           any_value(ta.n) AS na, any_value(tb.n) AS nb
    FROM (SELECT id, unnest(ts) AS tok, len(ts) AS n FROM (
            SELECT p_partkey AS id,
                   list_distinct(string_split_regex(lower(trim(p_name)), '\\s+')) AS ts
            FROM part)) ta
    JOIN (SELECT id, unnest(ts) AS tok, len(ts) AS n FROM (
            SELECT p_partkey AS id,
                   list_distinct(string_split_regex(lower(trim(p_name)), '\\s+')) AS ts
            FROM part)) tb
      ON ta.tok = tb.tok AND ta.id < tb.id
    GROUP BY ta.id, tb.id) p
  JOIN part a ON a.p_partkey = p.ia
  JOIN part b ON b.p_partkey = p.ib
"""

ORACLES["er_part_pairs"] = f"""
WITH scored AS ({_ER_SCORED_SQL})
SELECT id_a, id_b,
       round(name_jaccard, 6) AS name_jaccard,
       brand_eq,
       round(size_sim, 6) AS size_sim,
       round(0.5 * name_jaccard + 0.3 * brand_eq + 0.2 * size_sim, 6) AS score
FROM scored
WHERE 0.5 * name_jaccard + 0.3 * brand_eq + 0.2 * size_sim >= 0.8
ORDER BY id_a, id_b
"""

ORACLES["er_part_clusters"] = f"""
WITH RECURSIVE scored AS ({_ER_SCORED_SQL}),
matched AS (
  SELECT id_a, id_b FROM scored
  WHERE 0.5 * name_jaccard + 0.3 * brand_eq + 0.2 * size_sim >= 0.9
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM matched
  UNION
  SELECT id_b, id_a FROM matched
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src),
labeled AS (
  SELECT p.p_partkey AS node, coalesce(c.component, p.p_partkey) AS component
  FROM part p LEFT JOIN comp c ON c.src = p.p_partkey
),
sizes AS (SELECT component, count(*) AS cluster_size FROM labeled GROUP BY component)
SELECT cluster_size, count(*) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""

ORACLES["dup_ngram_coverage"] = """
WITH d AS (
  SELECT doc_id, text, length(text) AS len
  FROM documents WHERE length(text) >= 20),
w AS (SELECT doc_id, unnest(generate_series(1, len - 19)) AS pos, text FROM d),
s AS (SELECT doc_id, substr(text, pos, 20) AS sh FROM w),
f AS (SELECT sh, count(DISTINCT doc_id) AS df FROM s GROUP BY sh),
per AS (
  SELECT s.doc_id,
         count(*) AS n_windows,
         sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS dup_windows
  FROM s JOIN f USING (sh) GROUP BY s.doc_id)
SELECT doc_id,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(dup_windows AS BIGINT) AS dup_windows,
       round(dup_windows * 1.0 / n_windows, 6) AS dup_coverage
FROM per ORDER BY doc_id
"""

ORACLES["embedding_norm_stats"] = """
SELECT label,
       count(*) AS n,
       round(avg(norm2), 6) AS avg_norm2,
       round(min(norm2), 6) AS min_norm2,
       round(max(norm2), 6) AS max_norm2
FROM (
  SELECT label,
         list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS norm2
  FROM embeddings)
GROUP BY label ORDER BY label
"""

ORACLES["spans_exemplars"] = f"""
WITH stats AS (
  SELECT name, count(*) AS n_spans,
         quantile_cont(duration_ns, 0.5) AS p50_ns,
         max(duration_ns) AS max_ns
  FROM {_SPANS} GROUP BY name),
ex AS (
  SELECT s.name, min(s.trace_id) AS exemplar_trace
  FROM {_SPANS} s JOIN stats t ON s.name = t.name AND s.duration_ns = t.max_ns
  GROUP BY s.name)
SELECT stats.name, stats.n_spans, stats.p50_ns,
       stats.max_ns,
       ex.exemplar_trace
FROM stats JOIN ex ON stats.name = ex.name
ORDER BY stats.name
"""

ORACLES["spans_error_propagation"] = f"""
WITH sp AS (
  SELECT *, len(list_filter(events, e -> e.name = 'exception')) > 0 AS has_err
  FROM {_SPANS})
SELECT c.scope_name AS service,
       count(*) AS n_child_errors,
       sum(CASE WHEN p.has_err THEN 1 ELSE 0 END)::BIGINT AS n_parent_also_error,
       round(sum(CASE WHEN p.has_err THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS propagation_rate
FROM sp c JOIN sp p ON c.parent_span_id = p.span_id
WHERE c.parent_span_id <> '' AND c.has_err
GROUP BY c.scope_name
ORDER BY c.scope_name
"""

ORACLES["dup_span_chars"] = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n_chars
  FROM documents WHERE length(text) >= 20),
w AS (SELECT doc_id, n_chars, unnest(generate_series(1, n_chars - 19)) AS pos, text FROM d),
s AS (SELECT doc_id, pos, substr(text, pos, 20) AS sh FROM w),
f AS (SELECT sh, count(DISTINCT doc_id) AS df FROM s GROUP BY sh),
dupw AS (
  SELECT s.doc_id, s.pos, s.pos + 19 AS e
  FROM s JOIN f USING (sh) WHERE f.df >= 2),
flagged AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM dupw),
islands AS (
  SELECT doc_id, pos, e,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged),
cov AS (
  SELECT doc_id, island, max(e) - min(pos) + 1 AS covered
  FROM islands GROUP BY doc_id, island),
per AS (SELECT doc_id, sum(covered) AS dup_chars FROM cov GROUP BY doc_id)
SELECT d.doc_id, d.n_chars,
       CAST(coalesce(per.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(coalesce(per.dup_chars, 0) * 1.0 / d.n_chars, 6) AS dup_char_frac
FROM d LEFT JOIN per USING (doc_id)
ORDER BY d.doc_id
"""

ORACLES["ewma_user_value"] = """
WITH base AS (
  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS __v0
  FROM events),
lagged AS (
  SELECT user_id, ts, event_id, __v0,
         lag(__v0, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v1,
         lag(__v0, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v2,
         lag(__v0, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v3,
         lag(__v0, 4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v4,
         lag(__v0, 5) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v5,
         lag(__v0, 6) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v6,
         lag(__v0, 7) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __v7,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS __rn,
         count(*) OVER (PARTITION BY user_id) AS __n
  FROM base)
SELECT user_id,
       __n AS n_events,
       round((coalesce(__v0, CAST(0.0 AS DOUBLE)) * CAST(1.0 AS DOUBLE) + coalesce(__v1, CAST(0.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) + coalesce(__v2, CAST(0.0 AS DOUBLE)) * CAST(0.25 AS DOUBLE) + coalesce(__v3, CAST(0.0 AS DOUBLE)) * CAST(0.125 AS DOUBLE) + coalesce(__v4, CAST(0.0 AS DOUBLE)) * CAST(0.0625 AS DOUBLE) + coalesce(__v5, CAST(0.0 AS DOUBLE)) * CAST(0.03125 AS DOUBLE) + coalesce(__v6, CAST(0.0 AS DOUBLE)) * CAST(0.015625 AS DOUBLE) + coalesce(__v7, CAST(0.0 AS DOUBLE)) * CAST(0.0078125 AS DOUBLE)) / ((CASE WHEN __v0 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) + (CASE WHEN __v1 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) + (CASE WHEN __v2 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END) + (CASE WHEN __v3 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END) + (CASE WHEN __v4 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.0625 AS DOUBLE) END) + (CASE WHEN __v5 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.03125 AS DOUBLE) END) + (CASE WHEN __v6 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.015625 AS DOUBLE) END) + (CASE WHEN __v7 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(0.0078125 AS DOUBLE) END)), 6) AS ewma_value
FROM lagged WHERE __rn = 1
ORDER BY user_id
"""

ORACLES["vocab_zipf_slope"] = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
  FROM counts),
xy AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM ranked WHERE rank <= 1000)
SELECT count(*) AS n_terms,
       round(regr_slope(y, x), 6) AS zipf_slope,
       round(regr_r2(y, x), 6) AS r2
FROM xy
"""

ORACLES["image_dup_groups"] = """
SELECT CAST((doc_id * 11 + 5) % 256 AS INT) AS gray,
       count(*) AS n_images,
       min(doc_id) AS canonical_doc
FROM documents
GROUP BY 1 HAVING count(*) >= 2
ORDER BY gray
"""

ORACLES["spans_apdex"] = f"""
SELECT name,
       count(*) AS n_spans,
       sum(CASE WHEN duration_ns <= 10000000 THEN 1 ELSE 0 END)::BIGINT
         AS n_satisfied,
       sum(CASE WHEN duration_ns > 10000000 AND duration_ns <= 40000000
                THEN 1 ELSE 0 END)::BIGINT AS n_tolerating,
       round((sum(CASE WHEN duration_ns <= 10000000 THEN 1 ELSE 0 END)
              + sum(CASE WHEN duration_ns > 10000000 AND duration_ns <= 40000000
                         THEN 1 ELSE 0 END) / 2.0) * 1.0 / count(*), 6)
         AS apdex
FROM {_SPANS}
GROUP BY name ORDER BY name
"""

ORACLES["sql_order_priority_check"] = """
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

ORACLES["sql_nation_trade_volume"] = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""

ORACLES["sql_market_share"] = """
WITH all_lines AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount)
              AS DECIMAL(28,6)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
  JOIN region r   ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA'
    AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_7'
                           THEN volume
                           ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
       count(*) AS n_lines
FROM all_lines GROUP BY o_year ORDER BY o_year
"""

ORACLES["sql_product_profit"] = """
SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           - 0.8 * p.p_retailprice * l.l_quantity
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS profit,
       count(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(l.l_shipdate)
ORDER BY nation, o_year DESC
"""

ORACLES["sql_customer_distribution"] = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""

ORACLES["sql_discounted_revenue"] = """
SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""

ORACLES["sql_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,6))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
"""

ORACLES["dedup_keep_best"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
comp AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src),
sized AS (
  SELECT c.component, c.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM sized
)
SELECT component,
       count(*)::BIGINT AS cluster_size,
       max(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
       max(CASE WHEN rk = 1 THEN n_chars END) AS kept_chars
FROM ranked GROUP BY component ORDER BY component
"""

ORACLES["spans_error_budget"] = f"""
WITH per_bucket AS (
  SELECT scope_name AS service,
         (start_time_unix_nano // 1000000000) // 600 AS b,
         count(*) AS n,
         sum(CASE WHEN len(list_filter(events, e -> e.name = 'exception')) > 0
                  THEN 1 ELSE 0 END) AS errs
  FROM {{spans}}
  GROUP BY 1, 2
)
SELECT service,
       count(*)::BIGINT AS n_buckets,
       sum(CASE WHEN errs * 1.0 / n > 0.01 THEN 1 ELSE 0 END)::BIGINT
         AS n_burned_buckets,
       round(max(errs * 1.0 / n), 6) AS worst_bucket_rate,
       sum(errs)::BIGINT AS n_errors
FROM per_bucket GROUP BY service ORDER BY service
""".format(spans=_SPANS)

ORACLES["sql_returned_item_report"] = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""

ORACLES["source_overlap_matrix"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*)::BIGINT AS n_dup_pairs
FROM pairs p
JOIN documents da ON p.doc_a = da.doc_id
JOIN documents db ON p.doc_b = db.doc_id
GROUP BY 1, 2
ORDER BY source_a, source_b
"""

ORACLES["token_count_histogram"] = """
WITH t AS (
  SELECT len(string_split(text, ' ')) AS n FROM documents
)
SELECT length(bin(n)) - 1 AS log2_bucket,
       count(*)::BIGINT AS n_docs,
       sum(n)::BIGINT AS total_tokens
FROM t GROUP BY 1 ORDER BY log2_bucket
"""

ORACLES["tokenizer_fertility_by_lang"] = """
WITH per AS (
  SELECT lang,
         len(string_split(text, ' ')) AS ws,
         ceil(length(text) / 4.0)::BIGINT AS sw,
         length(text) AS ch
  FROM documents
)
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(ws)::BIGINT AS ws_tokens,
       sum(sw)::BIGINT AS subword_tokens,
       round(sum(sw)::DOUBLE / sum(ws)::DOUBLE, 6) AS fertility,
       round(sum(ch)::DOUBLE / sum(ws)::DOUBLE, 6) AS chars_per_word
FROM per GROUP BY lang ORDER BY lang
"""

ORACLES["sql_order_ship_lag"] = """
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(floor(date_diff('day', o.o_orderdate, f.first_ship) / 7.0) AS INT)
         AS lag_weeks,
       count(*) AS n_orders
FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
GROUP BY 1 ORDER BY lag_weeks
"""

ORACLES["dup_threshold_curve"] = f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL})
SELECT CASE WHEN jaccard >= 0.9 THEN '0.9+'
            WHEN jaccard >= 0.7 THEN '0.7-0.9'
            ELSE '0.5-0.7' END AS jaccard_band,
       count(*)::BIGINT AS n_pairs
FROM pairs GROUP BY 1 ORDER BY jaccard_band
"""

ORACLES["curation_funnel"] = f"""
WITH RECURSIVE
t0 AS (SELECT doc_id, text, lang, source, string_split(text, ' ') AS w
       FROM documents),
q AS (
  SELECT doc_id FROM t0
  WHERE round(least(len(w) / 100.0, 1.0) * 0.5
        + least(len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x))) / 5.0,
                1.0) * 0.5, 6) >= 0.6
),
ls AS (
  SELECT doc_id,
    len(list_filter(w, x -> list_contains(['the','a','is','of','and'], x)))::INT  AS score_en,
    len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], x)))::INT AS score_de,
    len(list_filter(w, x -> list_contains(['el','los','es','y','que'], x)))::INT  AS score_es,
    len(list_filter(w, x -> list_contains(['le','les','est','et','une'], x)))::INT AS score_fr
  FROM t0
),
en AS (
  SELECT doc_id FROM ls
  WHERE NOT (score_en = 0 AND score_de = 0 AND score_es = 0 AND score_fr = 0)
    AND score_en >= score_de AND score_en >= score_es AND score_en >= score_fr
),
kept AS (
  SELECT d.doc_id, d.text, d.lang, d.source FROM documents d
  JOIN q USING (doc_id) JOIN en USING (doc_id)
),
ex AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
sdocs AS (SELECT k.* FROM kept k JOIN ex USING (doc_id)),
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM sdocs),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t
  WHERE len(w) >= 3
),
exx AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM exx a JOIN exx b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz x ON inter.doc_a = x.doc_id
  JOIN sz y ON inter.doc_b = y.doc_id
  WHERE round(i / (x.sz + y.sz - i), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
removed AS (
  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(node) < src
),
near AS (
  SELECT doc_id FROM sdocs
  WHERE doc_id NOT IN (SELECT doc_id FROM removed)
),
final AS (
  SELECT doc_id FROM near
  WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '199a'
)
SELECT * FROM (
  SELECT 0 AS stage_no, 'input' AS stage,
         (SELECT count(*) FROM documents)::BIGINT AS n_docs
  UNION ALL SELECT 1, 'quality_gte_0.6', (SELECT count(*) FROM q)::BIGINT
  UNION ALL SELECT 2, 'lang_en', (SELECT count(*) FROM kept)::BIGINT
  UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM sdocs)::BIGINT
  UNION ALL SELECT 4, 'near_dedup', (SELECT count(*) FROM near)::BIGINT
  UNION ALL SELECT 5, 'sample_10pct', (SELECT count(*) FROM final)::BIGINT
) ORDER BY stage_no
"""

ORACLES["spans_top_endpoints_per_service"] = f"""
WITH per AS (
  SELECT scope_name AS service, name AS endpoint,
         count(*) AS n_spans,
         round(avg(duration_ns / 1000000.0), 6) AS avg_ms
  FROM {_SPANS}
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY service
                               ORDER BY avg_ms DESC, endpoint ASC) AS rank
  FROM per
)
SELECT service, endpoint, n_spans, avg_ms, rank
FROM ranked WHERE rank <= 3 ORDER BY service, rank
"""

ORACLES["spans_duration_histogram"] = f"""
SELECT name AS endpoint,
       length(bin((duration_ns // 1000000) + 1)) - 1 AS log2_ms_bucket,
       count(*) AS n_spans
FROM {_SPANS}
GROUP BY 1, 2 ORDER BY endpoint, log2_ms_bucket
"""

ORACLES["spans_latency_trend"] = f"""
WITH t AS (
  SELECT name AS endpoint,
         start_time_unix_nano / 1000000000.0 - 1706745605 AS x,
         duration_ns / 1000000.0 AS y
  FROM {_SPANS}
)
SELECT endpoint,
       round(regr_slope(y, x) * 3600, 6) AS slope_ms_per_hour,
       round(regr_r2(y, x), 6) AS r2,
       count(*) AS n_spans
FROM t GROUP BY endpoint ORDER BY endpoint
"""

ORACLES["hourly_event_forecast"] = """
WITH hourly AS (
  SELECT event_type, floor(epoch(ts) / 3600)::BIGINT AS h, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT cur.event_type,
       count(*)::BIGINT AS n_hours,
       round(avg(abs(cur.n - prev.n) * 1.0 / cur.n), 6) AS mape
FROM hourly cur
JOIN hourly prev
  ON cur.event_type = prev.event_type AND cur.h = prev.h + 24
WHERE cur.n > 0
GROUP BY cur.event_type
ORDER BY cur.event_type
"""

ORACLES["ab_test_lift"] = """
WITH per AS (
  SELECT CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         count(*) AS n,
         sum(CAST(value AS DECIMAL(28,6))) AS s1,
         sum(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6)))
           AS s2
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
m AS (
  SELECT arm, n,
         s1::DOUBLE / n AS mean,
         (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / (n - 1) AS var
  FROM per
)
SELECT a.n AS n_a, b.n AS n_b,
       round(a.mean, 6) AS mean_a,
       round(b.mean, 6) AS mean_b,
       round(b.mean - a.mean, 6) AS lift,
       round((b.mean - a.mean) / sqrt(a.var / a.n + b.var / b.n), 6)
         AS welch_t
FROM (SELECT * FROM m WHERE arm = 'A') a, (SELECT * FROM m WHERE arm = 'B') b
"""

ORACLES["join_skew_report"] = """
WITH o AS (
  SELECT count(*) AS c FROM orders GROUP BY o_custkey
),
l AS (
  SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey
)
SELECT * FROM (
  SELECT 'orders' AS relation, 'o_custkey' AS key,
         sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
         max(c)::BIGINT AS max_per_key,
         round(max(c) / (sum(c) * 1.0 / count(*)), 6) AS skew_ratio
  FROM o
  UNION ALL
  SELECT 'lineitem', 'l_orderkey',
         sum(c)::BIGINT, count(*)::BIGINT, max(c)::BIGINT,
         round(max(c) / (sum(c) * 1.0 / count(*)), 6)
  FROM l
) ORDER BY relation
"""

ORACLES["video_scene_changes"] = """
WITH f AS (
  SELECT d.doc_id, i.i AS frame_idx,
         ((d.doc_id * 7 + i.i * 13) % 256) * 1.0 AS mean_pixel
  FROM documents d, (SELECT unnest([0, 1, 2, 3]) AS i) i
),
w AS (
  SELECT doc_id, frame_idx, mean_pixel,
         lag(mean_pixel) OVER (PARTITION BY doc_id ORDER BY frame_idx)
           AS prev
  FROM f
)
SELECT doc_id,
       count(*)::BIGINT AS n_frames,
       sum(CASE WHEN abs(mean_pixel - prev) > 100 THEN 1 ELSE 0 END)::BIGINT
         AS n_cuts,
       round(max(abs(mean_pixel - prev)), 6) AS max_delta
FROM w GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["langid_confusion"] = """
WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT lang,
    len(list_filter(w, x -> list_contains(['the','a','is','of','and'], x)))::INT  AS score_en,
    len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], x)))::INT AS score_de,
    len(list_filter(w, x -> list_contains(['el','los','es','y','que'], x)))::INT  AS score_es,
    len(list_filter(w, x -> list_contains(['le','les','est','et','une'], x)))::INT AS score_fr
  FROM t
),
p AS (
  SELECT lang AS gold_lang,
    CASE
      WHEN score_en = 0 AND score_de = 0 AND score_es = 0 AND score_fr = 0 THEN 'und'
      WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
      WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
      WHEN score_es >= score_fr THEN 'es'
      ELSE 'fr'
    END AS pred_lang
  FROM s
)
SELECT gold_lang, pred_lang, count(*)::BIGINT AS n_docs
FROM p GROUP BY 1, 2 ORDER BY gold_lang, pred_lang
"""

ORACLES["spans_anomalous_traces"] = f"""
WITH traces AS (
  SELECT trace_id,
         (max(end_time_unix_nano) - min(start_time_unix_nano)) / 1e6
           AS trace_ms,
         count(*) AS n_spans
  FROM {_SPANS}
  GROUP BY trace_id
),
thr AS (SELECT quantile_cont(trace_ms, 0.99) AS p99 FROM traces)
SELECT trace_id, round(trace_ms, 6) AS trace_ms, n_spans
FROM traces, thr
WHERE trace_ms > thr.p99
ORDER BY trace_ms DESC, trace_id ASC
"""

ORACLES["sql_order_backlog"] = """
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey
),
ev AS (
  SELECT date_trunc('week', o.o_orderdate)::DATE AS wk, 1 AS d FROM orders o
  UNION ALL
  SELECT date_trunc('week', f.first_ship)::DATE, -1 FROM first_ship f
),
weekly AS (SELECT wk, sum(d) AS delta FROM ev GROUP BY wk)
SELECT wk,
       sum(delta) OVER (ORDER BY wk
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)::BIGINT AS open_orders
FROM weekly ORDER BY wk
"""

ORACLES["audience_overlap"] = """
WITH masks AS (
  SELECT mask, count(*) AS n_users FROM (
    SELECT user_id,
           max(CASE WHEN event_type = 'click'    THEN 1  ELSE 0 END)
         + max(CASE WHEN event_type = 'error'    THEN 2  ELSE 0 END)
         + max(CASE WHEN event_type = 'purchase' THEN 4  ELSE 0 END)
         + max(CASE WHEN event_type = 'signup'   THEN 8  ELSE 0 END)
         + max(CASE WHEN event_type = 'view'     THEN 16 ELSE 0 END)
           AS mask
    FROM events GROUP BY user_id
  ) GROUP BY mask
),
pairs(type_a, type_b, ba, bb) AS (
  VALUES ('click','error',1,2), ('click','purchase',1,4),
         ('click','signup',1,8), ('click','view',1,16),
         ('error','purchase',2,4), ('error','signup',2,8),
         ('error','view',2,16), ('purchase','signup',4,8),
         ('purchase','view',4,16), ('signup','view',8,16)
)
SELECT p.type_a, p.type_b,
       sum(CASE WHEN (m.mask & p.ba) > 0 AND (m.mask & p.bb) > 0
                THEN m.n_users ELSE 0 END)::BIGINT AS n_both,
       sum(CASE WHEN (m.mask & p.ba) > 0 OR (m.mask & p.bb) > 0
                THEN m.n_users ELSE 0 END)::BIGINT AS n_either,
       round(sum(CASE WHEN (m.mask & p.ba) > 0 AND (m.mask & p.bb) > 0
                      THEN m.n_users ELSE 0 END) * 1.0
             / sum(CASE WHEN (m.mask & p.ba) > 0 OR (m.mask & p.bb) > 0
                        THEN m.n_users ELSE 0 END), 6) AS jaccard
FROM pairs p CROSS JOIN masks m
GROUP BY p.type_a, p.type_b
ORDER BY type_a, type_b
"""

ORACLES["user_stickiness"] = """
WITH daily AS (
  SELECT date_trunc('month', ts)::DATE AS month, ts::DATE AS day,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
),
monthly AS (
  SELECT date_trunc('month', ts)::DATE AS month,
         count(DISTINCT user_id) AS mau
  FROM events GROUP BY 1
)
SELECT d.month,
       count(*)::BIGINT AS n_days,
       round(avg(d.dau), 6) AS avg_dau,
       max(d.dau)::BIGINT AS peak_dau,
       any_value(m.mau)::BIGINT AS mau,
       round(avg(d.dau) / any_value(m.mau), 6) AS stickiness
FROM daily d JOIN monthly m USING (month)
GROUP BY d.month
ORDER BY d.month
"""

ORACLES["brand_affinity"] = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
tot AS (SELECT count(DISTINCT o)::DOUBLE AS n FROM ob),
bn AS (SELECT b, count(*) AS nb FROM ob GROUP BY b),
pairs AS (
  SELECT a.b AS brand_a, c.b AS brand_b, count(*) AS n_both
  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
  GROUP BY 1, 2 HAVING count(*) >= 20
)
SELECT p.brand_a, p.brand_b, p.n_both::BIGINT AS n_both,
       round(p.n_both * t.n / (na.nb * nb.nb), 6) AS lift
FROM pairs p
JOIN bn na ON na.b = p.brand_a
JOIN bn nb ON nb.b = p.brand_b
CROSS JOIN tot t
ORDER BY brand_a, brand_b
"""

ORACLES["conversion_attribution"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
),
attr AS (
  SELECT user_id, t, event_type,
         (SELECT e2.event_type FROM ev e2
          WHERE e2.user_id = ev.user_id
            AND e2.event_type <> 'purchase'
            AND e2.t >= ev.t - 86400000000 AND e2.t < ev.t
          ORDER BY e2.t ASC LIMIT 1) AS first_prior
  FROM ev
)
SELECT coalesce(first_prior, 'direct') AS channel,
       count(*)::BIGINT AS n_conversions
FROM attr WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY channel
"""

ORACLES["supplier_concentration"] = """
WITH rev AS (
  SELECT n.n_name AS nation, s.s_suppkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(28,6))) AS sr
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
tot AS (
  SELECT nation, sum(sr) AS tr, count(*) AS n_suppliers
  FROM rev GROUP BY nation
)
SELECT r.nation, t.n_suppliers::BIGINT AS n_suppliers,
       round(sum(pow(r.sr::DOUBLE / t.tr::DOUBLE, 2)), 6) AS hhi
FROM rev r JOIN tot t USING (nation)
GROUP BY r.nation, t.n_suppliers
ORDER BY r.nation
"""

ORACLES["user_type_scd2"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id
  FROM events WHERE user_id < 30
),
flagged AS (
  SELECT user_id, us, event_type, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS changed
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
versioned AS (
  SELECT user_id, us, event_type,
         sum(changed) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS vid
  FROM flagged
),
versions AS (
  SELECT user_id, vid AS version, any_value(event_type) AS event_type,
         min(us) AS valid_from_us, count(*) AS n_events
  FROM versioned GROUP BY user_id, vid
)
SELECT user_id, version::BIGINT AS version, event_type,
       valid_from_us::BIGINT AS valid_from_us,
       (lead(valid_from_us) OVER (PARTITION BY user_id
                                  ORDER BY version))::BIGINT AS valid_to_us,
       n_events::BIGINT AS n_events,
       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
         IS NULL AS is_current
FROM versions
ORDER BY user_id, version
"""

ORACLES["sql_top_customers_per_nation"] = """
WITH per_cust AS (
  SELECT n.n_name AS nation, c.c_custkey,
         CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(28,6))), 2)
              AS DOUBLE) AS revenue
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, c.c_custkey
)
SELECT nation, c_custkey, revenue, rnk FROM (
  SELECT *, rank() OVER (PARTITION BY nation
                         ORDER BY revenue DESC, c_custkey ASC) AS rnk
  FROM per_cust
) t WHERE rnk <= 2
ORDER BY nation, rnk, c_custkey
"""

ORACLES["revenue_gini"] = """
WITH rev AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, rev,
         row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS i,
         count(*) OVER () AS n
  FROM rev
)
SELECT max(n)::BIGINT AS n_customers,
       round((max(n) + 1
              - 2 * (sum((n - i + 1) * rev)::DOUBLE) / (sum(rev)::DOUBLE))
             / max(n), 6) AS gini,
       round(sum(CASE WHEN i > n - floor(n / 10) THEN rev
                      ELSE CAST(0 AS DECIMAL(28,6)) END)::DOUBLE
             / sum(rev)::DOUBLE, 6) AS top_decile_share
FROM ranked
"""

ORACLES["doc_token_entropy"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
ent AS (
  SELECT doc_id,
         round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6)
           AS entropy_bits
  FROM tf GROUP BY doc_id
)
SELECT floor(entropy_bits)::BIGINT AS entropy_floor,
       count(*)::BIGINT AS n_docs
FROM ent GROUP BY 1 ORDER BY entropy_floor
"""

ORACLES["user_burstiness"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
gaps AS (
  SELECT user_id,
         CAST(us - lag(us) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id)
              AS DECIMAL(28,6)) AS g
  FROM ev
),
per_user AS (
  SELECT user_id, count(*) AS n, sum(g) AS s1, sum(g * g) AS s2
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id HAVING count(*) >= 2
),
cvs AS (
  SELECT user_id,
         round(sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / (n - 1))
               / (s1::DOUBLE / n), 6) AS cv
  FROM per_user
)
SELECT CAST(round(cv, 0) AS INT) AS cv_bucket,
       count(*)::BIGINT AS n_users
FROM cvs GROUP BY 1 ORDER BY cv_bucket
"""

ORACLES["events_dow_hour_profile"] = """
SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
       count(*)::BIGINT AS n_events,
       round(sum(CAST(value AS DECIMAL(28,6)))::DOUBLE / count(*), 6)
         AS avg_value
FROM events GROUP BY 1, 2 ORDER BY dow, hour
"""

ORACLES["order_priority_sla"] = """
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderpriority,
       count(*)::BIGINT AS n_orders,
       sum(CASE WHEN date_diff('day', o.o_orderdate, f.first_ship) <= 30
                THEN 1 ELSE 0 END)::BIGINT AS n_within_30d,
       round(sum(CASE WHEN date_diff('day', o.o_orderdate, f.first_ship) <= 30
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS sla_rate
FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

ORACLES["length_quality_correlation"] = f"""
WITH d AS (
  SELECT CAST(n_chars AS DECIMAL(28,6)) AS x,
         CAST(round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                    + least(len(list_filter(string_split(text, ' '),
                                            t -> list_contains({_STOPWORDS_SQL}, t)))
                            / 5.0, 1.0) * 0.5, 6)
              AS DECIMAL(28,6)) AS y
  FROM documents
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM d
)
SELECT n::BIGINT AS n_docs,
       round((n * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / sqrt((n * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (n * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
         AS pearson_r
FROM m
"""

ORACLES["sql_important_parts"] = """
WITH natl AS (
  SELECT l.l_partkey AS p_partkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(28,6))) AS value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY 1
)
SELECT p_partkey, CAST(round(value, 2) AS DOUBLE) AS value
FROM natl
WHERE value * 500 > (SELECT sum(value) FROM natl)
ORDER BY value DESC, p_partkey
"""

ORACLES["sql_supplier_part_variety"] = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'ECONOMY'
  AND p.p_size IN (1, 5, 11, 15, 21, 25, 31, 35, 41)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""

ORACLES["sql_promo_part_suppliers"] = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT sh.l_suppkey FROM shipped sh
  JOIN part p ON p.p_partkey = sh.l_partkey
  WHERE p.p_name LIKE 'red%' AND sh.qty > 40
)
ORDER BY s.s_suppkey
"""

ORACLES["gopher_rule_flags"] = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS nc
  FROM documents
),
base AS (
  SELECT doc_id, len(ws) AS n_words,
         (nc - len(ws) + 1) / CAST(len(ws) AS DOUBLE) AS mean_wl,
         len(list_filter(ws, x -> x IN ('the', 'a')))
           / CAST(len(ws) AS DOUBLE) AS stop_frac
  FROM w
),
bg AS (
  SELECT w.doc_id, ws[i] || ' ' || ws[i+1] AS b
  FROM w, unnest(range(1, len(ws))) AS t(i)
),
cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
mx AS (SELECT doc_id, max(c) AS mc FROM cnt GROUP BY 1)
SELECT base.doc_id,
       base.n_words::BIGINT AS n_words,
       round(base.mean_wl, 6) AS mean_word_len,
       round(base.stop_frac, 6) AS stopword_frac,
       round(2.0 * coalesce(mx.mc, 0) / base.n_words, 6)
         AS top_bigram_frac,
       (base.n_words >= 30) AS pass_word_count,
       (base.mean_wl >= 3 AND base.mean_wl <= 10) AS pass_mean_word_len,
       (base.stop_frac >= 0.03) AS pass_stopword,
       (2.0 * coalesce(mx.mc, 0) / base.n_words <= 0.125)
         AS pass_repetition,
       ((base.n_words >= 30) AND (base.mean_wl >= 3 AND base.mean_wl <= 10)
        AND (base.stop_frac >= 0.03)
        AND (2.0 * coalesce(mx.mc, 0) / base.n_words <= 0.125)) AS keep
FROM base LEFT JOIN mx ON base.doc_id = mx.doc_id
ORDER BY base.doc_id
"""

ORACLES["export_shard_plan"] = """
WITH g AS (
  SELECT substr(md5(doc_id::VARCHAR), 1, 1) AS shard,
         count(*) AS n_docs,
         sum(n_chars)::BIGINT AS total_chars
  FROM documents GROUP BY 1
)
SELECT shard, n_docs::BIGINT AS n_docs, total_chars,
       round(n_docs * 16.0 / sum(n_docs) OVER (), 6) AS balance_ratio
FROM g ORDER BY shard
"""

ORACLES["k_anonymity_audit"] = """
WITH g AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         count(*) AS k
  FROM customer GROUP BY 1, 2, 3
)
SELECT k::BIGINT AS group_size, count(*)::BIGINT AS n_groups,
       sum(k)::BIGINT AS n_rows, (k < 5) AS at_risk
FROM g GROUP BY k ORDER BY group_size
"""

ORACLES["weighted_median_price"] = """
WITH v AS (
  SELECT p.p_brand AS brand, l.l_extendedprice AS price,
         sum(l.l_quantity) AS w
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
c AS (
  SELECT brand, price,
         sum(w) OVER (PARTITION BY brand ORDER BY price) AS cumw,
         sum(w) OVER (PARTITION BY brand) AS totw
  FROM v
)
SELECT brand, min(price) AS weighted_median_price,
       round(max(totw), 2) AS total_qty
FROM c WHERE cumw * 2 >= totw
GROUP BY brand ORDER BY brand
"""

ORACLES["feature_spine_join"] = """
WITH base AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
         CAST(value AS DECIMAL(18,6)) AS dv
  FROM events
),
f AS (
  SELECT event_id, user_id, event_type, ts,
         count(*) OVER w7 AS n_events_7d,
         round(CAST(coalesce(sum(dv) OVER w7, 0) AS DOUBLE), 6)
           AS sum_value_7d,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS prev_event_type
  FROM base
  WINDOW w7 AS (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, n_events_7d::BIGINT AS n_events_7d,
       sum_value_7d, prev_event_type
FROM f WHERE event_type = 'purchase' ORDER BY event_id
"""

ORACLES["km_churn_survival"] = """
WITH h AS (SELECT max(ts) AS mx FROM events),
pu AS (SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1),
d AS (
  SELECT date_diff('day', pu.f::DATE, pu.l::DATE) AS duration,
         CASE WHEN pu.l < h.mx - INTERVAL 7 DAY THEN 1 ELSE 0 END AS churn
  FROM pu, h
),
t AS (SELECT duration, sum(churn) AS d, count(*) AS c FROM d GROUP BY 1),
r AS (
  SELECT duration, d,
         (SELECT sum(c) FROM t)
           - coalesce(sum(c) OVER (ORDER BY duration
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_risk
  FROM t
),
s AS (
  SELECT duration, d, n_risk,
         max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w AS anyzero,
         sum(ln(CASE WHEN d < n_risk
                     THEN 1.0 - d / CAST(n_risk AS DOUBLE)
                     ELSE 1.0 END)) OVER w AS lnsum
  FROM r
  WINDOW w AS (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT duration AS duration_days, n_risk::BIGINT AS n_at_risk,
       d::BIGINT AS churned,
       round(CASE WHEN anyzero = 1 THEN 0.0 ELSE exp(lnsum) END, 6)
         AS survival
FROM s ORDER BY duration_days
"""

ORACLES["benford_price_audit"] = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders
),
per AS (
  SELECT digit, count(*) AS n FROM digits
  WHERE digit BETWEEN 1 AND 9 GROUP BY 1
)
SELECT digit, n::BIGINT AS n,
       round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS observed_share,
       round(log10(1.0 + 1.0 / digit), 6) AS expected_share,
       round(n / CAST(sum(n) OVER () AS DOUBLE)
             - log10(1.0 + 1.0 / digit), 6) AS deviation
FROM per ORDER BY digit
"""

ORACLES["stream_batch_parity_rollup"] = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*)::BIGINT AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

ORACLES["scd2_point_in_time_join"] = """
WITH ev AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
         CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS tier
  FROM events WHERE user_id < 30
),
flagged AS (
  SELECT user_id, us, tier, event_id,
         CASE WHEN lag(tier) OVER w IS NULL
                OR tier <> lag(tier) OVER w
              THEN 1 ELSE 0 END AS changed
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
versioned AS (
  SELECT user_id, us, tier,
         sum(changed) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS vid
  FROM flagged
),
versions AS (
  SELECT user_id, vid AS version, any_value(tier) AS tier,
         min(us) AS valid_from_us
  FROM versioned GROUP BY user_id, vid
),
dim AS (
  SELECT user_id, version, tier, valid_from_us,
         lead(valid_from_us) OVER (PARTITION BY user_id
                                   ORDER BY version) AS valid_to_us
  FROM versions
)
SELECT e.event_id, e.user_id, e.ts, d.tier AS tier_at_purchase,
       d.version::BIGINT AS dim_version
FROM ev e
JOIN dim d
  ON d.user_id = e.user_id
 AND d.valid_from_us <= e.us
 AND (d.valid_to_us IS NULL OR e.us < d.valid_to_us)
WHERE e.event_type = 'purchase'
ORDER BY e.event_id
"""

ORACLES["heaps_law_fit"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
first AS (SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY 1),
intro AS (
  SELECT first_doc AS doc_id, count(*) AS new_terms FROM first GROUP BY 1
),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         coalesce(any_value(i.new_terms), 0) AS new_terms
  FROM toks t LEFT JOIN intro i ON i.doc_id = t.doc_id
  GROUP BY t.doc_id
),
curve AS (
  SELECT sum(n_tokens) OVER w AS N, sum(new_terms) OVER w AS V
  FROM per_doc
  WINDOW w AS (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT count(*)::BIGINT AS n_points,
       round(regr_slope(ln(CAST(V AS DOUBLE)), ln(CAST(N AS DOUBLE))), 6)
         AS heaps_beta,
       round(exp(regr_intercept(ln(CAST(V AS DOUBLE)),
                                ln(CAST(N AS DOUBLE)))), 6) AS heaps_k,
       round(regr_r2(ln(CAST(V AS DOUBLE)), ln(CAST(N AS DOUBLE))), 6) AS r2
FROM curve
"""

ORACLES["did_purchase_lift"] = """
WITH h AS (
  SELECT min(ts) AS lo, max(ts) AS hi FROM events
  WHERE event_type = 'purchase'
),
base AS (
  SELECT CAST(value AS DECIMAL(18,6)) AS v,
         substr(md5(user_id::VARCHAR), 1, 1) < '8' AS treated,
         epoch_us(ts) >= (epoch_us(h.lo) + epoch_us(h.hi)) / 2 AS post
  FROM events, h WHERE event_type = 'purchase'
)
SELECT
  round(CAST(sum(CASE WHEN treated AND NOT post THEN v END) AS DOUBLE)
        / sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END), 6)
    AS treated_pre,
  round(CAST(sum(CASE WHEN treated AND post THEN v END) AS DOUBLE)
        / sum(CASE WHEN treated AND post THEN 1 ELSE 0 END), 6)
    AS treated_post,
  round(CAST(sum(CASE WHEN NOT treated AND NOT post THEN v END) AS DOUBLE)
        / sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END), 6)
    AS control_pre,
  round(CAST(sum(CASE WHEN NOT treated AND post THEN v END) AS DOUBLE)
        / sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END), 6)
    AS control_post,
  round((CAST(sum(CASE WHEN treated AND post THEN v END) AS DOUBLE)
         / sum(CASE WHEN treated AND post THEN 1 ELSE 0 END)
         - CAST(sum(CASE WHEN treated AND NOT post THEN v END) AS DOUBLE)
         / sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END))
        - (CAST(sum(CASE WHEN NOT treated AND post THEN v END) AS DOUBLE)
           / sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END)
           - CAST(sum(CASE WHEN NOT treated AND NOT post THEN v END) AS DOUBLE)
             / sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END)), 6)
    AS did_estimate
FROM base
"""

ORACLES["ks_source_drift"] = """
WITH counts AS (
  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
),
src_tot AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
len_tot AS (SELECT n_chars, count(*) AS c_all FROM documents GROUP BY 1),
cum_all AS (
  SELECT n_chars,
         sum(c_all) OVER (ORDER BY n_chars
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_all
  FROM len_tot
),
grid AS (
  SELECT s.source, s.n_s, l.n_chars
  FROM src_tot s CROSS JOIN (SELECT n_chars FROM len_tot) l
),
cum_src AS (
  SELECT g.source, g.n_chars, g.n_s,
         sum(coalesce(c.c, 0)) OVER (
           PARTITION BY g.source ORDER BY g.n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
  FROM grid g
  LEFT JOIN counts c ON c.source = g.source AND c.n_chars = g.n_chars
),
tot AS (SELECT count(*) AS n_all FROM documents)
SELECT source,
       max(n_s)::BIGINT AS n_docs,
       round(max(abs(CAST(cum_s AS DOUBLE) / n_s
                     - CAST(cum_all - cum_s AS DOUBLE) / (n_all - n_s))), 6)
         AS ks_stat
FROM cum_src JOIN cum_all USING (n_chars) CROSS JOIN tot
WHERE n_all > n_s
GROUP BY source
ORDER BY source
"""

ORACLES["chi2_lang_source"] = """
WITH obs AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
),
row_m AS (SELECT lang, count(*) AS r_tot FROM documents GROUP BY 1),
col_m AS (SELECT source, count(*) AS c_tot FROM documents GROUP BY 1),
tot AS (SELECT count(*) AS n_all FROM documents),
cells AS (
  SELECT o.lang, o.source, t.n_all,
         (r_tot * c_tot) / n_all AS e,
         CAST(o AS DOUBLE) AS od
  FROM obs o
  JOIN row_m USING (lang)
  JOIN col_m USING (source)
  CROSS JOIN tot t
)
SELECT max(n_all)::BIGINT AS n_docs,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources,
       ((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1))::BIGINT
         AS dof,
       round(sum((od - e) * (od - e) / e), 6) AS chi2,
       round(sqrt(sum((od - e) * (od - e) / e)
                  / (max(n_all)
                     * least(count(DISTINCT lang) - 1,
                             count(DISTINCT source) - 1))), 6) AS cramers_v
FROM cells
"""

ORACLES["hourly_acf"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS cnt FROM events GROUP BY 1
),
hx AS (
  SELECT CAST(epoch_us(h) / 3600000000 AS BIGINT) AS hidx,
         CAST(cnt AS DOUBLE) AS cnt
  FROM hourly
),
mu AS (SELECT avg(cnt) AS mu FROM hx),
base AS (SELECT hidx, cnt - mu.mu AS dev FROM hx, mu),
den AS (SELECT sum(dev * dev) AS den FROM base),
lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 25)),
pairs AS (
  SELECT l.lag, a.dev * b.dev AS prod
  FROM base a
  CROSS JOIN lags l
  JOIN base b ON b.hidx = a.hidx + l.lag
)
SELECT lag,
       round(sum(prod) / any_value(den.den), 6) AS acf,
       count(*)::BIGINT AS n_pairs
FROM pairs, den
GROUP BY lag
ORDER BY lag
"""

ORACLES["cusum_changepoints"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
mu AS (SELECT event_type, avg(cnt) AS mu FROM hourly GROUP BY 1),
s AS (
  SELECT h.event_type, h.h, m.mu,
         sum(h.cnt - m.mu) OVER (
           PARTITION BY h.event_type ORDER BY h.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM hourly h JOIN mu m USING (event_type)
),
picked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY abs(s) DESC, h ASC) AS rn
  FROM s
)
SELECT event_type, h AS change_hour,
       round(s, 6) AS cusum_peak, round(mu, 6) AS mean_rate
FROM picked WHERE rn = 1
ORDER BY event_type
"""

ORACLES["spearman_length_vocab"] = """
WITH per_doc AS (
  SELECT doc_id, n_chars AS x,
         length(list_distinct(str_split(text, ' '))) AS y
  FROM documents
),
rx AS (
  SELECT x,
         sum(c) OVER (ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (c - 1) / 2.0 AS r_x
  FROM (SELECT x, count(*) AS c FROM per_doc GROUP BY 1)
),
ry AS (
  SELECT y,
         sum(c) OVER (ORDER BY y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (c - 1) / 2.0 AS r_y
  FROM (SELECT y, count(*) AS c FROM per_doc GROUP BY 1)
)
SELECT count(*)::BIGINT AS n_docs,
       round(corr(r_x, r_y), 6) AS spearman_rho,
       round(corr(x, y), 6) AS pearson_r
FROM per_doc JOIN rx USING (x) JOIN ry USING (y)
"""

ORACLES["flesch_readability"] = """
WITH per_doc AS (
  SELECT source,
         CAST(length(str_split(text, ' ')) AS DOUBLE) AS words,
         CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
              AS DOUBLE) AS sentences,
         CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS DOUBLE) AS syllables
  FROM documents
),
scored AS (
  SELECT source,
         206.835 - 1.015 * words / sentences - 84.6 * syllables / words
           AS flesch,
         words, syllables
  FROM per_doc
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       round(avg(flesch), 6) AS avg_flesch,
       round(avg(syllables / words), 6) AS avg_syll_per_word,
       round(CAST(sum(CASE WHEN flesch >= 60 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS easy_share
FROM scored
GROUP BY source
ORDER BY source
"""

ORACLES["funnel_bypass_rate"] = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events
  WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
),
buyers AS (
  SELECT (first_view IS NULL OR first_purchase < first_view) AS direct
  FROM per_user WHERE first_purchase IS NOT NULL
)
SELECT count(*)::BIGINT AS n_purchasers,
       sum(CASE WHEN direct THEN 1 ELSE 0 END)::BIGINT AS n_direct_buyers,
       round(CAST(sum(CASE WHEN direct THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS bypass_rate
FROM buyers
"""

ORACLES["seasonal_decomposition"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS cnt FROM events GROUP BY 1
),
keyed AS (
  SELECT h, cnt,
         (epoch_us(h) // 86400000000) % 7 AS dow_idx,
         (epoch_us(h) // 3600000000) % 24 AS hod
  FROM hourly
),
tr AS (
  SELECT h, cnt, dow_idx, hod,
         CAST(sum(cnt) OVER w AS DOUBLE) / count(cnt) OVER w AS trend
  FROM keyed
  WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
seas AS (
  SELECT dow_idx, hod, avg(cnt - trend) AS seasonal FROM tr GROUP BY 1, 2
)
SELECT t.h, t.cnt,
       round(t.trend, 6) AS trend,
       round(s.seasonal, 6) AS seasonal,
       round(t.cnt - t.trend - s.seasonal, 6) AS residual
FROM tr t JOIN seas s USING (dow_idx, hod)
ORDER BY abs(t.cnt - t.trend - s.seasonal) DESC, t.h ASC
LIMIT 20
"""

ORACLES["robust_outlier_days"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM daily GROUP BY 1
),
madt AS (
  SELECT d.event_type, quantile_cont(abs(d.cnt - m.med), 0.5) AS mad,
         max(m.med) AS med
  FROM daily d JOIN med m USING (event_type) GROUP BY 1
),
z AS (
  SELECT d.event_type, t.med, t.mad,
         CASE WHEN t.mad > 0
              THEN 0.6745 * (d.cnt - t.med) / t.mad END AS z
  FROM daily d JOIN madt t USING (event_type)
)
SELECT event_type,
       count(*)::BIGINT AS n_days,
       round(max(med), 6) AS median_cnt,
       round(max(mad), 6) AS mad,
       sum(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(max(abs(z)), 6) AS max_abs_z
FROM z
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["poisson_bootstrap_ci"] = """
WITH expanded AS (
  SELECT b.range AS b,
         CAST(e.value AS DECIMAL(18,6)) AS x,
         ('0x' || substr(md5(e.event_id::VARCHAR || '-' || b.range::VARCHAR),
                         1, 4))::UBIGINT / 65536.0 AS u
  FROM events e CROSS JOIN range(0, 64) b
  WHERE e.event_type = 'purchase'
),
weighted AS (
  SELECT b, x,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238463 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              WHEN u < 0.9994058151824183 THEN 5
              WHEN u < 0.999916758850712 THEN 6
              WHEN u < 0.9999897508033253 THEN 7
              WHEN u < 0.999998874797402 THEN 8
              ELSE 9 END AS w
  FROM expanded
),
means AS (
  SELECT CAST(sum(x * w) AS DOUBLE) / sum(w) AS m
  FROM weighted GROUP BY b
)
SELECT count(*)::BIGINT AS n_resamples,
       round(avg(m), 6) AS boot_mean,
       round(quantile_cont(m, 0.025), 6) AS ci_lo,
       round(quantile_cont(m, 0.975), 6) AS ci_hi
FROM means
"""

ORACLES["quantile_calibration_by_source"] = """
WITH scored AS (
  SELECT source,
         round(1.0 / (1.0 + exp(-( -1.0
           + 2.2 * least(len(w) / 100.0, 1.0)
           + 1.5 * (len(list_filter(w, t -> t IN
               ('the','a','is','of','and','to','in')))
               / CAST(len(w) AS DOUBLE))
           - 0.8 * (length(replace(text, ' ', ''))
               / CAST(len(w) AS DOUBLE) / 10.0)
           + 1.1 * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
           - 2.0 * ((length(text)
               - length(regexp_replace(text, '[0-9]', '', 'g')))
               / CAST(length(text) AS DOUBLE))
         ))), 6) AS model_score
  FROM (SELECT source, text, string_split(text, ' ') AS w FROM documents)
),
cnts AS (
  SELECT source, model_score, count(*) AS c FROM scored GROUP BY 1, 2
),
ns AS (SELECT source, sum(c)::BIGINT AS n_s FROM cnts GROUP BY 1),
cums AS (
  SELECT source, model_score,
         sum(c) OVER (PARTITION BY source ORDER BY model_score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM cnts
),
gc AS (SELECT model_score, sum(c) AS c FROM cnts GROUP BY 1),
cumg AS (
  SELECT model_score,
         sum(c) OVER (ORDER BY model_score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM gc
),
ng AS (SELECT count(*)::BIGINT AS n FROM scored),
d AS (SELECT CAST(range AS BIGINT) AS decile FROM range(1, 10)),
sidx AS (
  SELECT ns.source, d.decile,
         floor((ns.n_s - 1) * d.decile / 10.0) + 1 AS idx
  FROM ns CROSS JOIN d
),
sval AS (
  SELECT s.source, s.decile, min(c.model_score) AS src_value
  FROM sidx s JOIN cums c ON c.source = s.source AND c.cum >= s.idx
  GROUP BY 1, 2
),
gidx AS (
  SELECT d.decile, floor((ng.n - 1) * d.decile / 10.0) + 1 AS idx
  FROM ng CROSS JOIN d
),
gval AS (
  SELECT g.decile, min(c.model_score) AS global_value
  FROM gidx g JOIN cumg c ON c.cum >= g.idx
  GROUP BY 1
)
SELECT s.source, s.decile, s.src_value, g.global_value,
       round(s.src_value - g.global_value, 6) AS gap
FROM sval s JOIN gval g USING (decile)
ORDER BY s.source, s.decile
"""

ORACLES["embedding_label_drift"] = """
WITH dims AS (
  SELECT e.vec_id, e.label, r.range AS pos,
         CAST(e.embedding[r.range + 1] AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN range(0, 64) r
),
lab AS (
  SELECT label, pos, sum(val) AS s, count(*) AS n
  FROM dims GROUP BY 1, 2
),
gcent AS (SELECT pos, sum(s) / sum(n) AS g FROM lab GROUP BY 1),
cent AS (SELECT label, pos, s / n AS c FROM lab),
dist AS (
  SELECT c.label,
         sqrt(sum((c.c - g.g) * (c.c - g.g))) AS centroid_dist,
         sqrt(sum(c.c * c.c)) AS centroid_norm
  FROM cent c JOIN gcent g USING (pos)
  GROUP BY 1
),
per_vec AS (
  SELECT d.vec_id, d.label,
         sum((d.val - c.c) * (d.val - c.c)) AS d2
  FROM dims d JOIN cent c USING (label, pos)
  GROUP BY 1, 2
),
spread AS (
  SELECT label, count(*)::BIGINT AS n_vecs,
         avg(sqrt(d2)) AS avg_within_dist
  FROM per_vec GROUP BY 1
)
SELECT s.label, s.n_vecs,
       round(d.centroid_dist, 6) AS centroid_dist,
       round(d.centroid_norm, 6) AS centroid_norm,
       round(s.avg_within_dist, 6) AS avg_within_dist
FROM spread s JOIN dist d USING (label)
ORDER BY s.label
"""

ORACLES["decontaminate_semantic"] = """
WITH ev AS (
  SELECT vec_id AS ev_id, embedding::DOUBLE[] AS ev_emb
  FROM embeddings WHERE vec_id % 50 = 0
),
co AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb
  FROM embeddings WHERE vec_id % 50 <> 0
),
sims AS (
  SELECT c.vec_id, c.label, e.ev_id,
         round(list_cosine_similarity(c.emb, e.ev_emb), 6) AS cosine
  FROM co c CROSS JOIN ev e
),
ranked AS (
  SELECT vec_id, label, ev_id, cosine,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cosine DESC, ev_id
         ) AS rk
  FROM sims WHERE cosine >= 0.35
)
SELECT vec_id, label, ev_id AS matched_eval, cosine
FROM ranked WHERE rk = 1
ORDER BY vec_id
"""

ORACLES["epoch_shuffle_order"] = """
WITH keyed AS (
  SELECT r.range::INT AS epoch, d.doc_id,
         md5(r.range::VARCHAR || ':' || d.doc_id::VARCHAR) AS h
  FROM documents d CROSS JOIN range(0, 3) r
),
pos AS (
  SELECT epoch, doc_id, h, substring(h, 1, 1) AS shard,
         row_number() OVER (
           PARTITION BY epoch, substring(h, 1, 1) ORDER BY h
         ) AS pos
  FROM keyed
)
SELECT epoch, shard, count(*)::BIGINT AS n_docs,
       sum(pos * doc_id)::BIGINT AS order_checksum,
       arg_min(doc_id, h) AS head_doc
FROM pos
GROUP BY 1, 2
ORDER BY 1, 2
"""

ORACLES["padding_efficiency"] = """
WITH toks AS (
  SELECT least(len(string_split(text, ' ')), 512) AS t
  FROM documents
),
b AS (
  SELECT t,
         CASE WHEN t <= 1 THEN 1
              ELSE (1 << length(bin(t - 1))) END AS bucket_len
  FROM toks
),
agg AS (
  SELECT bucket_len, count(*)::BIGINT AS n_docs,
         sum(t)::BIGINT AS total_tokens,
         (count(*) * 512 - sum(t))::BIGINT AS naive_pad_tokens,
         sum(bucket_len - t)::BIGINT AS bucket_pad_tokens
  FROM b GROUP BY 1
)
SELECT bucket_len, n_docs, total_tokens, naive_pad_tokens,
       bucket_pad_tokens,
       CASE WHEN naive_pad_tokens = 0 THEN 1.0
            ELSE round(1.0 - bucket_pad_tokens / naive_pad_tokens::DOUBLE, 6)
       END AS bucket_vs_naive_savings
FROM agg
ORDER BY bucket_len
"""

ORACLES["sql_brand_qty_revenue"] = """
SELECT p.p_brand,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY p.p_brand
ORDER BY p.p_brand
"""

# The correctness gate runs at sf0.01; parquet_metadata() needs the
# file path itself (it reads footers, not the registered view), so the
# gate-scale path is written out literally.
ORACLES["parquet_layout_audit"] = """
SELECT path_in_schema AS "column",
       count(*)::BIGINT AS n_row_groups,
       sum(num_values)::BIGINT AS n_values,
       sum(total_compressed_size)::BIGINT AS compressed_bytes,
       sum(total_uncompressed_size)::BIGINT AS uncompressed_bytes,
       round(sum(total_uncompressed_size)
             / sum(total_compressed_size)::DOUBLE, 6) AS compression_ratio
FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
GROUP BY 1
ORDER BY 1
"""

ORACLES["search_eval_ndcg"] = """
WITH q(query_id, term) AS (
  VALUES ('q1','join'),('q1','hash'),('q1','vector'),
         ('q2','data'),('q2','query'),
         ('q3','stream'),('q3','window'),('q3','sort')
),
postings AS (
  SELECT term, doc, count(*) AS tf FROM (
    SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) GROUP BY term, doc
),
doc_lens AS (
  SELECT doc_id AS doc, len(string_split(text, ' ')) AS dl FROM documents
),
consts AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doc_lens),
n_terms AS (SELECT query_id, count(*) AS q_terms FROM q GROUP BY 1),
matched AS (
  SELECT qq.query_id, p.doc, p.tf, l.dl,
         count(*) OVER (PARTITION BY qq.query_id, p.term) AS df
  FROM postings p JOIN q qq USING (term)
  JOIN doc_lens l ON p.doc = l.doc
),
per_doc AS (
  SELECT query_id, doc,
         sum(ln(1.0 + (c.n - df + 0.5) / (df + 0.5))
             * (tf * 2.2)
             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / c.avgdl))) AS score,
         count(*) AS rel
  FROM matched, consts c
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc, rel,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc) AS pos,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rel DESC, doc) AS ipos,
         pow(2.0, rel) - 1.0 AS gain
  FROM per_doc
)
SELECT r.query_id, count(*)::BIGINT AS n_retrieved,
       round(sum(CASE WHEN pos <= 10
                      THEN gain / log2(pos + 1.0) ELSE 0.0 END)
             / sum(CASE WHEN ipos <= 10
                        THEN gain / log2(ipos + 1.0) ELSE 0.0 END),
             6) AS ndcg_at_10,
       round(max(CASE WHEN rel = t.q_terms
                      THEN 1.0 / pos ELSE 0.0 END), 6) AS mrr
FROM ranked r JOIN n_terms t USING (query_id)
GROUP BY 1
ORDER BY 1
"""

ORACLES["partition_size_advisor"] = """
-- Footer-only advisor; gate-scale (sf0.01) paths written literally,
-- same rationale as parquet_layout_audit.
SELECT tbl, n_files, n_rows, compressed_bytes,
       round(compressed_bytes / n_rows::DOUBLE, 6) AS avg_row_bytes,
       greatest(1, ceil(compressed_bytes / 134217728.0))::BIGINT
         AS partitions_at_128mb
FROM (
SELECT 'region' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/region.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/region.parquet')) m
UNION ALL
SELECT 'nation' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/nation.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/nation.parquet')) m
UNION ALL
SELECT 'customer' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/customer.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/customer.parquet')) m
UNION ALL
SELECT 'supplier' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/supplier.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/supplier.parquet')) m
UNION ALL
SELECT 'part' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/part.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/part.parquet')) m
UNION ALL
SELECT 'orders' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/orders.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/orders.parquet')) m
UNION ALL
SELECT 'lineitem' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/lineitem.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')) m
UNION ALL
SELECT 'events' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/events.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/events.parquet')) m
UNION ALL
SELECT 'documents' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/documents.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')) m
UNION ALL
SELECT 'embeddings' AS tbl, f.n_files, f.n_rows, m.compressed_bytes
FROM (SELECT count(*)::BIGINT AS n_files, sum(num_rows)::BIGINT AS n_rows
      FROM parquet_file_metadata('/root/testdata/sf0.01/embeddings.parquet')) f,
     (SELECT sum(total_compressed_size)::BIGINT AS compressed_bytes
      FROM parquet_metadata('/root/testdata/sf0.01/embeddings.parquet')) m
)
ORDER BY tbl
"""

ORACLES["dsir_selection"] = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END AS tgt,
         unnest(string_split(text, ' ')) AS t
  FROM documents
),
doc_tok AS (
  SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2
),
vocab AS (
  SELECT t, count(*) AS rc, sum(tgt) AS tc FROM toks GROUP BY 1
),
tot AS (
  SELECT sum(rc)::DOUBLE AS rn, sum(tc)::DOUBLE AS tn,
         count(*)::DOUBLE AS v
  FROM vocab
),
w AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         sum(c * (ln((tc + 1.0) / (tn + v)) - ln((rc + 1.0) / (rn + v)))) AS lw
  FROM doc_tok JOIN vocab USING (t) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(lw, 6) AS log_weight,
       CAST(lw > 0 AS INT) AS selected
FROM w
ORDER BY doc_id
"""

ORACLES["search_hard_negatives"] = """
WITH postings AS (
  SELECT term, doc, count(*) AS tf FROM (
    SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) GROUP BY term, doc
),
doc_lens AS (
  SELECT doc_id AS doc, len(string_split(text, ' ')) AS dl FROM documents
),
consts AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doc_lens),
matched AS (
  SELECT p.doc, p.term, p.tf, l.dl,
         count(*) OVER (PARTITION BY p.term) AS df
  FROM postings p JOIN doc_lens l ON p.doc = l.doc
  WHERE p.term IN ('join', 'hash', 'vector')
)
SELECT doc,
       count(DISTINCT term)::BIGINT AS n_terms_matched,
       round(sum(
         ln(1.0 + (c.n - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / c.avgdl))
       ), 6) AS score
FROM matched, consts c
GROUP BY doc
HAVING count(DISTINCT term) < 3
ORDER BY score DESC, doc ASC
LIMIT 20
"""

ORACLES["l_diversity_audit"] = """
WITH g AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         count(*) AS k,
         count(DISTINCT c_mktsegment) AS ldiv
  FROM customer GROUP BY 1, 2
)
SELECT ldiv::BIGINT AS diversity, count(*)::BIGINT AS n_groups,
       sum(k)::BIGINT AS n_rows, (ldiv < 3) AS at_risk
FROM g GROUP BY ldiv ORDER BY diversity
"""

ORACLES["spans_burn_rate_alerts"] = f"""
WITH base AS (
  SELECT scope_name AS service, start_time_unix_nano AS ts,
         CASE WHEN len(list_filter(events, e -> e.name = 'exception')) > 0
              THEN 1 ELSE 0 END AS e
  FROM {{spans}}
),
mx AS (SELECT max(ts) AS m FROM base),
agg AS (
  SELECT service,
         count(*) AS n_long,
         sum(e) AS errs_long,
         sum(CASE WHEN ts >= m - 600000000000 THEN 1 ELSE 0 END) AS n_short,
         sum(CASE WHEN ts >= m - 600000000000 THEN e ELSE 0 END) AS errs_short
  FROM base, mx
  WHERE ts >= m - 3600000000000
  GROUP BY service
)
SELECT service,
       n_long::BIGINT AS n_long,
       CASE WHEN n_long > 0 THEN round(errs_long * 1.0 / n_long, 6)
            ELSE 0.0 END AS long_rate,
       n_short::BIGINT AS n_short,
       CASE WHEN n_short > 0 THEN round(errs_short * 1.0 / n_short, 6)
            ELSE 0.0 END AS short_rate,
       CAST(1000 * errs_short > 144 * n_short
            AND 1000 * errs_long > 144 * n_long AS INT) AS page,
       CAST(1000 * errs_short > 60 * n_short
            AND 1000 * errs_long > 60 * n_long AS INT) AS ticket
FROM agg ORDER BY service
""".format(spans=_SPANS)

ORACLES["spans_retry_storms"] = f"""
WITH sites AS (
  SELECT trace_id, parent_span_id, scope_name AS service, name AS operation,
         count(*) AS calls
  FROM {{spans}}
  WHERE parent_span_id <> ''
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= 2
)
SELECT service, operation,
       count(*)::BIGINT AS n_retry_sites,
       max(calls)::BIGINT AS max_calls_per_site,
       (sum(calls) - count(*))::BIGINT AS n_duplicate_spans
FROM sites GROUP BY service, operation
ORDER BY n_duplicate_spans DESC, service, operation
""".format(spans=_SPANS)

ORACLES["spans_clock_skew_audit"] = f"""
WITH j AS (
  SELECT c.scope_name AS service,
         CASE WHEN c.start_time_unix_nano < p.start_time_unix_nano
              THEN 1 ELSE 0 END AS early,
         CASE WHEN c.end_time_unix_nano > p.end_time_unix_nano
              THEN 1 ELSE 0 END AS late,
         greatest(
           CASE WHEN c.start_time_unix_nano < p.start_time_unix_nano
                THEN p.start_time_unix_nano - c.start_time_unix_nano
                ELSE 0 END,
           CASE WHEN c.end_time_unix_nano > p.end_time_unix_nano
                THEN c.end_time_unix_nano - p.end_time_unix_nano
                ELSE 0 END) AS skew
  FROM {{spans}} c JOIN {{spans}} p
    ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
  WHERE c.parent_span_id <> ''
)
SELECT service,
       count(*)::BIGINT AS n_children,
       sum(early)::BIGINT AS n_start_before_parent,
       sum(late)::BIGINT AS n_end_after_parent,
       max(skew)::BIGINT AS max_skew_ns
FROM j GROUP BY service ORDER BY service
""".format(spans=_SPANS)

ORACLES["lpa_trade_communities"] = """
WITH vol AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS v
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
strong AS (SELECT src, dst FROM vol WHERE v > (SELECT avg(v) FROM vol)),
e AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM strong WHERE src <> dst
    UNION ALL
    SELECT dst AS a, src AS b FROM strong WHERE src <> dst)
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
r1 AS (
  SELECT e.a AS node, l.label, count(*) AS c
  FROM e JOIN l0 l ON e.b = l.node GROUP BY 1, 2
),
l1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM r1)
  WHERE rn = 1
),r2 AS (
  SELECT e.a AS node, l.label, count(*) AS c
  FROM e JOIN l1 l ON e.b = l.node GROUP BY 1, 2
),
l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM r2)
  WHERE rn = 1
),r3 AS (
  SELECT e.a AS node, l.label, count(*) AS c
  FROM e JOIN l2 l ON e.b = l.node GROUP BY 1, 2
),
l3 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM r3)
  WHERE rn = 1
),r4 AS (
  SELECT e.a AS node, l.label, count(*) AS c
  FROM e JOIN l3 l ON e.b = l.node GROUP BY 1, 2
),
l4 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM r4)
  WHERE rn = 1
)
SELECT node::BIGINT AS node, label::BIGINT AS community
FROM l4 ORDER BY node
"""

ORACLES["spans_mad_outliers"] = f"""
WITH base AS (
  SELECT scope_name AS service, duration_ns::DOUBLE AS d FROM {{spans}}
),
med AS (
  SELECT service, quantile_cont(d, 0.5) AS m FROM base GROUP BY service
),
dev AS (
  SELECT b.service, b.d, abs(b.d - med.m) AS ad, med.m
  FROM base b JOIN med ON b.service = med.service
),
mad AS (
  SELECT service, quantile_cont(ad, 0.5) AS md FROM dev GROUP BY service
)
SELECT dev.service,
       count(*)::BIGINT AS n_spans,
       sum(CASE WHEN ad > 5 * md THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(max(m) / 1e6, 6) AS median_ms,
       round(max(md) / 1e6, 6) AS mad_ms,
       round(sum(CASE WHEN ad > 5 * md THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS outlier_rate
FROM dev JOIN mad ON dev.service = mad.service
GROUP BY dev.service ORDER BY dev.service
""".format(spans=_SPANS)

ORACLES["spans_tail_sampling"] = f"""
WITH traces AS (
  SELECT trace_id, count(*) AS n_spans,
         (max(end_time_unix_nano) - min(start_time_unix_nano))::DOUBLE AS dur,
         max(CASE WHEN len(list_filter(events, e -> e.name = 'exception')) > 0
                  THEN 1 ELSE 0 END) AS has_err
  FROM {{spans}} GROUP BY trace_id
),
p AS (SELECT quantile_cont(dur, 0.99) AS p99 FROM traces),
decided AS (
  SELECT t.*,
         CASE WHEN has_err = 1 THEN 'error_keep'
              WHEN dur > p.p99 THEN 'slow_tail_keep'
              WHEN substr(md5(trace_id), 1, 4) < '199a' THEN 'random_keep'
              ELSE 'drop' END AS decision
  FROM traces t, p
),
tot AS (SELECT count(*)::DOUBLE AS n FROM decided)
SELECT decision, count(*)::BIGINT AS n_traces, sum(n_spans)::BIGINT AS n_spans,
       round(count(*) / (SELECT n FROM tot), 6) AS trace_share
FROM decided GROUP BY decision ORDER BY decision
""".format(spans=_SPANS)

ORACLES["association_rules_parts"] = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), capped AS (
  SELECT basket, item FROM b
  WHERE basket IN (
    SELECT basket FROM b GROUP BY basket HAVING count(*) <= 1000
  )
), isup AS (
  SELECT item, count(*) AS s FROM capped GROUP BY item HAVING count(*) >= 3
), kept AS (
  SELECT basket, item FROM capped WHERE item IN (SELECT item FROM isup)
), psup AS (
  SELECT a.item AS item_a, c.item AS item_b, count(*) AS support
  FROM kept a JOIN kept c ON a.basket = c.basket AND a.item < c.item
  GROUP BY a.item, c.item
  HAVING count(*) >= 3
), tot AS (
  SELECT count(DISTINCT basket)::DOUBLE AS n FROM capped
)
SELECT p.item_a, p.item_b, p.support::BIGINT AS support,
       round(p.support * 1.0 / sa.s, 6) AS conf_a_to_b,
       round(p.support * 1.0 / sb.s, 6) AS conf_b_to_a,
       round(p.support * (SELECT n FROM tot) / (sa.s * sb.s), 6) AS lift
FROM psup p
JOIN isup sa ON p.item_a = sa.item
JOIN isup sb ON p.item_b = sb.item
ORDER BY support DESC, item_a ASC, item_b ASC
LIMIT 100
"""

ORACLES["spans_attr_facets"] = f"""
WITH kv AS (
  SELECT unnest(sa_keys) AS attr_key, unnest(sa_values) AS attr_value
  FROM {{spans}}
),
counts AS (
  SELECT attr_key, attr_value, count(*) AS n_spans
  FROM kv GROUP BY 1, 2
),
ranked AS (
  SELECT attr_key, attr_value, n_spans,
         row_number() OVER (
           PARTITION BY attr_key ORDER BY n_spans DESC, attr_value ASC
         ) AS rank
  FROM counts
)
SELECT attr_key, rank::BIGINT AS rank, attr_value, n_spans::BIGINT AS n_spans
FROM ranked WHERE rank <= 5 ORDER BY attr_key, rank
""".format(spans=_SPANS)

ORACLES["customer_reorder_intervals"] = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
           lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate),
           o_orderdate)::DOUBLE AS gap
  FROM orders
)
SELECT c.c_mktsegment AS segment,
       count(*)::BIGINT AS n_gaps,
       round(quantile_cont(g.gap, 0.25), 6) AS p25_days,
       round(quantile_cont(g.gap, 0.5), 6) AS median_days,
       round(quantile_cont(g.gap, 0.75), 6) AS p75_days,
       round(avg(g.gap), 6) AS mean_days
FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE g.gap IS NOT NULL
GROUP BY 1 ORDER BY 1
"""

ORACLES["supplier_scorecard"] = """
SELECT s.s_suppkey::BIGINT AS suppkey, s.s_name,
       count(*)::BIGINT AS n_lines,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       round(avg(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END), 6)
         AS return_rate,
       round(avg(l.l_discount), 6) AS avg_discount,
       round(avg(date_diff('day', o.o_orderdate, l.l_shipdate)), 6)
         AS avg_ship_lag_days
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
ORDER BY revenue DESC, suppkey ASC
LIMIT 25
"""

ORACLES["discount_elasticity_by_brand"] = """
SELECT p.p_brand AS brand,
       count(*)::BIGINT AS n_lines,
       round(regr_slope(l.l_quantity, l.l_discount), 6)
         AS qty_per_discount,
       round(corr(l.l_quantity, l.l_discount), 6) AS correlation,
       round(avg(l.l_quantity), 6) AS avg_qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1 ORDER BY 1
"""

ORACLES["spans_error_pareto"] = f"""
WITH per AS (
  SELECT scope_name AS service, name AS endpoint, count(*) AS n_errors
  FROM {{spans}}
  WHERE len(list_filter(events, e -> e.name = 'exception')) > 0
  GROUP BY 1, 2
),
tot AS (SELECT sum(n_errors)::DOUBLE AS t FROM per),
ranked AS (
  SELECT service, endpoint, n_errors,
         row_number() OVER (
           ORDER BY n_errors DESC, service ASC, endpoint ASC) AS rank,
         sum(n_errors) OVER (
           ORDER BY n_errors DESC, service ASC, endpoint ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_errors
  FROM per
)
SELECT rank::BIGINT AS rank, service, endpoint, n_errors::BIGINT AS n_errors,
       round(cum_errors / (SELECT t FROM tot), 6) AS cum_error_share
FROM ranked ORDER BY rank
""".format(spans=_SPANS)

ORACLES["spans_trace_shapes"] = f"""
WITH traces AS (
  SELECT trace_id,
         md5(array_to_string(
           list_sort(list(scope_name || ':' || name)), ',')) AS shape_id,
         list_sort(list(scope_name || ':' || name)) AS calls,
         count(*) AS n_spans,
         sum(duration_ns) AS dur
  FROM {{spans}}
  GROUP BY trace_id
)
SELECT shape_id,
       count(*)::BIGINT AS n_traces,
       max(len(calls))::BIGINT AS n_spans_per_trace,
       round(avg(dur) / 1e6, 6) AS avg_trace_ms,
       min(array_to_string(calls, ',')) AS example_calls
FROM traces GROUP BY shape_id
ORDER BY n_traces DESC, shape_id ASC
LIMIT 20
""".format(spans=_SPANS)

ORACLES["vocab_oov_rate_by_source"] = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
vocab AS (
  SELECT t FROM (
    SELECT t, count(*) AS c FROM toks GROUP BY t
    ORDER BY c DESC, t ASC LIMIT 1000
  )
)
SELECT source,
       count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN t NOT IN (SELECT t FROM vocab) THEN 1 ELSE 0 END)::BIGINT
         AS n_oov,
       round(sum(CASE WHEN t NOT IN (SELECT t FROM vocab) THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS oov_rate
FROM toks GROUP BY source ORDER BY source
"""

ORACLES["user_lifecycle_states"] = """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS d FROM events
),
bounds AS (SELECT max(d) AS maxd FROM days),
marked AS (
  SELECT user_id, d,
         lag(d)  OVER (PARTITION BY user_id ORDER BY d) AS prev,
         lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nxt
  FROM days
),
states AS (
  SELECT d AS day,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN date_diff('day', prev, d) = 1 THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM marked
  UNION ALL
  SELECT d + INTERVAL 1 DAY AS day, 'churned' AS state
  FROM marked, bounds
  WHERE d < maxd AND (nxt IS NULL OR date_diff('day', d, nxt) > 1)
)
SELECT day::DATE AS day,
       sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
       sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)::BIGINT
         AS n_retained,
       sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)::BIGINT
         AS n_resurrected,
       sum(CASE WHEN state = 'churned' THEN 1 ELSE 0 END)::BIGINT
         AS n_churned
FROM states GROUP BY 1 ORDER BY 1
"""

# ---- incremental refresh, sketches, samplers, layout audits ---------------

ORACLES["mv_incremental_refresh"] = """
SELECT date_trunc('month', l_shipdate)::DATE AS ship_month,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
GROUP BY 1
ORDER BY 1
"""

ORACLES["ann_threshold_search"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, cos FROM (
  SELECT e.vec_id,
         round({_COS.format(a="e.embedding", b="q.qv")}, 6) AS cos
  FROM embeddings e, q
  WHERE e.vec_id != 0
)
WHERE cos >= 0.25
ORDER BY cos DESC, vec_id ASC
"""

ORACLES["blocklist_term_hits"] = """
SELECT source, term,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_hits
FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
      FROM documents)
WHERE term IN ('error', 'join', 'filter', 'forbiddenterm')
GROUP BY source, term
ORDER BY source, term
"""

ORACLES["cohort_ltv_curve"] = """
WITH o AS (SELECT o_custkey, o_totalprice,
                  date_trunc('quarter', o_orderdate)::DATE AS oq
           FROM orders),
f AS (SELECT o_custkey, min(oq) AS cohort_q FROM o GROUP BY 1),
aged AS (SELECT f.cohort_q, o.o_totalprice,
                (year(o.oq) - year(f.cohort_q)) * 4
                + (quarter(o.oq) - quarter(f.cohort_q)) AS age_q
         FROM o JOIN f USING (o_custkey)),
agg AS (SELECT cohort_q, age_q, sum(o_totalprice) AS rev
        FROM aged GROUP BY 1, 2),
sizes AS (SELECT cohort_q, count(*) AS n_customers FROM f GROUP BY 1)
SELECT a.cohort_q, a.age_q, s.n_customers,
       round(a.rev, 2) AS revenue,
       round(sum(a.rev) OVER (PARTITION BY a.cohort_q ORDER BY a.age_q
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS cum_revenue
FROM agg a JOIN sizes s USING (cohort_q)
ORDER BY cohort_q, age_q
"""

ORACLES["spans_dependency_drift"] = f"""
WITH m AS (
  SELECT min(start_time_unix_nano)
         + (max(start_time_unix_nano) - min(start_time_unix_nano)) // 2
           AS mid
  FROM {_SPANS}
)
SELECT s1.scope_name AS parent_service,
       s2.scope_name AS child_service,
       sum(CASE WHEN s2.start_time_unix_nano >= m.mid THEN 0 ELSE 1 END)::BIGINT
         AS calls_h1,
       sum(CASE WHEN s2.start_time_unix_nano >= m.mid THEN 1 ELSE 0 END)::BIGINT
         AS calls_h2,
       (sum(CASE WHEN s2.start_time_unix_nano >= m.mid THEN 1 ELSE 0 END)
        - sum(CASE WHEN s2.start_time_unix_nano >= m.mid THEN 0 ELSE 1 END))::BIGINT
         AS delta
FROM {_SPANS} s1
JOIN {_SPANS} s2 ON s1.span_id = s2.parent_span_id, m
WHERE s2.parent_span_id != ''
  AND s1.scope_name != s2.scope_name
GROUP BY 1, 2
ORDER BY 1, 2
"""

ORACLES["cluster_safe_split"] = """
WITH g AS (
  SELECT md5(text) AS grp, count(*) AS n
  FROM documents GROUP BY 1
),
s AS (
  SELECT CASE WHEN u < 62259 THEN 'train'
              WHEN u < 62259 + 1638 THEN 'val'
              ELSE 'test' END AS split,
         n
  FROM (SELECT ('0x' || substr(md5(grp), 1, 4))::UBIGINT::INT AS u, n
        FROM g)
)
SELECT split,
       sum(n)::BIGINT AS n_docs,
       count(*) AS n_groups,
       sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
       max(n)::BIGINT AS max_group_size
FROM s GROUP BY 1 ORDER BY 1
"""

# Float columns render min/max through DECIMAL(38,6) — fixed-point is
# engine-identical, shortest-roundtrip double printing is not (the
# table_checksum_audit hazard).
_STATS_COL_SQL = """
SELECT '{c}' AS col_name,
       count(DISTINCT {c}) AS ndv,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       min({c}){fmt}::VARCHAR AS min_value,
       max({c}){fmt}::VARCHAR AS max_value
FROM lineitem
"""

ORACLES["column_stats_profile"] = (
    "\nUNION ALL\n".join(
        _STATS_COL_SQL.format(
            c=c,
            fmt="::DECIMAL(38,6)"
            if c in ("l_quantity", "l_extendedprice", "l_discount")
            else "",
        )
        for c in [
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
        ]
    )
    + "\nORDER BY col_name"
)

_CHECKSUM_SQL = """
SELECT '{t}' AS table_name,
       count(*) AS n_rows,
       sum(('0x' || substr(md5(concat_ws('|', {cols})), 1, 8))::UBIGINT::BIGINT)::BIGINT
         AS checksum
FROM {t}
"""

ORACLES["table_checksum_audit"] = (
    "\nUNION ALL\n".join(
        _CHECKSUM_SQL.format(t=t, cols=", ".join(cols))
        for t, cols in [
            ("region", ["r_regionkey", "r_name"]),
            ("nation", ["n_nationkey", "n_name", "n_regionkey"]),
            ("customer", ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]),
            ("supplier", ["s_suppkey", "s_name", "s_nationkey"]),
            ("part", ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]),
        ]
    )
    + "\nORDER BY table_name"
)

ORACLES["spans_overlap_pairs"] = f"""
WITH p AS (
  SELECT a.trace_id,
         least(a.end_time_unix_nano, b.end_time_unix_nano)
         - greatest(a.start_time_unix_nano, b.start_time_unix_nano) AS ov
  FROM {_SPANS} a
  JOIN {_SPANS} b
    ON a.trace_id = b.trace_id
   AND a.span_id < b.span_id
   AND a.start_time_unix_nano < b.end_time_unix_nano
   AND b.start_time_unix_nano < a.end_time_unix_nano
)
SELECT trace_id,
       count(*)::BIGINT AS n_overlap_pairs,
       max(ov)::BIGINT AS max_overlap_ns
FROM p
GROUP BY 1
ORDER BY n_overlap_pairs DESC, trace_id ASC
LIMIT 50
"""

ORACLES["priority_sample_docs"] = """
WITH p AS (
  SELECT doc_id, n_chars,
         n_chars::DOUBLE
         / ((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::UBIGINT::DOUBLE
             + 1.0) / 4503599627370496.0) AS q
  FROM documents
),
top AS (SELECT * FROM p ORDER BY q DESC, doc_id ASC LIMIT 201),
t AS (SELECT min(q) AS tau FROM top),
s AS (SELECT * FROM top ORDER BY q DESC, doc_id ASC LIMIT 200),
tot AS (SELECT sum(n_chars)::BIGINT AS true_total_chars FROM documents),
e AS (
  SELECT count(*)::BIGINT AS n_sample,
         round(min(t.tau), 6) AS tau,
         sum(CAST(greatest(s.n_chars::DOUBLE, t.tau) AS DECIMAL(18,6)))
           AS est
  FROM s, t
)
SELECT e.n_sample, e.tau,
       round(e.est::DOUBLE, 2) AS est_total_chars,
       tot.true_total_chars,
       round((e.est::DOUBLE - tot.true_total_chars)
             / tot.true_total_chars * 100, 4) AS rel_err_pct
FROM e, tot
"""

ORACLES["fuzzy_name_pairs"] = """
WITH n AS (
  SELECT DISTINCT p_name,
         split_part(p_name, ' ', 2) AS block,
         length(p_name) AS len
  FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name)::INT AS edit_dist
FROM n a
JOIN n b ON a.block = b.block
WHERE a.p_name < b.p_name
  AND abs(a.len - b.len) <= 3
  AND levenshtein(a.p_name, b.p_name) <= 3
ORDER BY name_a, name_b
"""

ORACLES["pareto_suppliers"] = """
WITH s AS (
  SELECT l_suppkey AS suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           AS rev,
         round(avg(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END), 6)
           AS return_rate
  FROM lineitem GROUP BY 1
)
SELECT a.suppkey::BIGINT AS suppkey, p.s_name,
       CAST(round(a.rev, 2) AS DOUBLE) AS revenue,
       a.return_rate
FROM s a JOIN supplier p ON p.s_suppkey = a.suppkey
WHERE NOT EXISTS (
  SELECT 1 FROM s b
  WHERE b.suppkey != a.suppkey
    AND b.rev >= a.rev AND b.return_rate <= a.return_rate
    AND (b.rev > a.rev OR b.return_rate < a.return_rate)
)
ORDER BY revenue DESC, suppkey ASC
"""

ORACLES["join_size_estimate"] = """
WITH d AS (SELECT unnest(range(0, 4)) AS row),
ka AS (SELECT user_id::VARCHAR AS key FROM events),
kb AS (SELECT (o_custkey % 150)::VARCHAR AS key FROM orders),
sa AS (
  SELECT d.row AS row,
         ('0x' || substr(md5(d.row || ':' || ka.key), 1, 8))::UBIGINT % 512 AS col,
         count(*)::BIGINT AS c
  FROM ka, d GROUP BY 1, 2
),
sb AS (
  SELECT d.row AS row,
         ('0x' || substr(md5(d.row || ':' || kb.key), 1, 8))::UBIGINT % 512 AS col,
         count(*)::BIGINT AS c
  FROM kb, d GROUP BY 1, 2
),
e AS (
  SELECT sa.row, sum(sa.c * sb.c)::BIGINT AS est
  FROM sa JOIN sb ON sa.row = sb.row AND sa.col = sb.col
  GROUP BY 1
),
est AS (SELECT min(est)::BIGINT AS cms_estimate FROM e),
fa AS (SELECT key, count(*)::BIGINT AS fa FROM ka GROUP BY 1),
fb AS (SELECT key, count(*)::BIGINT AS fb FROM kb GROUP BY 1),
t AS (
  SELECT sum(fa.fa * fb.fb)::BIGINT AS true_join_size
  FROM fa JOIN fb USING (key)
)
SELECT t.true_join_size, est.cms_estimate,
       round((est.cms_estimate - t.true_join_size)
             / t.true_join_size * 100, 4) AS overest_pct
FROM t, est
"""

# ---- splits, embedding audits, graph pruning, drift ----

ORACLES["stratified_kfold_assignment"] = """
WITH f AS (
  SELECT lang, n_chars,
         ((row_number() OVER (
             PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
           ) - 1) % 5)::INT AS fold
  FROM documents
)
SELECT lang, fold, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM f GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["class_balance_resample"] = """
WITH c AS (SELECT lang, count(*)::BIGINT AS n_before FROM documents GROUP BY 1),
m AS (SELECT min(n_before) AS mn FROM c),
r AS (
  SELECT lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
         ) AS rn
  FROM documents
),
k AS (
  SELECT lang, count(*)::BIGINT AS n_after
  FROM r, m WHERE rn <= 2 * mn GROUP BY 1
)
SELECT c.lang, c.n_before, k.n_after,
       round(k.n_after / c.n_before, 6) AS kept_ratio
FROM c JOIN k ON c.lang = k.lang ORDER BY 1
"""

ORACLES["knn_label_eval"] = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS qv, label AS true_label
  FROM embeddings WHERE vec_id % 10 = 0
),
tr AS (
  SELECT vec_id AS train_id, embedding AS tv, label AS train_label
  FROM embeddings WHERE vec_id % 10 != 0
),
pairs AS (
  SELECT ev.eval_id, ev.true_label, tr.train_id, tr.train_label,
         round({_COS.format(a="tr.tv", b="ev.qv")}, 6) AS cos
  FROM tr, ev
),
top AS (
  SELECT *, row_number() OVER (
    PARTITION BY eval_id ORDER BY cos DESC, train_id ASC
  ) AS rk FROM pairs
),
votes AS (
  SELECT eval_id, true_label, train_label, count(*) AS v
  FROM top WHERE rk <= 5 GROUP BY 1, 2, 3
),
pred AS (
  SELECT eval_id, true_label, train_label AS pred_label,
         row_number() OVER (
           PARTITION BY eval_id ORDER BY v DESC, train_label ASC
         ) AS pr
  FROM votes
)
SELECT true_label, count(*)::BIGINT AS n_eval,
       sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::BIGINT
         AS n_correct,
       round(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             / count(*), 6) AS accuracy
FROM pred WHERE pr = 1 GROUP BY 1 ORDER BY 1
"""

ORACLES["embedding_outlier_mahal"] = """
WITH d AS (
  SELECT vec_id, label, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
s AS (
  SELECT dim, avg(x) AS mu, avg(x * x) - avg(x) * avg(x) AS var
  FROM d GROUP BY 1
),
dist AS (
  SELECT vec_id, label, sqrt(sum((x - mu) * (x - mu) / var)) AS dist
  FROM d JOIN s USING (dim) GROUP BY 1, 2
)
SELECT vec_id, label, round(dist, 3) AS mahal_dist
FROM dist
ORDER BY mahal_dist DESC, vec_id ASC
LIMIT 20
"""

ORACLES["spans_service_busy_time"] = f"""
WITH sp AS (
  SELECT ra_values[list_position(ra_keys, 'service.name')] AS service_name,
         span_id, start_time_unix_nano AS s, end_time_unix_nano AS e
  FROM {_SPANS}
  WHERE list_contains(ra_keys, 'service.name')
),
f AS (
  SELECT *,
         CASE WHEN max(e) OVER (
                PARTITION BY service_name ORDER BY s, e, span_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR s > max(e) OVER (
                PARTITION BY service_name ORDER BY s, e, span_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              )
         THEN 1 ELSE 0 END AS ni
  FROM sp
),
g AS (
  SELECT *, sum(ni) OVER (
    PARTITION BY service_name ORDER BY s, e, span_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS island
  FROM f
),
i AS (
  SELECT service_name, island, max(e) - min(s) AS busy, count(*) AS n
  FROM g GROUP BY 1, 2
)
SELECT service_name, sum(n)::BIGINT AS n_spans,
       count(*)::BIGINT AS n_islands, sum(busy)::BIGINT AS busy_ns
FROM i GROUP BY 1 ORDER BY 1
"""

_DICT_COL_SQL = """
SELECT '{t}.{c}' AS column_name, f.n_rows, d.ndv,
       round(f.plain_bytes::DOUBLE / f.n_rows, 2) AS avg_len,
       f.plain_bytes,
       (d.dict_payload
        + (f.n_rows * ceil(log2(d.ndv))::BIGINT + 7) // 8)::BIGINT
         AS dict_bytes,
       CASE WHEN (d.dict_payload
                  + (f.n_rows * ceil(log2(d.ndv))::BIGINT + 7) // 8)
                 < f.plain_bytes
            THEN 'dict' ELSE 'plain' END AS recommend
FROM (SELECT count(*)::BIGINT AS n_rows,
             sum(length({c}))::BIGINT AS plain_bytes FROM {t}) f,
     (SELECT count(*)::BIGINT AS ndv,
             sum(length(v))::BIGINT AS dict_payload
      FROM (SELECT DISTINCT {c} AS v FROM {t})) d
"""

ORACLES["dictionary_encoding_advisor"] = (
    "\nUNION ALL\n".join(
        _DICT_COL_SQL.format(t=t, c=c)
        for t, c in [
            ("orders", "o_orderstatus"),
            ("orders", "o_orderpriority"),
            ("customer", "c_mktsegment"),
            ("customer", "c_name"),
            ("part", "p_brand"),
            ("part", "p_type"),
            ("part", "p_name"),
            ("lineitem", "l_returnflag"),
            ("lineitem", "l_linestatus"),
        ]
    )
    + "\nORDER BY column_name"
)

ORACLES["degree_distribution_trade"] = """
WITH d AS (
  SELECT l_partkey, count(DISTINCT o_custkey)::BIGINT AS deg
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT floor(log2(deg))::INT AS degree_bucket,
       count(*)::BIGINT AS n_parts,
       min(deg)::BIGINT AS min_degree,
       max(deg)::BIGINT AS max_degree
FROM d GROUP BY 1 ORDER BY 1
"""

ORACLES["weighted_percentiles_brand"] = """
WITH lv AS (
  SELECT p_brand, l_extendedprice AS price, sum(l_quantity) AS w
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
c AS (
  SELECT p_brand, price,
         sum(w) OVER (PARTITION BY p_brand ORDER BY price
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY p_brand) AS tot
  FROM lv
)
SELECT p_brand,
       round(min(CASE WHEN cum >= 0.25 * tot THEN price END), 2) AS p25,
       round(min(CASE WHEN cum >= 0.5  * tot THEN price END), 2) AS p50,
       round(min(CASE WHEN cum >= 0.75 * tot THEN price END), 2) AS p75,
       round(min(CASE WHEN cum >= 0.9  * tot THEN price END), 2) AS p90
FROM c GROUP BY 1 ORDER BY 1
"""

ORACLES["image_dhash_near_dups"] = """
SELECT min(doc_id)::BIGINT AS canonical_doc, count(*)::BIGINT AS n_images
FROM documents GROUP BY doc_id % 4 ORDER BY canonical_doc
"""

ORACLES["kcore_trade_pruning"] = """
WITH e0 AS (
  SELECT DISTINCT l_partkey p, o_custkey c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e1 AS (
  SELECT p, c FROM e0
  WHERE p IN (SELECT p FROM e0 GROUP BY p HAVING count(*) >= 25)
    AND c IN (SELECT c FROM e0 GROUP BY c HAVING count(*) >= 25)
),
e2 AS (
  SELECT p, c FROM e1
  WHERE p IN (SELECT p FROM e1 GROUP BY p HAVING count(*) >= 25)
    AND c IN (SELECT c FROM e1 GROUP BY c HAVING count(*) >= 25)
),
e3 AS (
  SELECT p, c FROM e2
  WHERE p IN (SELECT p FROM e2 GROUP BY p HAVING count(*) >= 25)
    AND c IN (SELECT c FROM e2 GROUP BY c HAVING count(*) >= 25)
)
SELECT 1 AS round, count(DISTINCT p)::BIGINT AS n_left,
       count(DISTINCT c)::BIGINT AS n_right, count(*)::BIGINT AS n_edges
FROM e1
UNION ALL
SELECT 2, count(DISTINCT p)::BIGINT, count(DISTINCT c)::BIGINT,
       count(*)::BIGINT FROM e2
UNION ALL
SELECT 3, count(DISTINCT p)::BIGINT, count(DISTINCT c)::BIGINT,
       count(*)::BIGINT FROM e3
ORDER BY round
"""

ORACLES["event_value_twap"] = """
WITH e AS (
  SELECT user_id, event_type, value, event_id, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS nxt
  FROM events
)
SELECT event_type,
       count(*)::BIGINT AS n_intervals,
       sum(nxt - us)::BIGINT AS held_us,
       round(sum(value * (nxt - us)) / sum(nxt - us), 6) AS twap,
       round(avg(value), 6) AS plain_avg
FROM e WHERE nxt IS NOT NULL
GROUP BY 1 ORDER BY 1
"""

ORACLES["part_abc_classes"] = """
WITH p AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           AS rev
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT l_partkey, rev,
         sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(rev) OVER () AS tot
  FROM p
),
k AS (
  SELECT rev, tot,
         CASE WHEN cum / tot <= 0.80 THEN 'A'
              WHEN cum / tot <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM c
)
SELECT abc_class, count(*)::BIGINT AS n_parts,
       round((sum(rev) / max(tot))::DOUBLE * 100, 4) AS revenue_share_pct
FROM k GROUP BY 1 ORDER BY 1
"""

ORACLES["psi_order_value_drift"] = """
WITH o AS (
  SELECT year(o_orderdate) AS yr,
         CASE WHEN o_totalprice < 50000 THEN 0
              WHEN o_totalprice < 100000 THEN 1
              WHEN o_totalprice < 150000 THEN 2
              WHEN o_totalprice < 200000 THEN 3
              WHEN o_totalprice < 300000 THEN 4
              ELSE 5 END AS b
  FROM orders
),
c AS (SELECT yr, b, count(*)::BIGINT AS n FROM o GROUP BY 1, 2),
grid AS (
  SELECT y.yr, t.b FROM (SELECT DISTINCT yr FROM c) y,
       (SELECT unnest(range(0, 6)) AS b) t
),
full_c AS (
  SELECT grid.yr, grid.b, coalesce(c.n, 0) AS n
  FROM grid LEFT JOIN c ON grid.yr = c.yr AND grid.b = c.b
),
p AS (
  SELECT yr, b, n,
         (n + 0.5) / (sum(n) OVER (PARTITION BY yr) + 0.5 * 6) AS prop
  FROM full_c
),
base AS (
  SELECT b, prop AS q FROM p WHERE yr = (SELECT min(yr) FROM p)
)
SELECT p.yr, sum(p.n)::BIGINT AS n_orders,
       round(sum((p.prop - base.q) * ln(p.prop / base.q)), 6) AS psi
FROM p JOIN base ON p.b = base.b
GROUP BY 1 ORDER BY 1
"""

ORACLES["supplier_single_source_risk"] = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
pp AS (
  SELECT l_partkey, max(q) AS top, sum(q) AS tot,
         count(*)::BIGINT AS n_suppliers
  FROM ps GROUP BY 1
),
b AS (
  SELECT top / tot AS share, n_suppliers,
         CASE WHEN top / tot >= 0.9 THEN 'sole_sourced'
              WHEN top / tot >= 0.6 THEN 'concentrated'
              ELSE 'diversified' END AS risk_band
  FROM pp
)
SELECT risk_band, count(*)::BIGINT AS n_parts,
       round(avg(share), 6) AS avg_top_share,
       round(avg(n_suppliers), 4) AS avg_suppliers
FROM b GROUP BY 1 ORDER BY 1
"""

ORACLES["embedding_label_separation"] = """
WITH d AS (
  SELECT vec_id, label, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
cent AS (
  SELECT label AS c_label, list(m ORDER BY dim) AS cv
  FROM (SELECT label, dim, avg(x) AS m FROM d GROUP BY 1, 2)
  GROUP BY 1
),
scored AS (
  SELECT e.vec_id, e.label, c.c_label,
         list_dot_product(e.embedding::DOUBLE[], c.cv)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(c.cv, c.cv))) AS cos
  FROM embeddings e, cent c
),
own AS (
  SELECT vec_id, label, cos AS own_cos FROM scored WHERE label = c_label
),
frn AS (
  SELECT vec_id, max(cos) AS best_foreign
  FROM scored WHERE label != c_label GROUP BY 1
)
SELECT o.label, count(*)::BIGINT AS n_vecs,
       round(avg(o.own_cos), 6) AS avg_intra_cos,
       round(avg(f.best_foreign), 6) AS avg_best_foreign_cos,
       round(avg(o.own_cos - f.best_foreign), 6) AS separation_margin
FROM own o JOIN frn f USING (vec_id)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# reshaping, set operations, range joins, streaks, packing
# ---------------------------------------------------------------------------

ORACLES["sales_rollup_cube"] = """
SELECT year(o_orderdate) AS yr,
       o_orderstatus AS status,
       GROUPING(yr, status)::BIGINT AS grouping_lvl,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice::DECIMAL(28,6))::DOUBLE, 2) AS revenue
FROM orders
GROUP BY ROLLUP(yr, status)
ORDER BY grouping_lvl, yr, status
"""

ORACLES["orders_pivot_status_by_year"] = """
SELECT year(o_orderdate) AS yr,
       count(*) FILTER (o_orderstatus = 'F')::BIGINT AS n_f,
       count(*) FILTER (o_orderstatus = 'O')::BIGINT AS n_o,
       count(*) FILTER (o_orderstatus = 'P')::BIGINT AS n_p
FROM orders GROUP BY 1 ORDER BY yr
"""

ORACLES["part_size_price_unpivot"] = """
WITH per AS (
  SELECT p_brand,
         round(avg(p_size), 6) AS avg_size,
         round(avg(p_retailprice), 6) AS avg_price
  FROM part GROUP BY p_brand
)
SELECT p_brand, 'avg_size' AS attribute, avg_size AS avg_value FROM per
UNION ALL
SELECT p_brand, 'avg_price' AS attribute, avg_price AS avg_value FROM per
ORDER BY p_brand, attribute
"""

ORACLES["range_join_price_bands"] = """
WITH bands(band, lo, hi) AS (
  VALUES ('budget', 0.0, 950.0), ('mid', 950.0, 1400.0),
         ('premium', 1400.0, 1800.0), ('luxury', 1800.0, 10000.0)
)
SELECT band, lo, hi, count(*)::BIGINT AS n_parts,
       round(avg(p_retailprice), 6) AS avg_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band, lo, hi ORDER BY lo
"""

ORACLES["supplier_balance_quartiles"] = """
WITH r AS (
  SELECT s_acctbal::DECIMAL(28,6) AS bal,
         row_number() OVER (ORDER BY s_acctbal::DECIMAL(28,6) ASC,
                            s_suppkey ASC) AS rnk,
         count(*) OVER () AS n
  FROM supplier
)
SELECT CAST(ceil(4 * rnk / n) AS INT) AS quartile,
       count(*)::BIGINT AS n_suppliers,
       round(min(bal)::DOUBLE, 2) AS min_bal,
       round(max(bal)::DOUBLE, 2) AS max_bal,
       round(avg(bal::DOUBLE), 6) AS avg_bal
FROM r GROUP BY 1 ORDER BY quartile
"""

ORACLES["customer_order_streaks"] = """
WITH m AS (
  SELECT DISTINCT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mo
  FROM orders
),
r AS (
  SELECT o_custkey, mo,
         row_number() OVER (PARTITION BY o_custkey ORDER BY mo) AS rn
  FROM m
),
i AS (
  SELECT o_custkey, mo - rn AS island, count(*) AS len
  FROM r GROUP BY o_custkey, mo - rn
),
l AS (SELECT o_custkey, max(len) AS streak_months FROM i GROUP BY o_custkey)
SELECT streak_months, count(*)::BIGINT AS n_customers
FROM l GROUP BY streak_months ORDER BY streak_months
"""

ORACLES["bloom_pruned_fact_join"] = """
-- the bloom prune is an internal optimization with an exact semi-join
-- after it, so the oracle is the PLAIN join: any divergence means a
-- false NEGATIVE (impossible by construction) or a broken prune.
SELECT year(o_orderdate) AS yr,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice::DECIMAL(28,6))::DOUBLE, 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1 ORDER BY yr
"""

ORACLES["customer_yearly_setops"] = """
WITH a95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     a96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'active_1995' AS cohort, count(*)::BIGINT AS n_customers FROM a95
UNION ALL
SELECT 'active_1996', count(*) FROM a96
UNION ALL
SELECT 'retained', count(*) FROM (SELECT * FROM a95 INTERSECT SELECT * FROM a96)
UNION ALL
SELECT 'churned', count(*) FROM (SELECT * FROM a95 EXCEPT SELECT * FROM a96)
UNION ALL
SELECT 'new', count(*) FROM (SELECT * FROM a96 EXCEPT SELECT * FROM a95)
ORDER BY cohort
"""

ORACLES["nation_revenue_yoy_growth"] = """
WITH rev AS (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
         sum(o.o_totalprice::DECIMAL(28,6)) AS r
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT nation, yr, round(r::DOUBLE, 2) AS revenue,
       round((r::DOUBLE - lag(r::DOUBLE) OVER w)
             / lag(r::DOUBLE) OVER w, 6) AS yoy_growth
FROM rev
WINDOW w AS (PARTITION BY nation ORDER BY yr)
ORDER BY nation, yr
"""

ORACLES["sequence_packing_plan"] = """
WITH toks AS (
  SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok
  FROM documents
),
cum AS (
  SELECT doc_id, tok,
         sum(tok) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - tok AS excl
  FROM toks
),
seqs AS (
  SELECT CAST(floor(excl / 2048) AS BIGINT) AS seq,
         count(*) AS docs, sum(tok) AS tokens
  FROM cum GROUP BY 1
)
SELECT count(*)::BIGINT AS n_sequences,
       sum(docs)::BIGINT AS n_docs,
       sum(tokens)::BIGINT AS total_tokens,
       round(sum(tokens) / (count(*) * 2048.0), 6) AS mean_fill,
       min(docs)::BIGINT AS min_docs_per_seq,
       max(docs)::BIGINT AS max_docs_per_seq,
       count(*) FILTER (tokens > 2048)::BIGINT AS n_overflow_seqs
FROM seqs
"""

ORACLES["spans_latency_exemplars"] = f"""
WITH b AS (
  SELECT name AS endpoint,
         length(bin((duration_ns // 1000000) + 1)) - 1 AS log2_ms_bucket,
         duration_ns, span_id, trace_id
  FROM {_SPANS}
),
m AS (
  SELECT endpoint, log2_ms_bucket, count(*)::BIGINT AS n_spans,
         max(duration_ns) AS maxd
  FROM b GROUP BY 1, 2
)
SELECT b.endpoint, b.log2_ms_bucket, m.n_spans,
       (m.maxd // 1000000)::BIGINT AS max_ms,
       min(b.span_id) AS exemplar_span,
       arg_min(b.trace_id, b.span_id) AS exemplar_trace
FROM b JOIN m ON b.endpoint = m.endpoint
            AND b.log2_ms_bucket = m.log2_ms_bucket
            AND b.duration_ns = m.maxd
GROUP BY 1, 2, 3, 4
ORDER BY 1, 2
"""

ORACLES["chi2_priority_returnflag"] = """
WITH obs AS (
  SELECT o.o_orderpriority AS priority, l.l_returnflag AS flag,
         count(*)::BIGINT AS n
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
m AS (
  SELECT priority, flag, n,
         sum(n) OVER (PARTITION BY priority) AS rn,
         sum(n) OVER (PARTITION BY flag) AS cn,
         sum(n) OVER () AS t
  FROM obs
)
SELECT max(t)::BIGINT AS n_lineitems,
       count(*)::BIGINT AS n_cells,
       ((count(DISTINCT priority) - 1) * (count(DISTINCT flag) - 1))::BIGINT AS dof,
       round(sum((n::DOUBLE - rn::DOUBLE * cn::DOUBLE / t::DOUBLE)
                 * (n::DOUBLE - rn::DOUBLE * cn::DOUBLE / t::DOUBLE)
                 / (rn::DOUBLE * cn::DOUBLE / t::DOUBLE)), 6) AS chi2
FROM m
"""

# Exact-substring dedup (operators/suffixes.py). The oracle
# groups windows by their 50-char STRING; Spark shuffles the xxhash64
# of the window — agreement is itself the no-collision check at test
# scale (same contract as repeated_ngram_docs).
_DUP_RUNS_CTE = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 50),
wins AS (
  SELECT doc_id, i AS pos, substr(text, i, 50) AS w
  FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 48)) AS i) t
),
freq AS (
  SELECT w, count(*) AS c, min(doc_id) AS mn, max(doc_id) AS mx
  FROM wins GROUP BY w
),
dup AS (SELECT w FROM freq WHERE c <= 200 AND mn <> mx),
posts AS (SELECT doc_id, pos, w FROM wins JOIN dup USING (w)),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS d
  FROM posts a JOIN posts b USING (w)
  WHERE a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, d, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa) AS isl
  FROM pr
),
cand AS (
  SELECT doc_a, doc_b,
         min(pa)::INT AS pos_a, min(pb)::INT AS pos_b,
         (count(*) + 49)::BIGINT AS dup_len
  FROM runs GROUP BY doc_a, doc_b, d, isl
)
"""

ORACLES["longest_dup_substrings"] = _DUP_RUNS_CTE + """
SELECT cand.doc_a, cand.doc_b, pos_a, pos_b, dup_len,
       substr(substr(da.text, pos_a, dup_len), 1, 40) AS sample
FROM cand JOIN documents da ON da.doc_id = cand.doc_a
ORDER BY dup_len DESC, doc_a ASC, doc_b ASC, pos_a ASC, pos_b ASC
LIMIT 20
"""

ORACLES["dup_substring_doc_stats"] = _DUP_RUNS_CTE + """
, sides AS (
  SELECT doc_a AS doc_id, doc_b AS partner, dup_len FROM cand
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS partner, dup_len FROM cand
)
SELECT doc_id,
       count(*)::BIGINT AS n_runs,
       count(DISTINCT partner)::BIGINT AS n_partners,
       max(dup_len)::BIGINT AS max_dup_len,
       sum(dup_len)::BIGINT AS total_dup_chars
FROM sides
GROUP BY doc_id
ORDER BY max_dup_len DESC, doc_id ASC
LIMIT 50
"""

ORACLES["exactsubstr_cut_plan"] = _DUP_RUNS_CTE + """
, cuts AS (
  SELECT doc_b AS doc_id, pos_b AS s, pos_b + dup_len AS e FROM cand
),
ord AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_e
  FROM cuts
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS g
  FROM ord
),
merged AS (
  SELECT doc_id, g, min(s) AS ms, max(e) AS me FROM isl GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_spans_cut,
         sum(me - ms)::BIGINT AS chars_removed
  FROM merged GROUP BY doc_id
)
SELECT p.doc_id, n_spans_cut, chars_removed,
       (d.n_chars - chars_removed)::BIGINT AS new_len
FROM per_doc p JOIN documents d USING (doc_id)
ORDER BY doc_id
"""

ORACLES["intra_doc_repeats"] = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 20),
wins AS (
  SELECT doc_id, i AS pos, substr(text, i, 20) AS w
  FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 18)) AS i) t
),
occ AS (
  SELECT doc_id, w, count(*) AS c FROM wins GROUP BY doc_id, w
),
dup AS (SELECT doc_id, w FROM occ WHERE c >= 2 AND c <= 50),
posts AS (SELECT doc_id, pos, w FROM wins JOIN dup USING (doc_id, w)),
pr AS (
  SELECT a.doc_id, a.pos AS pa, b.pos AS pb, b.pos - a.pos AS period
  FROM posts a JOIN posts b ON a.doc_id = b.doc_id AND a.w = b.w
  WHERE a.pos < b.pos
),
runs AS (
  SELECT doc_id, period, pa,
         pa - row_number() OVER (PARTITION BY doc_id, period ORDER BY pa)
           AS isl
  FROM pr
),
cand AS (
  SELECT doc_id, period,
         min(pa)::INT AS pos_a,
         (count(*) + 19)::BIGINT AS rep_len
  FROM runs GROUP BY doc_id, period, isl
)
SELECT doc_id, pos_a, (pos_a + period)::INT AS pos_b, period::INT AS period,
       rep_len
FROM cand
ORDER BY rep_len DESC, doc_id ASC, pos_a ASC, period ASC
LIMIT 50
"""

ORACLES["exactsubstr_source_coverage"] = _DUP_RUNS_CTE + """
, ivals AS (
  SELECT doc_a AS doc_id, pos_a AS s, pos_a + dup_len AS e FROM cand
  UNION ALL
  SELECT doc_b AS doc_id, pos_b AS s, pos_b + dup_len AS e FROM cand
),
ord AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_e
  FROM ivals
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS g
  FROM ord
),
merged AS (
  SELECT doc_id, g, max(e) - min(s) AS cov FROM isl GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id, sum(cov) AS covered FROM merged GROUP BY doc_id
)
SELECT d.source,
       count(*) FILTER (WHERE p.covered IS NOT NULL)::BIGINT AS n_docs_dup,
       sum(coalesce(p.covered, 0))::BIGINT AS covered_chars,
       round(sum(coalesce(p.covered, 0)) / CAST(sum(d.n_chars) AS DOUBLE), 6)
         AS frac_covered
FROM documents d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""

ORACLES["decontaminate_exactsubstr"] = """
WITH sp AS (
  SELECT doc_id, text,
         CASE WHEN u < 62259 THEN 'train'
              WHEN u < 62259 + 1638 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, text,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT::INT AS u
    FROM documents
  )
),
tr AS (SELECT doc_id, text FROM sp WHERE split = 'train' AND length(text) >= 50),
te AS (SELECT doc_id, text FROM sp WHERE split = 'test' AND length(text) >= 50),
wc AS (
  SELECT doc_id, i AS pos, substr(text, i, 50) AS w
  FROM tr, LATERAL (SELECT unnest(range(1, length(text) - 48)) AS i) t
),
wb AS (
  SELECT doc_id, i AS pos, substr(text, i, 50) AS w
  FROM te, LATERAL (SELECT unnest(range(1, length(text) - 48)) AS i) t
),
ok AS (SELECT w FROM wc GROUP BY w HAVING count(*) <= 200),
pr AS (
  SELECT c.doc_id AS train_doc, b.doc_id AS test_doc,
         c.pos AS pc, b.pos AS pb, c.pos - b.pos AS d
  FROM (SELECT * FROM wc WHERE w IN (SELECT w FROM ok)) c
  JOIN wb b USING (w)
),
runs AS (
  SELECT train_doc, test_doc, d, pc, pb,
         pc - row_number() OVER (PARTITION BY train_doc, test_doc, d
                                 ORDER BY pc) AS isl
  FROM pr
),
cand AS (
  SELECT train_doc, test_doc,
         min(pc)::INT AS pos_train, min(pb)::INT AS pos_test,
         (count(*) + 49)::BIGINT AS dup_len
  FROM runs GROUP BY train_doc, test_doc, d, isl
)
SELECT train_doc, test_doc, pos_train, pos_test, dup_len
FROM cand
ORDER BY dup_len DESC, train_doc ASC, test_doc ASC, pos_train ASC,
         pos_test ASC
LIMIT 50
"""

# --- output-bounded entity resolution --------------------------------------

# The capped candidate chain is the CONTRACT (df-capped token postings
# per (token, brand) ∪ record×representative pairs, rep_cap = 8 lowest
# ids per identical-(sorted-token-set, brand) group) — ONE fragment
# shared by er_part_topk and its recall gate er_topk_eval, so the two
# can never encode different cap semantics (same rule as the shared
# _ER_SCORED_SQL above).
_ER_TOPK_CAPPED_SQL = """
base AS (
  SELECT p_partkey AS id,
         list_distinct(string_split_regex(lower(trim(p_name)), '\\s+')) AS ts,
         p_brand, p_size
  FROM part
),
tok AS (SELECT id, unnest(ts) AS tok, p_brand FROM base),
keep AS (
  SELECT tok, p_brand FROM tok
  GROUP BY tok, p_brand HAVING count(*) <= 200
),
tokc AS (SELECT t.* FROM tok t JOIN keep USING (tok, p_brand)),
tpair AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM tokc a JOIN tokc b
    ON a.tok = b.tok AND a.p_brand = b.p_brand AND a.id < b.id
),
canon AS (
  SELECT id, p_brand,
         array_to_string(list_sort(ts), chr(9)) AS key,
         row_number() OVER (
           PARTITION BY array_to_string(list_sort(ts), chr(9)), p_brand
           ORDER BY id) AS r
  FROM base
),
cpair AS (
  SELECT DISTINCT least(c.id, p.id) AS id_a, greatest(c.id, p.id) AS id_b
  FROM canon c JOIN canon p
    ON c.key = p.key AND c.p_brand = p.p_brand
   AND p.r <= 8 AND c.id <> p.id
),
cand AS (SELECT * FROM tpair UNION SELECT * FROM cpair),
capped_scored AS (
  SELECT cd.id_a, cd.id_b,
         0.5 * (len(list_intersect(a.ts, b.ts)) * 1.0
                / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))))
         + 0.3 * (CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END)
         + 0.2 * (1.0 - least(abs(a.p_size - b.p_size), 10) / 10.0)
           AS score
  FROM cand cd JOIN base a ON a.id = cd.id_a JOIN base b ON b.id = cd.id_b
)"""

# Mirrors entity.part_topk_matches EXACTLY, including the bounded
# candidate generation — the cap is part of the contract, so the
# differential is exact at any group size, not just where the cap
# happens not to bind.
ORACLES["er_part_topk"] = f"""
WITH {_ER_TOPK_CAPPED_SQL},
thresh AS (SELECT * FROM capped_scored WHERE score >= 0.8),
directed AS (
  SELECT id_a AS p_partkey, id_b AS match_key, score FROM thresh
  UNION ALL
  SELECT id_b, id_a, score FROM thresh
),
ranked AS (
  SELECT p_partkey, match_key, score,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY score DESC, match_key ASC) AS rn
  FROM directed
)
SELECT p_partkey, match_key, CAST(rn AS INTEGER) AS rank,
       round(score, 6) AS score
FROM ranked WHERE rn <= 3
ORDER BY p_partkey, rank
"""

# Gate for the rep-capped contract: truth = per-record top-3 from the
# exhaustive scored relation (same provably-complete blocking argument
# as er_part_pairs); capped = the SAME fragment er_part_topk runs.
# Integer counts + one exact ratio.
ORACLES["er_topk_eval"] = f"""
WITH scored AS ({_ER_SCORED_SQL}),
matched AS (
  SELECT id_a, id_b,
         0.5 * name_jaccard + 0.3 * brand_eq + 0.2 * size_sim AS score
  FROM scored
  WHERE 0.5 * name_jaccard + 0.3 * brand_eq + 0.2 * size_sim >= 0.8
),
directed AS (
  SELECT id_a AS p_partkey, id_b AS match_key, score FROM matched
  UNION ALL
  SELECT id_b, id_a, score FROM matched
),
true_topk AS (
  SELECT p_partkey, match_key FROM (
    SELECT p_partkey, match_key,
           row_number() OVER (PARTITION BY p_partkey
                              ORDER BY score DESC, match_key ASC) AS rn
    FROM directed) WHERE rn <= 3
),
{_ER_TOPK_CAPPED_SQL},
cdirected AS (
  SELECT id_a AS p_partkey, id_b AS match_key, score
  FROM capped_scored WHERE score >= 0.8
  UNION ALL
  SELECT id_b, id_a, score FROM capped_scored WHERE score >= 0.8
),
capped AS (
  SELECT p_partkey, match_key FROM (
    SELECT p_partkey, match_key,
           row_number() OVER (PARTITION BY p_partkey
                              ORDER BY score DESC, match_key ASC) AS rn
    FROM cdirected) WHERE rn <= 3
),
shared AS (
  SELECT t.* FROM true_topk t
  WHERE EXISTS (SELECT 1 FROM capped c
                WHERE c.p_partkey = t.p_partkey
                  AND c.match_key = t.match_key)
)
SELECT (SELECT count(DISTINCT p_partkey) FROM true_topk) AS n_records,
       (SELECT count(*) FROM true_topk) AS true_edges,
       (SELECT count(*) FROM capped) AS capped_edges,
       (SELECT count(*) FROM shared) AS shared_edges,
       round((SELECT count(*) FROM shared) * 1.0
             / (SELECT count(*) FROM true_topk), 6) AS edge_recall
"""

# The APPLY step: independent splice via kept-segment string_agg over
# the same merged intervals as the cut plan; sha256 pins the bytes.
ORACLES["exactsubstr_rewrite_preview"] = _DUP_RUNS_CTE + """
, cuts AS (
  SELECT doc_b AS doc_id, pos_b AS s, pos_b + dup_len AS e FROM cand
),
ord AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_e
  FROM cuts
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS g
  FROM ord
),
merged AS (
  SELECT doc_id, g, min(s) AS ms, max(e) AS me FROM isl GROUP BY doc_id, g
),
segs AS (
  SELECT doc_id,
         coalesce(lag(me) OVER (PARTITION BY doc_id ORDER BY ms), 1) AS s,
         ms AS e
  FROM merged
  UNION ALL
  SELECT m.doc_id, max(m.me) AS s, any_value(length(d.text)) + 1 AS e
  FROM merged m JOIN documents d USING (doc_id) GROUP BY m.doc_id
),
spliced AS (
  SELECT s.doc_id,
         string_agg(substr(d.text, s.s::INT, (s.e - s.s)::INT),
                    '' ORDER BY s.s) AS new_text
  FROM segs s JOIN documents d USING (doc_id)
  GROUP BY s.doc_id
)
SELECT sp.doc_id, d.n_chars::BIGINT AS old_len,
       length(sp.new_text)::BIGINT AS new_len,
       sha256(sp.new_text) AS new_sha
FROM spliced sp JOIN documents d USING (doc_id)
ORDER BY sp.doc_id
"""

# --- output-bounded DOCUMENT entity resolution -----------------------------

# Mirrors entity.doc_matched_pairs EXACTLY, including the bounded
# candidate generation (df-capped 3-gram shingle postings ∪ rep-capped
# identical-shingle-set groups, 8 lowest ids) — the same
# cap-is-the-contract convention as _ER_TOPK_CAPPED_SQL, so the
# differential is exact at any group size, not just where the caps
# happen not to bind. Shingles are the _JACCARD_PAIRS_SQL definition
# (distinct word 3-grams over a single space split). ONE fragment
# shared by er_doc_topk, er_doc_clusters and the er_doc_topk_eval
# gate, so the consumers can never encode different cap semantics.
_ER_DOC_CAPPED_SQL = """
t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
base AS (
  SELECT doc_id AS id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM t
  WHERE len(w) >= 3
),
tok AS (SELECT id, unnest(s) AS g FROM base),
keep AS (SELECT g FROM tok GROUP BY g HAVING count(*) <= 200),
tokc AS (SELECT t2.* FROM tok t2 JOIN keep USING (g)),
tpair AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM tokc a JOIN tokc b ON a.g = b.g AND a.id < b.id
),
canon AS (
  SELECT id,
         array_to_string(list_sort(s), chr(9)) AS key,
         row_number() OVER (
           PARTITION BY array_to_string(list_sort(s), chr(9))
           ORDER BY id) AS r
  FROM base
),
cpair AS (
  SELECT DISTINCT least(c.id, p.id) AS id_a, greatest(c.id, p.id) AS id_b
  FROM canon c JOIN canon p ON c.key = p.key AND p.r <= 8 AND c.id <> p.id
),
cand AS (SELECT * FROM tpair UNION SELECT * FROM cpair),
scored AS (
  SELECT cd.id_a, cd.id_b,
         len(list_intersect(a.s, b.s)) * 1.0
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
  FROM cand cd JOIN base a ON a.id = cd.id_a JOIN base b ON b.id = cd.id_b
),
thresh AS (SELECT * FROM scored WHERE jac >= 0.5)"""

ORACLES["er_doc_topk"] = f"""
WITH {_ER_DOC_CAPPED_SQL},
directed AS (
  SELECT id_a AS doc_id, id_b AS match_id, jac FROM thresh
  UNION ALL
  SELECT id_b, id_a, jac FROM thresh
),
ranked AS (
  SELECT doc_id, match_id, jac,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY jac DESC, match_id ASC) AS rn
  FROM directed
)
SELECT doc_id, match_id, CAST(rn AS INTEGER) AS rank,
       round(jac, 6) AS jaccard
FROM ranked WHERE rn <= 3
ORDER BY doc_id, rank
"""

# Cluster rollup over the SAME capped matched relation (threshold 0.5)
# — connected components via a recursive CTE (the er_part_clusters
# convention), singleton documents included so the histogram covers
# the whole corpus.
ORACLES["er_doc_clusters"] = f"""
WITH RECURSIVE {_ER_DOC_CAPPED_SQL},
edges AS (
  SELECT id_a AS a, id_b AS b FROM thresh
  UNION
  SELECT id_b, id_a FROM thresh
),
reach(src, node) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
comp AS (SELECT src, min(node) AS component FROM reach GROUP BY src),
labeled AS (
  SELECT d.doc_id AS node, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.src = d.doc_id
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM labeled GROUP BY component
)
SELECT cluster_size, count(*) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""

# Recall gate for the doc caps: truth = per-doc top-3 from the EXACT
# uncapped pair relation (_JACCARD_PAIRS_SQL semantics, no df cap, all
# within-group pairs); capped = the shared fragment er_doc_topk runs.
# Same one-row integer-count shape as er_topk_eval.
ORACLES["er_doc_topk_eval"] = f"""
WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tsh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS s
  FROM tw WHERE len(w) >= 3
),
tex AS (SELECT doc_id, unnest(s) AS g FROM tsh),
tsz AS (SELECT doc_id, len(s) AS sz FROM tsh),
tinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tex a JOIN tex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact_pairs AS (
  SELECT id_a, id_b, i * 1.0 / (x.sz + y.sz - i) AS jac
  FROM tinter
  JOIN tsz x ON tinter.id_a = x.doc_id
  JOIN tsz y ON tinter.id_b = y.doc_id
  WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.5
),
tdirected AS (
  SELECT id_a AS doc_id, id_b AS match_id, jac FROM exact_pairs
  UNION ALL
  SELECT id_b, id_a, jac FROM exact_pairs
),
true_topk AS (
  SELECT doc_id, match_id FROM (
    SELECT doc_id, match_id,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY round(jac, 6) DESC, match_id ASC) AS rn
    FROM tdirected) WHERE rn <= 3
),
{_ER_DOC_CAPPED_SQL},
cdirected AS (
  SELECT id_a AS doc_id, id_b AS match_id, jac FROM thresh
  UNION ALL
  SELECT id_b, id_a, jac FROM thresh
),
capped AS (
  SELECT doc_id, match_id FROM (
    SELECT doc_id, match_id,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY jac DESC, match_id ASC) AS rn
    FROM cdirected) WHERE rn <= 3
),
shared AS (
  SELECT t.* FROM true_topk t
  WHERE EXISTS (SELECT 1 FROM capped c
                WHERE c.doc_id = t.doc_id AND c.match_id = t.match_id)
)
SELECT (SELECT count(DISTINCT doc_id) FROM true_topk) AS n_records,
       (SELECT count(*) FROM true_topk) AS true_edges,
       (SELECT count(*) FROM capped) AS capped_edges,
       (SELECT count(*) FROM shared) AS shared_edges,
       round((SELECT count(*) FROM shared) * 1.0
             / (SELECT count(*) FROM true_topk), 6) AS edge_recall
"""
