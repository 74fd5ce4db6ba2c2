"""DuckDB oracle SQL — the ANSI-SQL twins of ``analytics.QUERIES``.

Each statement runs against pre-registered views of the same parquet tables
and must produce the same column names, row set, and (explicitly rounded)
values as the Spark plan.  Approximate operators (MinHash-LSH, SimHash, LSH
ANN) intentionally have no oracle — the driver records rows-only checks.

Cross-engine determinism notes:
- float aggregates rounded identically on both sides;
- integer sums cast to BIGINT (DuckDB would widen to HUGEINT);
- window accumulation orders pinned with explicit tie-breaks;
- haversine / cosine formulas written with the same operation order as the
  Spark expressions.
"""

ORACLES: dict[str, str] = {}

# Fixed-point mirror of the Spark plan: 2-decimal measures are summed as
# exact integer cents (order-independent); averages use explicit integer
# half-up division q = (2·num + den) // (2·den) — no float round() anywhere,
# because Spark and DuckDB round() disagree on exact .5 decimal quotients.
ORACLES["a2_pricing_summary"] = """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100, 0) AS BIGINT)      AS qty_c,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100, 0) AS BIGINT)      AS disc_c
  FROM lineitem
), g AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(qty_c) AS BIGINT)   AS sq,
         CAST(sum(price_c) AS BIGINT) AS sp,
         CAST(sum(disc_c) AS BIGINT)  AS sd,
         CAST(sum(price_c * (100 - disc_c)) AS BIGINT) AS sdp,
         count(*) AS n
  FROM c GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       round(sq / 100.0, 2) AS sum_qty,
       round(sp / 100.0, 2) AS sum_base_price,
       ((2 * sdp + 100) // 200) / 100.0 AS sum_disc_price,
       ((2 * (sq * 100) + n) // (2 * n)) / 10000.0 AS avg_qty,
       ((2 * (sp * 100) + n) // (2 * n)) / 10000.0 AS avg_price,
       ((2 * (sd * 100) + n) // (2 * n)) / 10000.0 AS avg_disc,
       n AS count_order
FROM g
"""

ORACLES["j8_regional_revenue"] = """
SELECT r_name, n_name,
       ((2 * CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                  AS BIGINT) + 100) // 200) / 100.0 AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

ORACLES["w1_top_order_per_customer"] = """
SELECT o_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""

ORACLES["o5_customers_without_orders"] = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
GROUP BY c_mktsegment
"""

ORACLES["a1_merged_order_status"] = """
SELECT o_custkey,
       CASE min(CASE o_orderstatus WHEN 'P' THEN 0 WHEN 'O' THEN 1
                                   WHEN 'F' THEN 2 ELSE 3 END)
         WHEN 0 THEN 'P' WHEN 1 THEN 'O' WHEN 2 THEN 'F' ELSE NULL
       END AS merged_status,
       CASE min(CASE WHEN o_orderpriority = '1-URGENT' THEN 0
                     WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 2 END)
         WHEN 0 THEN true WHEN 1 THEN false ELSE NULL
       END AS any_urgent,
       count(*) AS n_orders,
       round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_custkey
"""

ORACLES["o4_union_orders"] = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS total_value
FROM (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_totalprice > 400000
  UNION
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderpriority = '1-URGENT'
)
GROUP BY o_orderstatus
"""

# Expected getStatusAndValue semantics per scenario, stated directly as a
# CASE over the same derived scenario id the Spark side uses (Status.ts
# branch order: unsupported > value-tagging > plain+flag > prefixed > flags).
ORACLES["p5_lifecycle_resolution"] = """
WITH t AS (SELECT p_partkey AS id, p_partkey % 12 AS s FROM part)
SELECT id,
       CASE WHEN s IN (5, 6) THEN NULL
            WHEN s IN (0, 7) THEN 'operating'
            WHEN s IN (1, 8) THEN 'abandoned'
            WHEN s IN (2, 3, 4, 11) THEN 'proposed'
            WHEN s = 9 THEN 'disused'
            WHEN s = 10 THEN 'planned' END AS status,
       CASE WHEN s IN (0, 1, 9) THEN 'chair_lift'
            WHEN s IN (2, 4) THEN 'v' || id
            WHEN s = 10 THEN 'b' || id END AS value,
       CASE WHEN s % 3 = 0 THEN true WHEN s % 3 = 1 THEN false END AS lit,
       CASE WHEN s % 4 = 0 THEN CAST(4.0 AS DOUBLE) END AS capacity,
       CASE WHEN s % 2 = 0 THEN 'n' || id || ', e' || id
            ELSE 'n' || id END AS name,
       s IN (0, 1, 2, 4, 9, 10) AS kept
FROM t
"""

ORACLES["j3_acctbal_distance_join"] = """
SELECT c_mktsegment, count(*) AS n_pairs,
       ((2 * (CAST(sum(CAST(round(abs(c_acctbal - s_acctbal) * 100, 0) AS BIGINT))
              AS BIGINT) * 100) + count(*)) // (2 * count(*))) / 10000.0
         AS avg_gap
FROM customer, supplier
WHERE abs(c_acctbal - s_acctbal) < 1.0
GROUP BY c_mktsegment
"""

ORACLES["a7_lineitem_dedup"] = """
SELECT l_returnflag, count(*) AS n_combos
FROM (SELECT DISTINCT l_returnflag, l_partkey, l_suppkey FROM lineitem)
GROUP BY l_returnflag
"""

ORACLES["w_running_total"] = """
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         / 100.0, 2) AS running_total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""

ORACLES["a6_daily_event_stats"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events,
       ((2 * (CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) * 100)
         + count(value)) // (2 * count(value))) / 10000.0 AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""

ORACLES["sessionize_user_sessions"] = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id
"""

ORACLES["p7_event_value_extract"] = """
SELECT CAST(regexp_extract(props, '[0-9]+') AS INT) % 10 AS k_bucket,
       count(*) AS n,
       ((2 * (CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) * 100)
         + count(value)) // (2 * count(value))) / 10000.0 AS avg_value
FROM events GROUP BY 1
"""

ORACLES["text_doc_stats"] = """
SELECT lang, count(*) AS n_docs,
       round(avg(len(list_filter(string_split(text, ' '), x -> x <> ''))), 4)
         AS avg_tokens,
       round(avg(length(text)), 4) AS avg_chars,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""

ORACLES["dedup_exact"] = """
SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
FROM documents GROUP BY source
"""

ORACLES["dedup_ngram_jaccard"] = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               FOR i IN generate_series(1, len(ws) - 2)]))
           AS shingle
  FROM w WHERE len(ws) >= 3
), sz AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter / (sa.n + sb.n - n_inter), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
"""

ORACLES["fingerprint_docs"] = """
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(array_to_string(
         list_sort(list_distinct(list_filter(string_split(text, ' '),
                                             x -> x <> ''))), ' ')))
         AS n_unique_fp
FROM documents GROUP BY lang
"""

ORACLES["langid_docs"] = """
WITH w AS (
  SELECT lang,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
           AS ws
  FROM documents
), h AS (
  SELECT lang,
    len(list_intersect(ws, ['the','a','of','and','to','in','is','with'])) AS en,
    len(list_intersect(ws, ['el','la','de','y','que','en','un','con']))   AS es,
    len(list_intersect(ws, ['der','die','das','und','zu','in','ist','mit'])) AS de
  FROM w
)
SELECT lang,
       CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
            WHEN es >= de AND es > 0 THEN 'es'
            WHEN de > 0 THEN 'de'
            ELSE 'und' END AS guess,
       count(*) AS n
FROM h GROUP BY 1, 2
"""

ORACLES["tokens_docs"] = """
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS sum_tokens,
       CAST(max(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS INT) AS max_tokens
FROM documents GROUP BY source
"""

_COSINE = ("list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")

ORACLES["knn_cosine"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id,
         {_COSINE.format(a='q.v', b='c.v')} AS sim
  FROM q, c
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS knn_rank
  FROM scored
)
SELECT query_id, knn_rank, neighbor_id, round(sim, 6) AS cosine_sim
FROM ranked WHERE knn_rank <= 5
"""

ORACLES["dedup_embedding_pairs"] = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_COSINE.format(a='a.v', b='b.v')}, 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({_COSINE.format(a='a.v', b='b.v')}, 6) > 0.4
"""

ORACLES["j2_points_in_polygon"] = """
SELECT event_type, count(*) AS n_inside
FROM (
  SELECT event_type,
         value % 100.0 AS x,
         CAST(user_id % 100 AS DOUBLE) AS y
  FROM events
)
WHERE abs(x - 50) + abs(y - 50) < 30
GROUP BY event_type
"""

ORACLES["j3_geo_dwithin"] = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         ((c_custkey * 37) % 3600) / 10.0 - 180.0 AS c_lon,
         ((c_custkey * 91) % 1600) / 10.0 - 80.0  AS c_lat
  FROM customer
), s AS (
  SELECT s_suppkey,
         ((s_suppkey * 37) % 3600) / 10.0 - 180.0 AS s_lon,
         ((s_suppkey * 91) % 1600) / 10.0 - 80.0  AS s_lat
  FROM supplier
), pairs AS (
  SELECT c_nationkey,
         2 * 6371.0 * asin(sqrt(
           sin(radians(s_lat - c_lat) / 2) * sin(radians(s_lat - c_lat) / 2)
           + cos(radians(c_lat)) * cos(radians(s_lat))
             * sin(radians(s_lon - c_lon) / 2) * sin(radians(s_lon - c_lon) / 2)
         )) AS d
  FROM c, s
)
SELECT c_nationkey, count(*) AS n_pairs,
       ((2 * CAST(sum(CAST(round(d * 1000000, 0) AS BIGINT)) AS BIGINT)
         + (100 * count(d))) // (2 * (100 * count(d)))) / 10000.0 AS avg_km
FROM pairs WHERE d < 100.0
GROUP BY c_nationkey
"""

# Self-union doubles every event; bounded dedup on event_id restores the
# distinct set, so the drained result is the plain batch distinct count.
ORACLES["stream_dedup_bounded"] = """
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events GROUP BY event_type
"""

ORACLES["stream_event_counts"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""

# Append-mode twin: only windows FINALIZED at the final watermark
# (window end <= max event time - 30 min delay) ever emit.
ORACLES["stream_event_counts_append"] = """
WITH m AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events
FROM events, m
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm
GROUP BY 1, 2
"""

ORACLES["stream_enriched_rollup"] = """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""

ORACLES["stream_click_attribution"] = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTES
"""

ORACLES["stream_lake_ingest"] = """
SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
"""
