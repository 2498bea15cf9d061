"""DuckDB oracle SQL — one ANSI-SQL twin per entry in plans/queries.py.

The driver runs these against the same parquet tables (pre-registered
views) and hash-compares row counts, schemas, and order-insensitive
value hashes with the Spark results. Rules applied throughout:

* every computed column aliased identically to the Spark side;
* aggregates rounded (2 dp money, 4 dp ratios, 6 dp cosines) in BOTH
  engines so IEEE-754 sum-order differences can't flip a hash;
* counts cast to BIGINT where DuckDB would widen to HUGEINT;
* top-k orderings always on the *rounded* measure + a unique tie-break
  key, so both engines select the same rows.

Sliding-window math: Spark's ``window(ts, '1 hour', '15 minutes')``
assigns each row to the 4 slide-aligned windows covering it; the oracle
reproduces this by cross-joining offsets 0..3 against the row's
15-minute bucket (epoch arithmetic, UTC).
"""

from __future__ import annotations

from data_pipeline_example_spark.operators import text as _text_ops
from data_pipeline_example_spark.operators.urls import (
    URL_CANON_ORACLE as _URL_CANON_ORACLE,
)

# events → conformed retail mapping (FIXTURES.md F-D)
_RETAIL = """
retail AS (
  SELECT event_id, ts AS order_ts, CAST(ts AS DATE) AS order_date,
         event_type AS product, value AS amount
  FROM events
)
"""

# Spark F.window(ts, '1 hour', '15 minutes') equivalent
_WINDOWS = """
win AS (
  SELECT make_timestamp(((CAST(floor(epoch(ts)/900) AS BIGINT) - s.i) * 900) * 1000000) AS window_start,
         make_timestamp((((CAST(floor(epoch(ts)/900) AS BIGINT) - s.i) * 900) + 3600) * 1000000) AS window_end,
         event_type AS product, value
  FROM events, (SELECT unnest([0,1,2,3]) AS i) s
  WHERE ts IS NOT NULL  -- F.window drops NULL event times (F3)
),
wagg AS (
  SELECT window_start, window_end, product, sum(value) AS revenue
  FROM win GROUP BY 1, 2, 3
)
"""

# documents → token lists / distinct 3-token shingles (lowercased)
_SHINGLES = """
toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
"""

# COMPUTE-valid embeddings — the SQL twin of operators.similarity.
# valid_embeddings (and the _as_double/_as_float funnels): present,
# non-empty, at least one nonzero component. Every geometry oracle
# reads through this guard; the census oracles (embedding_profile,
# embedding_dimension_health, quantize_embeddings) read RAW — they
# are how the rejects get counted. (r15 degenerate sweep)
_EMB_VALID = """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND len(list_filter(embedding, x -> x <> 0)) > 0"""

# embeddings as double vectors + the vec_id=0 query vector
_VECS = f"""
e AS ({_EMB_VALID}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
"""

# RAW variant for the census oracles — every row, degenerates included
_VECS_RAW = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""

# The adaptive-k, HARD-capped, TWO-LEVEL bucket assignment shared by
# every *_capped twin (semantic_prune_capped, nearest_neighbor_capped,
# knn_density_outliers). Replays assign_centroids_capped exactly:
# k = clamp(ceil(n/64), 1, 65536) fine centroids (vec_id < k),
# kc = ceil(sqrt(k)) coarse centroids (vec_id < kc); fine centroids
# route to themselves when coarse-resident else to their argmax-cosine
# coarse (6 dp, lowest-id ties); each vector picks its coarse group by
# the same rule, then its fine centroid WITHIN that group; a rank
# re-split bounds every (centroid_id, sub_id) bucket at 96 rows.
_CAPPED_SUBBED = """
params AS (
  SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS kc FROM (
    SELECT CAST(greatest(1, least(65536, CAST(ceil(count(*) / 64.0) AS BIGINT))) AS BIGINT) AS k
    FROM e
  )
),
fine AS (SELECT vec_id AS centroid_id, v AS cv FROM e, params WHERE vec_id < k),
coarse AS (SELECT vec_id AS coarse_id, v AS ccv FROM e, params WHERE vec_id < kc),
f2c AS (
  SELECT centroid_id, centroid_id AS coarse_id FROM fine, params WHERE centroid_id < kc
  UNION ALL
  SELECT centroid_id, coarse_id FROM (
    SELECT f.centroid_id, c.coarse_id,
           row_number() OVER (
             PARTITION BY f.centroid_id
             ORDER BY round(list_cosine_similarity(f.cv, c.ccv), 6) DESC, c.coarse_id ASC
           ) AS rn
    FROM fine f, coarse c, params WHERE f.centroid_id >= kc
  ) WHERE rn = 1
),
v2c AS (
  SELECT vec_id, coarse_id FROM (
    SELECT e.vec_id, c.coarse_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.ccv), 6) DESC, c.coarse_id ASC
           ) AS rn
    FROM e, coarse c
  ) WHERE rn = 1
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vc.vec_id, f.centroid_id,
           row_number() OVER (
             PARTITION BY vc.vec_id
             ORDER BY round(list_cosine_similarity(e.v, f.cv), 6) DESC, f.centroid_id ASC
           ) AS rn
    FROM v2c vc
    JOIN e ON e.vec_id = vc.vec_id
    JOIN f2c m ON m.coarse_id = vc.coarse_id
    JOIN fine f ON f.centroid_id = m.centroid_id
  ) WHERE rn = 1
),
subbed AS (
  SELECT vec_id, centroid_id,
         CAST((row_number() OVER (PARTITION BY centroid_id ORDER BY vec_id) - 1) // 96
              AS INTEGER) AS sub_id
  FROM assigned
)
"""

# stopword counts are TOKEN-membership counts (ASCII-alnum tokenize,
# then IN-list filter), mirroring functions/text.py stopword_count —
# NOT \b word-bounded regexes: Java's \b is Unicode-aware, RE2's is
# ASCII-only, and the two disagree on accent-adjacent text (r14
# non-ASCII sweep finding). On pure-ASCII text the two forms agree.
_STOP = {
    "en": "('the','a','and','of','to','is','in','it')",
    "de": "('der','die','das','und','ist','ein','nicht')",
    "fr": "('le','la','les','et','est','une','pas')",
    "es": "('el','la','los','y','es','una','que')",
}


def _stop_count(lang: str) -> str:
    return (
        "len(list_filter(regexp_extract_all(lower(coalesce(text, '')),"
        f" '[a-z0-9]+'), w -> w IN {_STOP[lang]}))"
    )


_DOC_EXPRS = """
docx AS (
  SELECT doc_id, lang, source,
         coalesce(text, '') AS t,
         length(coalesce(text, '')) AS n_chars_raw,
         len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+')) AS n_tokens_raw,
         len(regexp_extract_all(coalesce(text, ''), '[.,!?;:]')) AS n_punct_raw,
         {en} AS c_en,
         {de} AS c_de,
         {fr} AS c_fr,
         {es} AS c_es
  FROM documents
)
""".format(
    en=_stop_count("en"),
    de=_stop_count("de"),
    fr=_stop_count("fr"),
    es=_stop_count("es"),
)


# SimHash twin (operators/dedup.py): 64 per-bit ±1 vote sums from the
# first 16 hex digits of md5(token), reassembled into a 16-hex signature.
_HEX = "0123456789abcdef"
_SIMHASH_VOTES = ",\n         ".join(
    f"sum((((strpos('{_HEX}', substring(hx, {p + 1}, 1)) - 1) >> {3 - b}) & 1) * 2 - 1)"
    f" AS s_{p}_{b}"
    for p in range(16)
    for b in range(4)
)
_SIMHASH_DIGITS = ",\n         ".join(
    f"substring('{_HEX}', (s_{p}_0 > 0)::INT * 8 + (s_{p}_1 > 0)::INT * 4"
    f" + (s_{p}_2 > 0)::INT * 2 + (s_{p}_3 > 0)::INT + 1, 1)"
    for p in range(16)
)
_SIMHASH = f"""
stoks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS tok
  FROM documents
),
sh_h AS (SELECT doc_id, md5(tok) AS hx FROM stoks),
votes AS (
  SELECT doc_id,
         {_SIMHASH_VOTES}
  FROM sh_h GROUP BY 1
),
sigs AS (
  SELECT doc_id,
         concat({_SIMHASH_DIGITS}) AS simhash
  FROM votes
)
"""
# popcount of sig_a XOR sig_b via two 32-bit halves (matches the Spark
# side's conv + bit_count shape)
_SIMHASH_HAMMING = (
    "CAST(bit_count(xor(('0x' || substring(sig_a, 1, 8))::BIGINT,"
    " ('0x' || substring(sig_b, 1, 8))::BIGINT))"
    " + bit_count(xor(('0x' || substring(sig_a, 9, 8))::BIGINT,"
    " ('0x' || substring(sig_b, 9, 8))::BIGINT)) AS INTEGER)"
)


ORACLES: dict[str, str] = {
    # --- retail pipeline -------------------------------------------------
    "daily_revenue": f"""
WITH {_RETAIL}
SELECT order_date, product, round(sum(amount), 2) AS total_amount
FROM retail GROUP BY 1, 2
""",
    "kpis": f"""
WITH {_RETAIL}
SELECT round(sum(amount), 2) AS grand_total,
       count(DISTINCT product) AS distinct_products,
       count(*) AS "rows"
FROM retail
""",
    "kpis_long": f"""
WITH {_RETAIL},
k AS (
  SELECT round(sum(amount), 2) AS grand_total,
         count(DISTINCT product) AS distinct_products,
         count(*) AS n_rows
  FROM retail
)
SELECT 'grand_total' AS metric, CAST(grand_total AS DOUBLE) AS value FROM k
UNION ALL
SELECT 'distinct_products', CAST(distinct_products AS DOUBLE) FROM k
UNION ALL
SELECT 'rows', CAST(n_rows AS DOUBLE) FROM k
""",
    "per_day_totals": f"""
WITH {_RETAIL},
daily AS (
  SELECT order_date, product, round(sum(amount), 2) AS total_amount
  FROM retail GROUP BY 1, 2
)
SELECT order_date, round(sum(total_amount), 2) AS total_amount
FROM daily GROUP BY 1
""",
    "top_products": f"""
WITH {_RETAIL},
daily AS (
  SELECT order_date, product, round(sum(amount), 2) AS total_amount
  FROM retail GROUP BY 1, 2
)
SELECT product, round(sum(total_amount), 2) AS total_amount
FROM daily GROUP BY 1
ORDER BY total_amount DESC, product ASC LIMIT 10
""",
    "sample_rows": f"""
WITH {_RETAIL}
SELECT event_id, order_date, product, amount
FROM retail ORDER BY order_date DESC, product ASC, event_id ASC LIMIT 50
""",
    "events_json_conform": """
SELECT event_id,
       event_type AS product,
       coalesce(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k_value,
       CASE WHEN value > 100.0 THEN 'high' ELSE 'low' END AS value_band
FROM events
""",
    # --- sliding-window analytics ---------------------------------------
    "sliding_window_revenue": f"""
WITH {_WINDOWS}
SELECT window_start, window_end, product, round(revenue, 2) AS revenue
FROM wagg
""",
    "latest_window_leaderboard": f"""
WITH {_WINDOWS}
SELECT product, round(sum(revenue), 2) AS revenue
FROM wagg
WHERE window_end = (SELECT max(window_end) FROM wagg)
GROUP BY 1
ORDER BY revenue DESC, product ASC LIMIT 12
""",
    "window_health": f"""
WITH {_WINDOWS}
SELECT window_start, window_end,
       round(sum(revenue), 2) AS total_revenue,
       count(DISTINCT product) AS product_count
FROM wagg GROUP BY 1, 2
ORDER BY window_start DESC, window_end DESC LIMIT 96
""",
    "timeline_points": f"""
WITH {_WINDOWS},
totals AS (
  SELECT product, round(sum(revenue), 2) AS total_revenue
  FROM wagg GROUP BY 1
  ORDER BY total_revenue DESC, product ASC LIMIT 8
)
SELECT w.product, w.window_start, w.window_end, round(w.revenue, 2) AS revenue
FROM wagg w JOIN totals t ON w.product = t.product
""",
    "window_summary_stats": f"""
WITH {_WINDOWS}
SELECT (SELECT count(DISTINCT product) FROM wagg) AS distinct_products,
       (SELECT count(*) FROM (SELECT DISTINCT window_start, window_end FROM wagg)) AS window_pairs,
       (SELECT max(window_end) FROM wagg) AS latest_window_end
""",
    "user_sessions": """
WITH ev AS (
  -- F3: a NULL event time cannot be sessionized (session_window twin)
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
  WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM sess GROUP BY user_id, sid
""",
    # --- joins / star-schema aggregations -------------------------------
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
    "top_revenue_orders": """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY 1, 2
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10
""",
    "supplier_nation_revenue": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem, supplier, nation, region
WHERE l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY 1
""",
    "customer_nation_revenue": """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS order_count
FROM orders, customer, nation, region
WHERE o_custkey = c_custkey
  AND c_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
GROUP BY 1
""",
    "order_priority_count": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0
)
GROUP BY 1
""",
    "brand_volume": """
SELECT p_brand,
       round(sum(l_quantity), 2) AS total_qty,
       round(sum(l_extendedprice), 2) AS total_price,
       count(*) AS line_count
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
    "segment_stats": """
SELECT c_mktsegment,
       count(*) AS customers,
       round(avg(c_acctbal), 2) AS avg_acctbal,
       round(min(c_acctbal), 2) AS min_acctbal,
       round(max(c_acctbal), 2) AS max_acctbal
FROM customer GROUP BY 1
""",
    "customer_order_distribution": """
WITH counts AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT c_count, count(*) AS custdist FROM counts GROUP BY 1
""",
    "promo_revenue_share": """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
       round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
""",
    "lapsed_customers": """
SELECT c_mktsegment, count(*) AS customers, round(avg(c_acctbal), 2) AS avg_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-06-01'
)
GROUP BY 1
""",
    "fulfilled_customers_by_nation": """
SELECT n.n_name, count(*) AS customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
GROUP BY 1
""",
    "large_orders": """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING round(sum(l_quantity), 2) >= 250
)
SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, b.total_qty
FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
""",
    "top_supplier_per_nation": """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT n.n_name, s.s_suppkey, s.s_name, r.revenue,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY r.revenue DESC, s.s_suppkey ASC) AS rk
  FROM rev r
  JOIN supplier s ON r.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT n_name, s_suppkey, s_name, revenue FROM ranked WHERE rk = 1
""",
    "revenue_rollup": f"""
WITH {_RETAIL}
SELECT order_date, product, round(sum(amount), 2) AS total_amount
FROM retail GROUP BY ROLLUP (order_date, product)
-- Spark's rollup emits NO grand-total row on empty input (standard SQL
-- and DuckDB emit one); the operator contract is empty -> empty
HAVING count(*) > 0
""",
    "high_value_churn": """
WITH f AS (
  SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15'
  GROUP BY 1 HAVING round(sum(value), 2) > 1500
),
l AS (
  SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15'
  GROUP BY 1 HAVING round(sum(value), 2) > 1500
)
SELECT * FROM f EXCEPT SELECT * FROM l
""",
    "high_value_retained": """
WITH f AS (
  SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15'
  GROUP BY 1 HAVING round(sum(value), 2) > 1500
),
l AS (
  SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15'
  GROUP BY 1 HAVING round(sum(value), 2) > 1500
)
SELECT * FROM f INTERSECT SELECT * FROM l
""",
    "small_quantity_revenue": """
WITH per_part AS (
  SELECT l_partkey AS avg_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT p.p_brand,
       round(sum(l.l_extendedprice), 2) AS small_qty_revenue,
       count(*) AS line_count
FROM lineitem l
JOIN per_part a ON l.l_partkey = a.avg_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
GROUP BY 1
""",
    "forecast_revenue": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS promo_revenue,
       count(*) AS line_count
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  AND l_discount >= 0.04 AND l_discount <= 0.06
  AND l_quantity < 24.0
""",
    "volume_shipping": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
    "market_share": """
SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN region r ON n2.n_regionkey = r.r_regionkey
WHERE p.p_type = 'PROMO' AND r.r_name = 'EUROPE'
GROUP BY 1
ORDER BY 1
""",
    "product_profit": """
SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
""",
    "top_supplier": """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
""",
    "discount_eligible_revenue": """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS disc_revenue,
       count(*) AS line_count
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
""",
    "shipment_delay_by_priority": """
SELECT o.o_orderpriority,
       CAST(sum(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 60 THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       CAST(sum(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS ontime_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY 1
""",
    "sole_return_suppliers": """
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l1.l_orderkey = o.o_orderkey
WHERE l1.l_returnflag = 'R' AND n.n_name = 'NATION_4' AND o.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1
ORDER BY numwait DESC, s.s_name ASC
LIMIT 25
""",
    "idle_rich_customers": """
WITH cut AS (
  SELECT round(avg(c_acctbal), 2) AS avg_bal FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, count(*) AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c, cut
WHERE c.c_acctbal > cut.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
ORDER BY 1
""",
    "customer_value_tiles": """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
  FROM orders GROUP BY 1
),
tiled AS (
  SELECT total_spend,
         ntile(4) OVER (ORDER BY total_spend ASC, o_custkey ASC) AS tile
  FROM spend
)
SELECT tile, count(*) AS n_customers,
       min(total_spend) AS min_spend, max(total_spend) AS max_spend
FROM tiled
GROUP BY 1
ORDER BY 1
""",
    "first_last_order_value": """
SELECT DISTINCT o_custkey AS c_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS last_price,
       count(*) OVER w AS n_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    "salted_event_totals": """
SELECT event_type, round(sum(value), 2) AS total_value,
       count(event_id) AS n_events
FROM events
GROUP BY 1
ORDER BY 1
""",
    "rolling_revenue_7d": f"""
WITH {_RETAIL},
daily AS (
  SELECT order_date, product, round(sum(amount), 2) AS total_amount
  FROM retail GROUP BY 1, 2
)
SELECT order_date, product, total_amount,
       round(sum(total_amount) OVER (
         PARTITION BY product
         ORDER BY datediff('day', DATE '1970-01-01', order_date)
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 2) AS rolling_7d
FROM daily
""",
    "returns_cube": """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS line_count
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
-- Spark's cube emits NO grand-total row on empty input (empty -> empty)
HAVING count(*) > 0
ORDER BY grp, l_returnflag, l_linestatus
""",
    "asof_last_view": """
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'view'
)
SELECT purchase_id, user_id, purchase_ts, asof_view_id, asof_view_ts, gap_s
FROM (
  SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
         v.event_id AS asof_view_id, v.ts AS asof_view_ts,
         CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_s,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
) WHERE rn = 1
""",
    "priority_revenue_pivot": """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS "1-URGENT",
       round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS "2-HIGH",
       round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS "3-MEDIUM",
       round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS "4-NOT SPECIFIED",
       round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS "5-LOW"
FROM orders
GROUP BY 1
ORDER BY 1
""",
    "customer_spend_distribution": """
WITH spend AS (
  SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS total_spend
  FROM orders GROUP BY 1
)
SELECT c_custkey, total_spend,
       round(percent_rank() OVER (ORDER BY total_spend), 6) AS spend_pct_rank,
       round(cume_dist() OVER (ORDER BY total_spend), 6) AS spend_cume_dist
FROM spend
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 50
""",
    "value_histogram": """
SELECT CAST(least(floor(value / 50.0), 9) AS INTEGER) AS bucket,
       round(CAST(least(floor(value / 50.0), 9) AS INTEGER) * CAST(50.0 AS DOUBLE), 2) AS bucket_lo,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1
""",
    "hash_split_summary": """
SELECT CASE WHEN pct < 80 THEN 'train'
            WHEN pct < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM (
  SELECT ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS pct,
         value
  FROM events
)
GROUP BY 1
ORDER BY 1
""",
    "events_profile": """
SELECT 'event_id' AS col_name,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       CAST(count(DISTINCT event_id) AS BIGINT) AS distinct_count
FROM events
UNION ALL
SELECT 'ts', CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CAST(ts AS TIMESTAMP)) AS BIGINT) FROM events
UNION ALL
SELECT 'user_id', CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT) FROM events
UNION ALL
SELECT 'event_type', CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT) FROM events
UNION ALL
SELECT 'value', CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT value) AS BIGINT) FROM events
UNION ALL
SELECT 'props', CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT props) AS BIGINT) FROM events
ORDER BY col_name
""",
    "props_key_stats": """
SELECT CAST(floor(TRY_CAST(props->>'k' AS INTEGER) / 10.0) AS INTEGER) AS k_decile,
       count(*) AS n,
       round(avg(TRY_CAST(props->>'k' AS INTEGER)), 4) AS avg_k,
       round(sum(value), 2) AS total_value
FROM events
WHERE TRY_CAST(props->>'k' AS INTEGER) IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
    "day_over_day_revenue": f"""
WITH {_RETAIL},
daily AS (
  SELECT order_date, product, round(sum(amount), 2) AS total_amount
  FROM retail GROUP BY 1, 2
),
per_day AS (
  -- F1: no NULL day in a day-over-day series (and Spark/DuckDB
  -- disagree on NULL placement in window ORDER BY)
  SELECT order_date, round(sum(total_amount), 2) AS total_amount
  FROM daily WHERE order_date IS NOT NULL GROUP BY 1
)
SELECT order_date, total_amount,
       lag(total_amount) OVER (ORDER BY order_date) AS prev_amount,
       round(total_amount - coalesce(lag(total_amount) OVER (ORDER BY order_date), 0.0), 2) AS delta
FROM per_day
""",
    "value_percentiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY 1
""",
    "user_cardinality_exact": """
SELECT event_type, count(DISTINCT user_id) AS users_exact
FROM events GROUP BY 1
""",
    # --- text analysis ----------------------------------------------------
    # --- sampling / pruning extensions --------------------------------------
    "stratified_sample": """
SELECT event_id, event_type, value
FROM (
  SELECT event_id, event_type, value,
         ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS pct
  FROM events
)
WHERE pct < CASE event_type
              WHEN 'click' THEN 5
              WHEN 'error' THEN 90
              WHEN 'purchase' THEN 60
              WHEN 'signup' THEN 30
              WHEN 'view' THEN 5
              ELSE 10 END
""",
    "reservoir_sample": """
SELECT event_type, event_id, value, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rk
  FROM events
)
WHERE rk <= 20
""",
    "value_quantile_sketch": """
SELECT event_type,
       round(quantile_disc(value, 0.5), 2) AS p50,
       round(quantile_disc(value, 0.9), 2) AS p90,
       round(quantile_disc(value, 0.99), 2) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    "bloom_pruned_brand_volume": """
SELECT p_brand,
       round(sum(l_quantity), 2) AS total_qty,
       round(sum(l_extendedprice), 2) AS total_price,
       count(*) AS line_count
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 30
GROUP BY 1
ORDER BY 1
""",
    "doc_stats": f"""
WITH {_DOC_EXPRS}
SELECT doc_id,
       CAST(n_chars_raw AS BIGINT) AS n_chars,
       CAST(n_tokens_raw AS BIGINT) AS n_tokens,
       round(n_punct_raw * 1.0 / greatest(n_chars_raw, 1), 4) AS punct_ratio,
       round(least(n_tokens_raw / 100.0, 1.0)
             * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
             * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality,
       md5(regexp_replace(lower(trim(t)), '\\s+', ' ', 'g')) AS fingerprint
FROM docx
""",
    "corpus_stats": f"""
WITH {_DOC_EXPRS}
SELECT lang, source,
       count(*) AS docs,
       CAST(sum(n_tokens_raw) AS BIGINT) AS total_tokens,
       round(avg(n_tokens_raw), 2) AS avg_tokens,
       CAST(sum(n_chars_raw) AS BIGINT) AS total_chars
FROM docx GROUP BY 1, 2
""",
    "lang_predict": f"""
WITH {_DOC_EXPRS}
SELECT doc_id, lang,
       CASE
         WHEN c_en > 0 AND c_en >= greatest(c_en, c_de, c_fr, c_es) THEN 'en'
         WHEN c_de > 0 AND c_de >= greatest(c_en, c_de, c_fr, c_es) THEN 'de'
         WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
         WHEN c_es > 0 AND c_es >= greatest(c_en, c_de, c_fr, c_es) THEN 'es'
         ELSE 'und'
       END AS lang_pred,
       CAST(CASE
         WHEN c_en > 0 AND c_en >= greatest(c_en, c_de, c_fr, c_es) THEN 'en'
         WHEN c_de > 0 AND c_de >= greatest(c_en, c_de, c_fr, c_es) THEN 'de'
         WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
         WHEN c_es > 0 AND c_es >= greatest(c_en, c_de, c_fr, c_es) THEN 'es'
         ELSE 'und'
       END = lang AS INTEGER) AS is_match
FROM docx
""",
    "curated_corpus": f"""
WITH {_DOC_EXPRS},
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
    FROM documents
  ) GROUP BY fp
)
SELECT d.doc_id, d.lang,
       CASE
         WHEN c_en > 0 AND c_en >= greatest(c_en, c_de, c_fr, c_es) THEN 'en'
         WHEN c_de > 0 AND c_de >= greatest(c_en, c_de, c_fr, c_es) THEN 'de'
         WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
         WHEN c_es > 0 AND c_es >= greatest(c_en, c_de, c_fr, c_es) THEN 'es'
         ELSE 'und'
       END AS lang_pred,
       CAST(n_tokens_raw AS BIGINT) AS n_tokens,
       round(least(n_tokens_raw / 100.0, 1.0)
             * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
             * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality
FROM docx d
JOIN keep k ON d.doc_id = k.doc_id
WHERE round(least(n_tokens_raw / 100.0, 1.0)
            * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
            * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) >= 0.05
  AND n_tokens_raw >= 10
""",
    "pack_documents": """
WITH toks AS (
  SELECT doc_id, CAST(doc_id % 16 AS INTEGER) AS shard,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
),
off AS (
  -- CAST: DuckDB window sum(BIGINT) yields HUGEINT (int128); harness
  -- comparators that fetch via pandas widen HUGEINT to float64 and the
  -- stringified "N.0" breaks the value hash against Spark's long.
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM toks
)
SELECT doc_id, shard, CAST(tok_offset // 2048 AS BIGINT) AS bin_id, tok_offset, n_tokens
FROM off
""",
    "dup_ngram_fraction": """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 7, 0) + 1),
                        i -> array_to_string(list_slice(t, i, i + 7), ' ')) AS grams
  FROM toks
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_ngrams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       CASE WHEN len(grams) > 0
            THEN round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 4)
            ELSE 0.0 END AS dup_fraction
FROM g
""",
    "corpus_dup_ngrams": """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
                               i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS gram
  FROM toks
),
per_pair AS (
  SELECT doc_id, gram, count(*) AS occ FROM g GROUP BY 1, 2
),
gram_docs AS (
  SELECT gram, count(*) AS nd FROM per_pair GROUP BY 1
),
per_doc AS (
  SELECT p.doc_id,
         sum(p.occ) AS n_ngrams,
         sum(CASE WHEN gd.nd >= 2 THEN p.occ ELSE 0 END) AS n_cross_dup
  FROM per_pair p JOIN gram_docs gd USING (gram)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(coalesce(p.n_cross_dup, 0) AS BIGINT) AS n_cross_dup,
       CASE WHEN coalesce(p.n_ngrams, 0) > 0
            THEN round(p.n_cross_dup * 1.0 / p.n_ngrams, 4)
            ELSE 0.0 END AS cross_dup_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
    "length_buckets": """
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, ntile(8) OVER (ORDER BY n_tokens, doc_id) AS bucket
  FROM toks
)
SELECT doc_id, n_tokens, CAST(bucket AS INTEGER) AS bucket,
       CAST(max(n_tokens) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_max_tokens,
       CAST(max(n_tokens) OVER (PARTITION BY bucket) - n_tokens AS BIGINT) AS pad_waste
FROM b
""",
    "gopher_quality": """
WITH base AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(coalesce(text, '')), '\\s+') END AS words,
         string_split(coalesce(text, ''), chr(10)) AS lines,
         CAST(length(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS BIGINT) AS word_chars
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         round(word_chars / greatest(len(words), 1), 4) AS mean_word_len,
         round((length(t) - length(replace(t, '#', ''))
                + (length(t) - length(replace(t, '...', ''))) / 3
                + length(t) - length(replace(t, '…', ''))) / greatest(len(words), 1),
               4) AS symbol_word_ratio,
         round(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) * 1.0
               / greatest(len(lines), 1), 4) AS bullet_line_frac,
         round(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) * 1.0
               / greatest(len(lines), 1), 4) AS ellipsis_line_frac,
         round(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
               / greatest(len(words), 1), 4) AS alpha_word_frac,
         -- ASCII-token membership, not \b word-bounding (Java \b is
         -- Unicode-aware, RE2's ASCII-only — the forms diverge on
         -- accent-adjacent text; token intersect is engine-identical)
         CAST(len(list_intersect(
              list_distinct(regexp_extract_all(lower(t), '[a-z0-9]+')),
              ['the','be','to','of','and','that','have','with']))
            AS BIGINT) AS n_required_stops
  FROM base
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
       ellipsis_line_frac, alpha_word_frac, n_required_stops,
       CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_word_ratio <= 0.1
                  AND bullet_line_frac <= 0.9
                  AND ellipsis_line_frac <= 0.3
                  AND alpha_word_frac >= 0.8
                  AND n_required_stops >= 2
            THEN 1 ELSE 0 END AS INTEGER) AS passes
FROM m
""",
    "c4_line_stats": """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l ->
              (CASE WHEN trim(l) = '' THEN 0
                    ELSE len(string_split_regex(trim(l), '\\s+')) END) >= 5
              AND regexp_matches(l, '[.!?"]\\s*$'))) AS BIGINT) AS n_kept_lines,
         CAST(CASE WHEN position('lorem ipsum' IN lower(t)) > 0 THEN 1 ELSE 0 END
              AS INTEGER) AS has_lorem,
         CAST(CASE WHEN position('{' IN t) > 0 THEN 1 ELSE 0 END AS INTEGER) AS has_brace
  FROM base
)
SELECT doc_id, n_lines, n_kept_lines,
       round(n_kept_lines * 1.0 / greatest(n_lines, 1), 4) AS kept_line_frac,
       has_lorem, has_brace,
       CAST(CASE WHEN has_lorem = 0 AND has_brace = 0 AND n_kept_lines >= 3
            THEN 1 ELSE 0 END AS INTEGER) AS page_pass
FROM m
""",
    "token_counts": """
SELECT doc_id,
       CASE WHEN trim(coalesce(text, '')) = '' THEN 0
            ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
       END::BIGINT AS n_ws,
       len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))::BIGINT AS n_words,
       len(regexp_extract_all(coalesce(text, ''),
           e'\\'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\\\sA-Za-z0-9]+|\\\\s+'))::BIGINT AS n_bpe
FROM documents
""",
    "doc_fingerprints": """
SELECT doc_id,
       md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fingerprint,
       list_reduce(
         list_prepend(0::BIGINT, list_transform(
           regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'),
           t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)),
         (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
FROM documents
""",
    # --- dedup ------------------------------------------------------------
    "exact_dedup": """
SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS keep_doc_id,
       count(*) AS dup_count
FROM documents GROUP BY 1
""",
    "jaccard_pairs": f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
""",
    "top_bigrams": """
WITH toks AS (
  SELECT regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n_occurrences
FROM bg
GROUP BY 1
ORDER BY n_occurrences DESC, bigram ASC
LIMIT 50
""",
    "repetition_stats": """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                       i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
),
counts AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(max(c) AS BIGINT) AS top_bigram_n,
       round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio,
       round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS distinct_bigram_ratio
FROM counts GROUP BY 1
""",
    "redact_pii": r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(coalesce(text, ''),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(coalesce(text, ''), '[0-9]{7,}')) AS BIGINT) AS n_numbers,
       md5(regexp_replace(
             regexp_replace(coalesce(text, ''),
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g')) AS redacted_fp
FROM documents
""",
    "mixture_rates": """
WITH per AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))) AS BIGINT)
           AS total_tokens,
         CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END AS w
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(w) AS sw FROM per)
SELECT source, total_tokens,
       CAST(floor(50000.0 * w / sw) AS BIGINT) AS target_tokens,
       round(least(1.0, CAST(floor(50000.0 * w / sw) AS DOUBLE) / total_tokens), 4)
         AS rate
FROM per, tot
ORDER BY source
""",
    "mixture_sample": """
WITH per AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))) AS BIGINT)
           AS total_tokens,
         CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END AS w
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(w) AS sw FROM per),
plan AS (
  SELECT source,
         CAST(floor(50000.0 * w / sw) AS BIGINT) AS target_tokens,
         round(least(1.0, CAST(floor(50000.0 * w / sw) AS DOUBLE) / total_tokens), 4)
           AS rate
  FROM per, tot
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(coalesce(d.text, ''), '[A-Za-z0-9]+'))) AS BIGINT)
         AS sampled_tokens,
       CAST(min(plan.target_tokens) AS BIGINT) AS target_tokens
FROM documents d JOIN plan ON d.source = plan.source
WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT / 65536.0
      < plan.rate
GROUP BY 1
ORDER BY 1
""",
    "contamination_pairs": f"""
WITH {_SHINGLES}
SELECT a.doc_id AS doc_id, b.doc_id AS eval_doc, CAST(count(*) AS BIGINT) AS n_shared
FROM sh a JOIN sh b ON a.sh = b.sh
WHERE a.doc_id >= 10 AND b.doc_id < 10
GROUP BY 1, 2
""",
    "quantize_embeddings": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scaled AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN round(127.0 / list_max(list_transform(v, x -> abs(x))), 6)
              ELSE 0.0 END AS scale,
         v
  FROM e
),
q AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
  FROM scaled
)
SELECT vec_id, scale,
       -- empty-vector fold: Spark F.aggregate starts from the 0 init
       -- (empty list -> 0) while list_aggregate(sum) gives NULL; a NULL
       -- VECTOR stays NULL in both (r15 degenerate sweep)
       CAST(CASE WHEN qv IS NULL THEN NULL
                 ELSE coalesce(list_aggregate(qv, 'sum'), 0) END
        AS BIGINT) AS q_sum,
       list_aggregate(qv, 'min') AS q_min,
       list_aggregate(qv, 'max') AS q_max
FROM q
""",
    "tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(ln((n.n + 1.0) / (df.df + 1.0)), 6) AS idf,
         round(tf.tf * round(ln((n.n + 1.0) / (df.df + 1.0)), 6), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, idf, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 3
""",
    "embedding_centroids": f"""
WITH {_VECS},
ex AS (
  SELECT vec_id % 8 AS bucket,
         unnest(range(1, len(v) + 1)) AS pos,
         unnest(v) AS val
  FROM e
),
comp AS (
  SELECT bucket, pos, round(avg(val), 6) AS m FROM ex GROUP BY 1, 2
),
counts AS (SELECT vec_id % 8 AS bucket, count(*) AS n_vecs FROM e GROUP BY 1)
SELECT c.bucket, counts.n_vecs, round(sqrt(sum(c.m * c.m)), 6) AS centroid_norm
FROM comp c JOIN counts USING (bucket)
GROUP BY 1, 2
ORDER BY 1
""",
    "dedup_clusters": f"""
WITH RECURSIVE {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
)
SELECT doc_id, min(label) AS cluster_id FROM cc GROUP BY 1
""",
    "dedup_summary": f"""
WITH RECURSIVE {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
),
clusters AS (SELECT doc_id, min(label) AS cluster_id FROM cc GROUP BY 1)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(*) FROM documents)
         - coalesce(CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_kept,
       coalesce(CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_removed
FROM clusters
""",
    # same recursive-CTE CC read-off as dedup_clusters, but over the
    # banded-LSH verified pair set (the minhash_lsh_pairs oracle's
    # CTEs verbatim) — the engine side runs the same min-label
    # propagation (dedup.dedup_clusters) over those pairs.
    "dedup_clusters_scalable": f"""
WITH RECURSIVE {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
)
SELECT doc_id, min(label) AS cluster_id FROM cc GROUP BY 1
""",
    "minhash_lsh_pairs": f"""
WITH {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM cand c
JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
""",
    # one-sided ingestion dedup: new batch (doc_id%10==3) vs the rest
    # of the corpus; banded candidates NEW x OLD only, exact-jaccard
    # verification, best match (jaccard desc, dup_of asc) per new doc
    "minhash_incremental": f"""
WITH {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 != 3
),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh
  WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 != 3
  GROUP BY 1, 2
),
verified AS (
  SELECT c.doc_id, c.dup_of,
         round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
  FROM cand c
  JOIN inter i ON i.doc_id = c.doc_id AND i.dup_of = c.dup_of
  JOIN sizes sa ON sa.doc_id = c.doc_id
  JOIN sizes sb ON sb.doc_id = c.dup_of
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
best AS (
  SELECT doc_id, dup_of, jaccard FROM (
    SELECT doc_id, dup_of, jaccard,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY jaccard DESC, dup_of ASC) AS rn
    FROM verified
  ) WHERE rn = 1
)
SELECT d.doc_id,
       CAST(CASE WHEN best.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS admit,
       CAST(best.dup_of AS BIGINT) AS dup_of,
       best.jaccard AS jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 3) d
LEFT JOIN best ON best.doc_id = d.doc_id
""",
    "minhash_jaccard_estimates": f"""
WITH {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
m AS (
  SELECT c.doc_a, c.doc_b,
         count(*) FILTER (ha.h = hb.h) AS matches
  FROM cand c
  JOIN hashes ha ON ha.doc_id = c.doc_a
  JOIN hashes hb ON hb.doc_id = c.doc_b AND hb.i = ha.i
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(matches / 16.0, 4) AS jaccard_est
FROM m WHERE round(matches / 16.0, 4) >= 0.1
""",
    "props_variant_stats": """
SELECT CAST(floor(TRY_CAST(props->>'k' AS INTEGER) / 10.0) AS INTEGER) AS k_decile,
       count(*) AS n,
       CAST(min(TRY_CAST(props->>'k' AS INTEGER)) AS INTEGER) AS min_k,
       CAST(max(TRY_CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
FROM events
WHERE TRY_CAST(props->>'k' AS INTEGER) IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
    "embedding_profile": f"""
WITH {_VECS_RAW},
-- census semantics: every row profiles, including degenerates — NULL
-- vector -> NULL norm (aggregates skip it, count doesn't), empty
-- vector -> norm 0 (Spark's fold-from-0.0). list_inner_product runs
-- only over the pre-filtered valid rows (a CASE branch does NOT keep
-- it off NULL lists in vectorized execution — r15 sweep), and the
-- LEFT JOIN re-attaches the degenerates with their agreed norms.
valid AS (SELECT vec_id, sqrt(list_inner_product(v, v)) AS nrm
          FROM e WHERE v IS NOT NULL AND len(v) > 0),
norms AS (SELECT e.vec_id,
                 CASE WHEN e.v IS NULL THEN NULL
                      ELSE coalesce(valid.nrm, 0.0) END AS nrm
          FROM e LEFT JOIN valid USING (vec_id)),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT label,
       count(*) AS n_vectors,
       round(avg(nrm), 6) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM norms JOIN lab USING (vec_id)
GROUP BY label
ORDER BY label
""",
    "lang_mixture": f"""
WITH {_DOC_EXPRS}
SELECT doc_id,
       CAST(c_en + c_de + c_fr + c_es AS BIGINT) AS n_votes,
       round(list_reverse_sort([c_en, c_de, c_fr, c_es])[1] * 1.0
             / greatest(c_en + c_de + c_fr + c_es, 1), 4) AS top_share,
       round(list_reverse_sort([c_en, c_de, c_fr, c_es])[2] * 1.0
             / greatest(c_en + c_de + c_fr + c_es, 1), 4) AS second_share,
       CAST((c_en + c_de + c_fr + c_es > 0 AND
             list_reverse_sort([c_en, c_de, c_fr, c_es])[2] * 1.0
             / greatest(c_en + c_de + c_fr + c_es, 1) >= 0.25) AS INTEGER) AS is_mixed
FROM docx
""",
    "nation_actor_presence": """
WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1),
m AS (
  SELECT coalesce(c.nk, s.nk) AS nk,
         coalesce(n_customers, 0) AS n_customers,
         coalesce(n_suppliers, 0) AS n_suppliers
  FROM c FULL OUTER JOIN s ON c.nk = s.nk
)
SELECT n_name,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(n_customers - n_suppliers AS BIGINT) AS balance
FROM m JOIN nation ON m.nk = n_nationkey
ORDER BY n_name
""",
    "audio_windows": """
SELECT doc_id,
       CAST(i AS INTEGER) AS window_idx,
       CAST(i * 10 AS BIGINT) AS start_ms,
       CAST(least(160, ns - i * 160) AS BIGINT) AS n_samples,
       md5(t || ':' || CAST(i AS VARCHAR)) AS window_md5
FROM (
  SELECT doc_id, coalesce(text, '') AS t,
         octet_length(encode(coalesce(text, ''))) // 2 AS ns,
         unnest(range(0, (octet_length(encode(coalesce(text, ''))) // 2 + 159) // 160)) AS i
  FROM documents
)
""",
    "value_stats": """
SELECT event_type,
       round(stddev_samp(value), 6) AS sd_value,
       round(var_samp(value), 6) AS var_value,
       round(corr(value, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) % 86400), 6)
         AS corr_value_tod
FROM events GROUP BY 1
""",
    "simhash_signatures": f"""
WITH {_SIMHASH}
SELECT doc_id, simhash FROM sigs
""",
    "simhash_pairs": f"""
WITH {_SIMHASH},
chunks AS (
  SELECT doc_id, simhash, c.i AS chunk, substring(simhash, c.i * 4 + 1, 4) AS val
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS i) c
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunks a
  JOIN chunks b ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
),
ham AS (
  SELECT doc_a, doc_b,
         {_SIMHASH_HAMMING} AS hamming
  FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 8
""",
    "cosine_dup_pairs": f"""
WITH {_VECS}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
""",
    "cosine_dup_pairs_blocked": f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
FROM assigned a
JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
JOIN e ea ON ea.vec_id = a.vec_id
JOIN e eb ON eb.vec_id = b.vec_id
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
""",
    "semantic_prune": f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
dropped AS (
  SELECT b.vec_id,
         CAST(count(*) AS BIGINT) AS n_earlier_dups,
         round(max(round(list_cosine_similarity(ea.v, eb.v), 6)), 6) AS max_cos
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
  GROUP BY 1
)
SELECT asg.vec_id, asg.centroid_id,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
       CAST(coalesce(d.n_earlier_dups, 0) AS BIGINT) AS n_earlier_dups,
       d.max_cos AS max_cos
FROM assigned asg LEFT JOIN dropped d ON asg.vec_id = d.vec_id
""",
    "embedding_prototypes": f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id, cos_sim FROM (
    SELECT e.vec_id, c.centroid_id,
           round(list_cosine_similarity(e.v, c.cv), 6) AS cos_sim,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
)
SELECT vec_id, centroid_id, cos_sim AS cos_centroid, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT vec_id, centroid_id, cos_sim,
         row_number() OVER (
           PARTITION BY centroid_id ORDER BY cos_sim DESC, vec_id ASC
         ) AS rank
  FROM assigned
) WHERE rank <= 8
""",
    # --- similarity search ------------------------------------------------
    "knn_bruteforce": f"""
WITH {_VECS}
SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
FROM e, q
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
""",
    "nearest_neighbor": f"""
WITH {_VECS},
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
  FROM e a JOIN e b ON a.vec_id != b.vec_id
),
ranked AS (
  SELECT vec_id, nn_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rn
  FROM scored
)
SELECT vec_id, nn_id, cos_sim FROM ranked WHERE rn = 1
""",
    "nearest_neighbor_blocked": f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id != b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
),
ranked AS (
  SELECT vec_id, nn_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rn
  FROM scored
)
SELECT vec_id, nn_id, cos_sim FROM ranked WHERE rn = 1
""",
    # adaptive-k + hard-capped + two-level bucket assignment shared by
    # the *_capped twins — see _CAPPED_SUBBED above
    "semantic_prune_capped": f"""
WITH {_VECS},
{_CAPPED_SUBBED},
dropped AS (
  SELECT b.vec_id,
         CAST(count(*) AS BIGINT) AS n_earlier_dups,
         round(max(round(list_cosine_similarity(ea.v, eb.v), 6)), 6) AS max_cos
  FROM subbed a
  JOIN subbed b ON a.centroid_id = b.centroid_id AND a.sub_id = b.sub_id
               AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
  GROUP BY 1
)
SELECT s.vec_id, s.centroid_id, s.sub_id,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
       CAST(coalesce(d.n_earlier_dups, 0) AS BIGINT) AS n_earlier_dups,
       d.max_cos AS max_cos
FROM subbed s LEFT JOIN dropped d ON s.vec_id = d.vec_id
""",
    "nearest_neighbor_capped": f"""
WITH {_VECS},
{_CAPPED_SUBBED},
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
  FROM subbed a
  JOIN subbed b ON a.centroid_id = b.centroid_id AND a.sub_id = b.sub_id
               AND a.vec_id != b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
),
ranked AS (
  SELECT vec_id, nn_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rn
  FROM scored
)
SELECT vec_id, nn_id, cos_sim FROM ranked WHERE rn = 1
""",
    "ivf_knn": f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
probed AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id, round(list_cosine_similarity(c.cv, q.qv), 6) AS c_sim
    FROM cents c, q
    ORDER BY c_sim DESC, centroid_id ASC LIMIT 4
  )
)
SELECT e.vec_id AS vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
FROM e
JOIN assigned a ON a.vec_id = e.vec_id
JOIN probed p ON p.centroid_id = a.centroid_id, q
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
""",
    # --- multimodal plumbing ----------------------------------------------
    # text payloads are never parseable images, so this certifies the
    # REJECT path of the real decode attempt: width/height NULL,
    # decodable 0, byte metadata exact. The reject is
    # environment-INVARIANT by construction (ADVICE r13): decode_image
    # gates on the fixed _IMAGE_MAGICS binary whitelist before any
    # decoder (incl. PIL's sniffing, which would otherwise accept
    # text-shaped ASCII formats like netpbm P1/P2/P3 or XBM) sees the
    # payload. Residual pin: no testdata text begins with the P5/P6/BM
    # magic bytes (verified across all SFs — a text that did would
    # additionally have to survive the strict dimensions +
    # exact-pixel-length parse to flip decodable). The decode SUCCESS
    # path is certified by decoded_image_stats.
    "media_features": """
SELECT doc_id,
       CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
       md5(coalesce(text, '')) AS content_md5,
       CAST(NULL AS INTEGER) AS width,
       CAST(NULL AS INTEGER) AS height,
       CAST(0 AS INTEGER) AS decodable
FROM documents
""",
    "frame_samples": """
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       md5(t || ':' || CAST(i AS VARCHAR)) AS frame_md5
FROM (
  SELECT doc_id, coalesce(text, '') AS t,
         unnest(range(0, strlen(coalesce(text, '')) % 100 + 1, 10)) AS i
  FROM documents
)
""",
    # the Spark side REALLY decodes the synthesized P6 payloads (header
    # tokenization + pixel-length check); the oracle recomputes the
    # intended dims from the same char-length formula, so any decoder
    # deviation (mis-parse, dropped row) hash-mismatches
    "decoded_image_stats": """
WITH dims AS (
  SELECT doc_id,
         CAST(length(coalesce(text, '')) % 13 + 1 AS INTEGER) AS width,
         CAST((length(coalesce(text, '')) * 7) % 11 + 1 AS INTEGER) AS height
  FROM documents
),
px AS (
  -- pixel i (0-based) has byte value 65 + i % 17; over n = w*h*3 bytes
  -- the sum is 65n + 136*(n//17) + r(r-1)/2 with r = n % 17 — exact
  -- integer arithmetic, so the decoded mean must match to the digit
  SELECT doc_id, width, height,
         CAST(width AS BIGINT) * height * 3 AS n
  FROM dims
)
SELECT doc_id, width, height, 'RGB' AS mode,
       round((65.0 * n + 136 * (n // 17) + (n % 17) * ((n % 17) - 1) / 2) / n, 4)
         AS mean_pixel
FROM px
""",
    # the Spark side REALLY parses the synthesized RIFF/WAV containers
    # (chunk walk incl. the LIST variants, PCM16 fmt, signed-int16
    # unpack) and windows the decoded samples at the PARSED rate; the
    # oracle replays the attach_wav closed form — rate from len%4,
    # n = len%37+3 samples, sample i = (len*31 + i*i*7) mod 65536
    # sign-folded — in exact integer arithmetic. window_ms = 1, so
    # samples/window = rate // 1000 and start_ms = window_idx.
    "decoded_audio_stats": """
WITH base AS (SELECT doc_id, length(coalesce(text, '')) AS L FROM documents),
par AS (
  SELECT doc_id,
         [8000, 16000, 22050, 44100][CAST(L % 4 AS INTEGER) + 1] AS sr,
         L % 37 + 3 AS n, L
  FROM base
),
sv AS (
  SELECT doc_id, sr,
         CAST(i AS BIGINT) AS i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM (
    SELECT doc_id, sr, unnest(range(n)) AS i,
           (L * 31 + unnest(range(n)) * unnest(range(n)) * 7) % 65536 AS u
    FROM par
  )
)
SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
       window_idx,
       CAST(window_idx AS BIGINT) AS start_ms,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs
FROM (SELECT doc_id, sr, CAST(i // (sr // 1000) AS INTEGER) AS window_idx, v FROM sv)
GROUP BY doc_id, sr, window_idx
ORDER BY doc_id, window_idx
""",
    # second audio container family (multimodal.decoded_aiff_stats):
    # the Spark side REALLY parses synthesized big-endian FORM/AIFF
    # containers (even-aligned chunk walk incl. ANNO variants, 80-bit
    # extended sample rate, signed BE int16 unpack); the oracle
    # recomputes the attach_aiff closed form, so a parser that misreads
    # the extended float or the byte order hash-mismatches
    "decoded_aiff_stats": """
WITH base AS (SELECT doc_id, length(coalesce(text, '')) AS L FROM documents),
par AS (
  SELECT doc_id,
         [8000, 16000, 22050, 44100][CAST(L % 4 AS INTEGER) + 1] AS sr,
         L % 29 + 4 AS n, L
  FROM base
),
sv AS (
  SELECT doc_id, sr,
         CAST(i AS BIGINT) AS i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM (
    SELECT doc_id, sr, unnest(range(n)) AS i,
           (L * 17 + unnest(range(n)) * unnest(range(n)) * 5) % 65536 AS u
    FROM par
  )
)
SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
       window_idx,
       CAST(window_idx AS BIGINT) AS start_ms,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs
FROM (SELECT doc_id, sr, CAST(i // (sr // 1000) AS INTEGER) AS window_idx, v FROM sv)
GROUP BY doc_id, sr, window_idx
ORDER BY doc_id, window_idx
""",
    # real-decode audio dedup (multimodal.wav_dup_windows): replay the
    # attach_wav sample closed form per window, render the PCM bytes as
    # the same uppercase-hex string the engine digests (DuckDB md5 is
    # VARCHAR-only — hex-string identity == byte identity), group on
    # the digest. Equal-L texts ⇒ identical streams ⇒ real dups.
    "wav_dup_windows": """
WITH base AS (SELECT doc_id, length(coalesce(text, '')) AS L FROM documents),
par AS (
  SELECT doc_id, L,
         [8000, 16000, 22050, 44100][CAST(L % 4 AS INTEGER) + 1] // 1000 AS spw,
         L % 37 + 3 AS n
  FROM base
),
win AS (
  SELECT doc_id, L, spw, n, unnest(range((n + spw - 1) // spw)) AS w
  FROM par
),
dig AS (
  SELECT doc_id,
         md5(array_to_string(list_transform(range(w * spw, least(n, (w + 1) * spw)),
             i -> lpad(to_hex(((L * 31 + i * i * 7) % 65536) % 256), 2, '0')
                  || lpad(to_hex(((L * 31 + i * i * 7) % 65536) // 256), 2, '0')), '')
             || ':' || CAST(w AS VARCHAR)) AS window_digest
  FROM win
)
SELECT window_digest, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM dig GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
ORDER BY window_digest
""",
    # chunking: range() over a column works inside list_transform (the
    # FROM-clause lateral form does not in DuckDB 1.0); zipped unnests in
    # the SELECT list expand positionally in lockstep
    "chunk_documents": """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
)
SELECT doc_id,
       unnest(list_transform(range(0, len(t), 48),
              s -> CAST(s // 48 AS INTEGER))) AS chunk_id,
       unnest(list_transform(range(0, len(t), 48),
              s -> CAST(len(list_slice(t, s + 1, s + 64)) AS INTEGER))) AS n_tokens,
       unnest(list_transform(range(0, len(t), 48),
              s -> md5(array_to_string(list_slice(t, s + 1, s + 64), ' ')))) AS chunk_hash
FROM toks WHERE len(t) > 0
""",
    "chunk_dedup_stats": """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
ch AS (
  SELECT unnest(list_transform(range(0, len(t), 48),
                s -> md5(array_to_string(list_slice(t, s + 1, s + 64), ' ')))) AS chunk_hash
  FROM toks WHERE len(t) > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chunk_hash) AS BIGINT) AS distinct_chunks,
       round(1.0 - count(DISTINCT chunk_hash) * 1.0 / count(*), 4) AS dup_rate
FROM ch
""",
    "source_blocklist_summary": f"""
WITH {_DOC_EXPRS},
q AS (
  SELECT doc_id, lang, source,
         round(least(n_tokens_raw / 100.0, 1.0)
               * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
               * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality
  FROM docx
),
src AS (SELECT source, round(avg(quality), 6) AS src_quality FROM q GROUP BY 1),
g AS (SELECT round(avg(quality), 6) AS corpus_quality FROM q),
blocked AS (SELECT source FROM src, g WHERE src_quality < corpus_quality)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       round(avg(quality), 4) AS avg_quality
FROM q ANTI JOIN blocked USING (source)
GROUP BY lang
""",
    "value_anomalies": """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         round(CAST(sum(value) AS DOUBLE), 2) AS total_value
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day, total_value,
         round((total_value - avg(total_value) OVER (PARTITION BY event_type))
               / nullif(stddev_pop(total_value) OVER (PARTITION BY event_type), 0.0),
               4) AS z
  FROM daily
)
SELECT event_type, day, total_value, z FROM scored WHERE abs(z) >= 2.0
""",
    "retention_cohorts": """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
  FROM events
),
c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
FROM ud JOIN c USING (user_id)
GROUP BY 1, 2
""",
    # ordered funnel: each stage's timestamp is a conditional window min
    # referencing the previous stage — CAST ts to µs TIMESTAMP so strict
    # '>' comparisons agree with Spark's µs-truncated event time
    "event_funnel": """
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
              OVER (PARTITION BY user_id) AS t0
  FROM e
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0 THEN ts END)
              OVER (PARTITION BY user_id) AS t1
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s2
),
s4 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s3
),
pu AS (
  SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM s4 GROUP BY 1
),
c AS (
  SELECT count(t0) AS c0, count(t1) AS c1, count(t2) AS c2, count(t3) AS c3
  FROM pu
)
SELECT 0 AS stage_idx, 'signup' AS stage, c0 AS users FROM c
UNION ALL SELECT 1, 'view', c1 FROM c
UNION ALL SELECT 2, 'click', c2 FROM c
UNION ALL SELECT 3, 'purchase', c3 FROM c
""",
    # oracle is the NAIVE band join — the Spark plan's bucketization is
    # pruning only, so result sets are identical; band on whole epoch
    # seconds (floor) to match Spark's unix_timestamp truncation
    "range_join_counts": """
WITH p AS (
  SELECT event_id, user_id, floor(epoch(CAST(ts AS TIMESTAMP))) AS sec
  FROM events WHERE event_type = 'purchase'
),
e AS (
  SELECT event_id, user_id, floor(epoch(CAST(ts AS TIMESTAMP))) AS sec
  FROM events WHERE event_type = 'error'
)
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(count(e.event_id) AS BIGINT) AS n_nearby
FROM p LEFT JOIN e
  ON e.user_id = p.user_id AND abs(e.sec - p.sec) <= 300
GROUP BY 1, 2
""",
    # oracle is the exact heavy-hitter query with no sketch in it — the
    # Misra-Gries phase only proposes a guaranteed-superset candidate
    # set that exact recounting then filters
    "frequent_terms": """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
FROM toks, tot
GROUP BY term, tot.n
HAVING count(*) >= ceil(0.005 * n)
""",
    "unigram_scores": """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
vocab AS (SELECT term, count(*) AS tc FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM toks)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(log2(n_total * 1.0 / tc)), 4) AS avg_neg_log2p
FROM toks JOIN vocab USING (term), tot
GROUP BY doc_id
""",
}

# The end-to-end curation pipeline summary recomposes the member
# operators' oracle SQL: the LSH near-dup stage embeds the registered
# minhash_lsh_pairs oracle verbatim as a subquery, so the two can never
# drift apart. Stage semantics mirror curation.curation_stages exactly.
ORACLES["curation_summary"] = f"""
WITH {_DOC_EXPRS},
{_SHINGLES},
q AS (
  SELECT doc_id,
         round(least(n_tokens_raw / 100.0, 1.0)
               * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
               * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality,
         n_tokens_raw
  FROM docx
),
s1 AS (SELECT doc_id FROM q WHERE quality >= 0.05 AND n_tokens_raw >= 10),
fp AS (
  SELECT d.doc_id,
         md5(regexp_replace(lower(trim(coalesce(d.text, ''))), '\\s+', ' ', 'g')) AS fp
  FROM documents d JOIN s1 USING (doc_id)
),
s2 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
lsh AS ({ORACLES["minhash_lsh_pairs"]}),
dropb AS (
  SELECT DISTINCT l.doc_b AS doc_id
  FROM lsh l JOIN s2 a ON l.doc_a = a.doc_id JOIN s2 b ON l.doc_b = b.doc_id
),
s3 AS (SELECT s2.doc_id FROM s2 ANTI JOIN dropb USING (doc_id)),
contam AS (
  SELECT DISTINCT doc_id FROM (
    SELECT a.doc_id AS doc_id, b.doc_id AS eval_doc, count(*) AS n
    FROM sh a JOIN sh b ON a.sh = b.sh
    WHERE a.doc_id >= 10 AND b.doc_id < 10
    GROUP BY 1, 2
  ) pairs WHERE n >= 5
),
s4 AS (
  SELECT z.doc_id
  FROM (SELECT doc_id FROM s3 WHERE doc_id >= 10) z
  ANTI JOIN contam USING (doc_id)
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_raw,
  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS after_quality,
  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS after_exact,
  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS after_neardup,
  (SELECT CAST(count(*) AS BIGINT) FROM s4) AS after_decontam,
  (SELECT CAST(coalesce(sum(CASE WHEN len(t) > 0 THEN (len(t) + 47) // 48 ELSE 0 END), 0) AS BIGINT)
     FROM toks JOIN s4 USING (doc_id)) AS n_chunks,
  (SELECT CAST(coalesce(sum(n_tokens_raw), 0) AS BIGINT)
     FROM docx JOIN s4 USING (doc_id)) AS total_tokens
"""


def _srp_oracle(n_bits: int = 16, bands: int = 4, dims: int = 64) -> str:
    """SRP-LSH oracle generated from the SAME deterministic hyperplane
    matrix the Spark operator embeds (operators/similarity._srp_signs),
    so the two sides can never drift: both compute sign bits from
    round(dot(v, ±1-hyperplane), 6), band them, join candidates on
    (band, bucket) with first-match emission, and verify with the exact
    cosine."""
    from data_pipeline_example_spark.operators.similarity import _srp_signs

    signs = _srp_signs(n_bits, dims)
    nb_per_band = n_bits // bands
    proj_cols = ",\n    ".join(
        "CASE WHEN round(list_dot_product(v, CAST(["
        + ",".join(f"{s:.1f}" for s in signs[j])
        + f"] AS DOUBLE[])), 6) >= 0 THEN 1 ELSE 0 END AS bit{j}"
        for j in range(n_bits)
    )
    bucket_cols = ",\n    ".join(
        " + ".join(f"bit{b * nb_per_band + j} * {1 << j}" for j in range(nb_per_band))
        + f" AS bucket{b}"
        for b in range(bands)
    )
    bucket_list = ", ".join(f"bucket{b}" for b in range(bands))
    banded = "\n  UNION ALL ".join(
        f"SELECT vec_id, {bucket_list}, {b} AS band, bucket{b} AS bucket FROM sig"
        for b in range(bands)
    )
    first_match = " AND ".join(
        f"(a.band <= {k} OR a.bucket{k} != b.bucket{k})" for k in range(bands - 1)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
proj AS (SELECT vec_id, {proj_cols} FROM e),
sig AS (SELECT vec_id, {bucket_cols} FROM proj),
banded AS ({banded}),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id AND {first_match}
)
SELECT c.vec_a, c.vec_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
"""


ORACLES["srp_dup_pairs"] = _srp_oracle()

# recall audit composes the two pair oracles verbatim as derived tables,
# so the metric's ground truth is definitionally the certified queries'
ORACLES["lsh_recall_summary"] = f"""
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CASE WHEN n_true > 0 THEN round(n_lsh * 1.0 / n_true, 4) END AS recall
FROM (
  SELECT (SELECT count(*) FROM ({ORACLES["jaccard_pairs"]})) AS n_true,
         (SELECT count(*) FROM ({ORACLES["minhash_lsh_pairs"]})) AS n_lsh
)
"""


def _projection_oracle(out_dims: int = 16, dims: int = 64) -> str:
    """JL-projection oracle generated from the SAME md5-derived sign
    matrix the Spark operator embeds (operators/similarity._srp_signs):
    p_j = round(dot(v, h_j) * (1/sqrt(out_dims)), 6). list_dot_product's
    accumulation matched the Spark sequential fold at 6 dp for the SRP
    oracle; the projection reuses exactly that contract."""
    import math

    from data_pipeline_example_spark.operators.similarity import _srp_signs

    signs = _srp_signs(out_dims, dims)
    inv = repr(1.0 / math.sqrt(out_dims))
    proj_cols = ",\n       ".join(
        "round(list_dot_product(v, CAST(["
        + ",".join(f"{s:.1f}" for s in signs[j])
        + f"] AS DOUBLE[])) * {inv}, 6) AS p{j:02d}"
        for j in range(out_dims)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
SELECT vec_id,
       {proj_cols}
FROM e
"""


ORACLES["project_embeddings"] = _projection_oracle()


def _pq_oracle(m: int = 4, ks: int = 16, dims: int = 64) -> str:
    """Product-quantization oracle: rebuild the data-derived codebook
    (slices of vec_id < ks) in SQL, score every sub-vector against its
    subspace's centroids with the same rounded cosine, pick argmax with
    the lowest-cid tie-break via window rank, pivot codes back to one
    row per vector."""
    sub_len = dims // m
    code_cols = ",\n       ".join(
        f"max(CASE WHEN g = {g} THEN cid END) AS code_{g}" for g in range(m)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
parts AS (
  SELECT vec_id, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS sv
  FROM e CROSS JOIN range({m}) t(g)
),
cparts AS (
  SELECT vec_id AS cid, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS cv
  FROM e CROSS JOIN range({m}) t(g)
  WHERE vec_id < {ks}
),
scored AS (
  SELECT p.vec_id, p.g, c.cid,
         round(list_cosine_similarity(p.sv, c.cv), 6) AS cos
  FROM parts p JOIN cparts c ON p.g = c.g
),
best AS (
  SELECT vec_id, g, cid,
         row_number() OVER (PARTITION BY vec_id, g ORDER BY cos DESC, cid ASC) AS rn
  FROM scored
)
SELECT vec_id,
       {code_cols}
FROM best WHERE rn = 1
GROUP BY vec_id
"""


ORACLES["pq_codes"] = _pq_oracle()


def _ivfpq_oracle(
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
    rerank: int = 64,
) -> str:
    """IVF-PQ oracle: coarse assignment + probed buckets + PQ codes +
    per-subspace query LUT + summed approximate similarity + exact
    re-rank, all rebuilt in SQL from the same deterministic data-derived
    codebooks (vec_id < n_centroids coarse, vec_id < ks slices per
    subspace).  approx_sim = round(sum of m 6-dp LUT values, 6) — exact
    to fp, so accumulation order can't flip the hash."""
    sub_len = dims // m
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {n_centroids}),
ascore AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
         ) AS rn
  FROM e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, centroid_id FROM ascore WHERE rn = 1),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id}),
probed AS (
  SELECT centroid_id
  FROM cents CROSS JOIN q
  ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, centroid_id ASC
  LIMIT {n_probe}
),
bucket_ids AS (SELECT vec_id FROM assigned JOIN probed USING (centroid_id)),
parts AS (
  SELECT vec_id, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS sv
  FROM e CROSS JOIN range({m}) t(g)
),
cparts AS (
  SELECT vec_id AS cid, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS cv
  FROM e CROSS JOIN range({m}) t(g)
  WHERE vec_id < {ks}
),
pqscore AS (
  SELECT p.vec_id, p.g, c.cid,
         row_number() OVER (
           PARTITION BY p.vec_id, p.g
           ORDER BY round(list_cosine_similarity(p.sv, c.cv), 6) DESC, c.cid ASC
         ) AS rn
  FROM parts p JOIN cparts c ON p.g = c.g
),
codes AS (SELECT vec_id, g, cid FROM pqscore WHERE rn = 1),
lut AS (
  SELECT c.g, c.cid,
         round(list_cosine_similarity(
           c.cv, list_slice(qv, c.g * {sub_len} + 1, (c.g + 1) * {sub_len})), 6) AS l
  FROM cparts c CROSS JOIN q
),
approx AS (
  SELECT codes.vec_id, round(sum(l), 6) AS approx_sim
  FROM codes
  JOIN bucket_ids USING (vec_id)
  JOIN lut ON lut.g = codes.g AND lut.cid = codes.cid
  GROUP BY codes.vec_id
),
shortlist AS (
  SELECT vec_id, approx_sim FROM approx
  ORDER BY approx_sim DESC, vec_id ASC LIMIT {rerank}
)
SELECT s.vec_id, s.approx_sim,
       round(list_cosine_similarity(e.v, qv), 6) AS cos_sim
FROM shortlist s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q
ORDER BY cos_sim DESC, s.vec_id ASC
LIMIT {k}
"""


ORACLES["ivfpq_knn"] = _ivfpq_oracle()


def _retrieval_quality_oracle(
    n_queries: int = 4,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
    rerank: int = 64,
    n_each: int = 20,
    rrf_k: int = 60,
) -> str:
    """Retrieval-stack evaluation oracle (curation.retrieval_quality):
    exact batch truth + the three system chains (per-query ivf probe,
    the full IVF-PQ LUT/re-rank chain partitioned by query, and the
    BM25+ivf RRF fusion), overlap-joined into recall@k / MRR. The
    member chains replay the single-query ivf_knn / _ivfpq_oracle /
    rrf_hybrid_search oracles generalized with PARTITION BY qid."""
    sub_len = dims // m
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {n_queries}),
truth AS (
  SELECT qid, vec_id, rnk FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id ASC
           ) AS rnk
    FROM e CROSS JOIN qs q
  ) WHERE rnk <= {k}
),
t1 AS (SELECT qid, vec_id AS t1_id FROM truth WHERE rnk = 2),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {n_centroids}),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
probedq AS (
  SELECT qid, centroid_id FROM (
    SELECT q.qid, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= {n_probe}
),
ivf20 AS (
  SELECT qid, vec_id, rnk FROM (
    SELECT p.qid, e.vec_id,
           row_number() OVER (
             PARTITION BY p.qid
             ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id ASC
           ) AS rnk
    FROM e
    JOIN assigned a ON a.vec_id = e.vec_id
    JOIN probedq p ON p.centroid_id = a.centroid_id
    JOIN qs q ON q.qid = p.qid
  ) WHERE rnk <= {n_each}
),
parts AS (
  SELECT vec_id, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS sv
  FROM e CROSS JOIN range({m}) t(g)
),
cparts AS (
  SELECT vec_id AS cid, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS cv
  FROM e CROSS JOIN range({m}) t(g)
  WHERE vec_id < {ks}
),
pqscore AS (
  SELECT p.vec_id, p.g, c.cid,
         row_number() OVER (
           PARTITION BY p.vec_id, p.g
           ORDER BY round(list_cosine_similarity(p.sv, c.cv), 6) DESC, c.cid ASC
         ) AS rn
  FROM parts p JOIN cparts c ON p.g = c.g
),
codes AS (SELECT vec_id, g, cid FROM pqscore WHERE rn = 1),
lutq AS (
  SELECT q.qid, c.g, c.cid,
         round(list_cosine_similarity(
           c.cv, list_slice(q.qv, c.g * {sub_len} + 1, (c.g + 1) * {sub_len})), 6) AS l
  FROM cparts c CROSS JOIN qs q
),
bucketq AS (
  SELECT p.qid, a.vec_id
  FROM assigned a JOIN probedq p ON p.centroid_id = a.centroid_id
),
approxq AS (
  SELECT b.qid, codes.vec_id, round(sum(l.l), 6) AS approx_sim
  FROM codes
  JOIN bucketq b ON b.vec_id = codes.vec_id
  JOIN lutq l ON l.qid = b.qid AND l.g = codes.g AND l.cid = codes.cid
  GROUP BY b.qid, codes.vec_id
),
shortq AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (
             PARTITION BY qid ORDER BY approx_sim DESC, vec_id ASC
           ) AS rn
    FROM approxq
  ) WHERE rn <= {rerank}
),
pq10 AS (
  SELECT qid, vec_id, rnk FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (
             PARTITION BY s.qid
             ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, s.vec_id ASC
           ) AS rnk
    FROM shortq s JOIN e ON e.vec_id = s.vec_id JOIN qs q ON q.qid = s.qid
  ) WHERE rnk <= {k}
),
toksb AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS sum_dl
  FROM toksb
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toksb)
  WHERE term IN ('spark', 'window', 'hash')
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
scoredx AS (
  SELECT tf.doc_id,
         CAST(round(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
         , 6) * 1e6 AS BIGINT) AS s_micro
  FROM tf JOIN dfs USING (term) CROSS JOIN stats
),
lex_top AS (
  SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro
  FROM scoredx GROUP BY 1
  ORDER BY bm25_micro DESC, doc_id ASC
  LIMIT {n_each}
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rank_lex
  FROM lex_top
),
lexq AS (SELECT q.qid, l.doc_id, l.rank_lex FROM lex l CROSS JOIN qs q),
semq AS (SELECT qid, vec_id AS doc_id, rnk AS rank_sem FROM ivf20),
fusedq AS (
  SELECT coalesce(lx.qid, sm.qid) AS qid,
         coalesce(lx.doc_id, sm.doc_id) AS doc_id,
         CAST(
           (CASE WHEN lx.rank_lex IS NOT NULL
                 THEN 1000000 // ({rrf_k} + lx.rank_lex) ELSE 0 END)
           + (CASE WHEN sm.rank_sem IS NOT NULL
                   THEN 1000000 // ({rrf_k} + sm.rank_sem) ELSE 0 END)
         AS BIGINT) AS rrf_micro
  FROM lexq lx FULL OUTER JOIN semq sm
    ON lx.qid = sm.qid AND lx.doc_id = sm.doc_id
),
rrf10 AS (
  SELECT qid, doc_id AS vec_id, rnk FROM (
    SELECT qid, doc_id,
           row_number() OVER (
             PARTITION BY qid ORDER BY rrf_micro DESC, doc_id ASC
           ) AS rnk
    FROM fusedq
  ) WHERE rnk <= {k}
),
sys AS (
  SELECT 'ivf' AS system, qid, vec_id, rnk FROM ivf20 WHERE rnk <= {k}
  UNION ALL SELECT 'ivfpq' AS system, qid, vec_id, rnk FROM pq10
  UNION ALL SELECT 'rrf' AS system, qid, vec_id, rnk FROM rrf10
)
SELECT s.system, CAST(s.qid AS BIGINT) AS query_id,
       CAST(count(*) AS BIGINT) AS n_returned,
       CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST((sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000) // {k}
            AS BIGINT) AS recall_milli,
       CAST(coalesce(
         1000000 // min(CASE WHEN s.vec_id = t1.t1_id THEN s.rnk END), 0
       ) AS BIGINT) AS mrr_micro
FROM sys s
LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id
LEFT JOIN t1 ON t1.qid = s.qid
GROUP BY s.system, s.qid
ORDER BY s.system, s.qid
"""


ORACLES["retrieval_quality"] = _retrieval_quality_oracle()


# Batched IVF serving (operators/similarity.py ivf_knn_batch): the
# ivf_knn chain generalized with PARTITION BY qid — one assignment,
# per-query probes, per-query rank over the probed buckets.
ORACLES["ivf_knn_batch"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
probedq AS (
  SELECT qid, centroid_id FROM (
    SELECT q.qid, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= 4
)
SELECT qid AS query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rank FROM (
  SELECT p.qid, e.vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY p.qid
           ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id ASC
         ) AS rnk
  FROM e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN probedq p ON p.centroid_id = a.centroid_id
  JOIN qs q ON q.qid = p.qid
) WHERE rnk <= 10
ORDER BY query_id, rank
"""


# Batched IVF-PQ serving (operators/similarity.py ivfpq_knn_batch):
# the _ivfpq_oracle chain generalized per query — shared assignment +
# codes, per-query LUT/shortlist/re-rank.
ORACLES["ivfpq_knn_batch"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
probedq AS (
  SELECT qid, centroid_id FROM (
    SELECT q.qid, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= 4
),
parts AS (
  SELECT vec_id, g, list_slice(v, g * 16 + 1, (g + 1) * 16) AS sv
  FROM e CROSS JOIN range(4) t(g)
),
cparts AS (
  SELECT vec_id AS cid, g, list_slice(v, g * 16 + 1, (g + 1) * 16) AS cv
  FROM e CROSS JOIN range(4) t(g)
  WHERE vec_id < 16
),
pqscore AS (
  SELECT p.vec_id, p.g, c.cid,
         row_number() OVER (
           PARTITION BY p.vec_id, p.g
           ORDER BY round(list_cosine_similarity(p.sv, c.cv), 6) DESC, c.cid ASC
         ) AS rn
  FROM parts p JOIN cparts c ON p.g = c.g
),
codes AS (SELECT vec_id, g, cid FROM pqscore WHERE rn = 1),
lutq AS (
  SELECT q.qid, c.g, c.cid,
         round(list_cosine_similarity(
           c.cv, list_slice(q.qv, c.g * 16 + 1, (c.g + 1) * 16)), 6) AS l
  FROM cparts c CROSS JOIN qs q
),
bucketq AS (
  SELECT p.qid, a.vec_id
  FROM assigned a JOIN probedq p ON p.centroid_id = a.centroid_id
),
approxq AS (
  SELECT b.qid, codes.vec_id, round(sum(l.l), 6) AS approx_sim
  FROM codes
  JOIN bucketq b ON b.vec_id = codes.vec_id
  JOIN lutq l ON l.qid = b.qid AND l.g = codes.g AND l.cid = codes.cid
  GROUP BY b.qid, codes.vec_id
),
shortq AS (
  SELECT qid, vec_id, approx_sim FROM (
    SELECT qid, vec_id, approx_sim,
           row_number() OVER (
             PARTITION BY qid ORDER BY approx_sim DESC, vec_id ASC
           ) AS rn
    FROM approxq
  ) WHERE rn <= 64
)
SELECT qid AS query_id, vec_id, approx_sim, cos_sim,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT s.qid, s.vec_id, s.approx_sim,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY s.qid
           ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, s.vec_id ASC
         ) AS rnk
  FROM shortq s JOIN e ON e.vec_id = s.vec_id JOIN qs q ON q.qid = s.qid
) WHERE rnk <= 10
ORDER BY query_id, rank
"""


ORACLES["user_cardinality_kmv"] = """
WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
hv AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
  FROM u
),
top AS (SELECT hv FROM hv ORDER BY hv LIMIT 64),
sketch AS (SELECT CAST(count(*) AS BIGINT) AS n_seen, max(hv) AS kth FROM top),
exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM u),
est AS (
  SELECT n_exact,
         CASE WHEN n_seen < 64 THEN n_seen
              ELSE CAST(round(17732923532771328.0 / kth, 0) AS BIGINT)
         END AS kmv_estimate
  FROM sketch CROSS JOIN exact
)
SELECT CAST(64 AS INTEGER) AS k, n_exact, kmv_estimate,
       round(abs(kmv_estimate - n_exact) / n_exact, 4) AS rel_err
FROM est
"""


ORACLES["user_reach_rollup"] = """
WITH hv AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d,
         coalesce(event_type, 'unknown') AS event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
  FROM events WHERE user_id IS NOT NULL
),
dsk AS (
  SELECT d, event_type, hv
  FROM (SELECT d, event_type, hv,
               row_number() OVER (PARTITION BY d, event_type ORDER BY hv) AS rk
        FROM hv)
  WHERE rk <= 64
),
merged AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM (SELECT DISTINCT event_type, hv FROM dsk)
),
sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen, max(hv) AS kth
       FROM merged WHERE rk <= 64 GROUP BY 1),
days AS (SELECT event_type, CAST(count(DISTINCT d) AS BIGINT) AS daily_sketches
         FROM dsk GROUP BY 1)
SELECT s.event_type, days.daily_sketches,
       CASE WHEN s.n_seen < 64 THEN s.n_seen
            ELSE CAST(round(17732923532771328.0 / s.kth, 0) AS BIGINT)
       END AS reach_estimate
FROM sk s JOIN days USING (event_type)
ORDER BY event_type
"""

ORACLES["priority_sample"] = """
WITH d AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS weight,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1.0)
           / 281474976710656.0 AS u
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, weight, round(ln(u) / weight, 12) AS sample_key
FROM d
ORDER BY sample_key DESC, doc_id ASC
LIMIT 50
"""


ORACLES["user_cardinality_kmv_by_type"] = """
WITH pairs AS (
  SELECT DISTINCT coalesce(event_type, 'unknown') AS event_type, user_id
  FROM events WHERE user_id IS NOT NULL
),
hv AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
  FROM pairs
),
ranked AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM hv
),
sketch AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen, max(hv) AS kth
  FROM ranked WHERE rk <= 16 GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM pairs GROUP BY event_type
),
est AS (
  SELECT s.event_type, e.n_exact,
         CASE WHEN s.n_seen < 16 THEN s.n_seen
              ELSE CAST(round(4222124650659840.0 / s.kth, 0) AS BIGINT)
         END AS kmv_estimate
  FROM sketch s JOIN exact e USING (event_type)
)
SELECT event_type, n_exact, kmv_estimate,
       round(abs(kmv_estimate - n_exact) / n_exact, 4) AS rel_err
FROM est
"""


# image_phash_stats: replay attach_ppm -> decode -> 8x8 nearest resize
# -> integer aHash analytically. Resized cell (x,y) pulls source pixel
# (x*W//8, y*H//8); its 3 bytes are 65 + (base+c) % 17 with
# base = (sy*W+sx)*3. All-integer: bit i = [64*gray_i > total].
ORACLES["image_phash_stats"] = """
WITH dims AS (
  SELECT doc_id,
         length(coalesce(text, '')) % 13 + 1 AS w,
         (length(coalesce(text, '')) * 7) % 11 + 1 AS h
  FROM documents
),
g AS (
  SELECT doc_id, w, h,
         list_transform(range(64), i ->
           195 + ((((i // 8) * h // 8) * w + (i % 8) * w // 8) * 3 % 17)
               + ((((i // 8) * h // 8) * w + (i % 8) * w // 8) * 3 + 1) % 17
               + ((((i // 8) * h // 8) * w + (i % 8) * w // 8) * 3 + 2) % 17
         ) AS grays
  FROM dims
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       array_to_string(
         list_transform(range(64), i ->
           CASE WHEN 64 * grays[i + 1] > list_aggregate(grays, 'sum')
                THEN '1' ELSE '0' END), '') AS phash
FROM g
"""


# phash_dup_pairs: banded join over the analytic phash (derived table =
# the image_phash_stats oracle), first-match emission, exact Hamming by
# per-position char comparison
ORACLES["phash_dup_pairs"] = f"""
WITH ph AS ({ORACLES["image_phash_stats"]}),
groups AS (
  SELECT phash, min(doc_id) AS rep_doc, CAST(count(*) AS BIGINT) AS n_members
  FROM ph GROUP BY phash
),
banded AS (
  SELECT phash, rep_doc, n_members, b.c AS chunk,
         substr(phash, b.c * 16 + 1, 16) AS val
  FROM groups CROSS JOIN (SELECT unnest(range(4)) AS c) b
),
cand AS (
  SELECT a.rep_doc AS doc_a, b.rep_doc AS doc_b,
         a.phash AS pa, b.phash AS pb,
         a.n_members AS n_a, b.n_members AS n_b
  FROM banded a JOIN banded b
    ON a.chunk = b.chunk AND a.val = b.val AND a.rep_doc < b.rep_doc
   AND (a.chunk <= 0 OR substr(a.phash, 1, 16) != substr(b.phash, 1, 16))
   AND (a.chunk <= 1 OR substr(a.phash, 17, 16) != substr(b.phash, 17, 16))
   AND (a.chunk <= 2 OR substr(a.phash, 33, 16) != substr(b.phash, 33, 16))
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(64),
            i -> substr(pa, CAST(i + 1 AS INTEGER), 1)
              != substr(pb, CAST(i + 1 AS INTEGER), 1))) AS INTEGER) AS hamming,
       n_a, n_b
FROM cand
WHERE len(list_filter(range(64),
      i -> substr(pa, CAST(i + 1 AS INTEGER), 1)
        != substr(pb, CAST(i + 1 AS INTEGER), 1))) BETWEEN 1 AND 8
"""


ORACLES["audio_dup_windows"] = f"""
WITH w AS ({ORACLES["audio_windows"]})
SELECT window_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM w
GROUP BY window_md5
HAVING count(DISTINCT doc_id) > 1
"""


# ANN recall audit: composes the two certified oracles verbatim, like
# lsh_recall_summary does for the text-LSH path
ORACLES["ivfpq_recall"] = f"""
WITH exact AS ({ORACLES["knn_bruteforce"]}),
approx AS ({ORACLES["ivfpq_knn"]})
SELECT CAST(10 AS INTEGER) AS k,
       CAST((SELECT count(*) FROM approx WHERE approx.vec_id IN
             (SELECT vec_id FROM exact)) AS BIGINT) AS n_hits,
       round((SELECT count(*) FROM approx WHERE approx.vec_id IN
             (SELECT vec_id FROM exact)) * 1.0
             / (SELECT count(*) FROM exact), 4) AS recall
"""


def _kmeans_oracle(k: int = 8, iterations: int = 5, dims: int = 64) -> str:
    """K-means replayed as an unrolled CTE chain — possible because the
    Spark operator rounds every iteration's squared distance AND every
    updated component mean to 6 dp (operators/similarity.
    kmeans_embeddings), so argmin ties and averages are engine-exact.
    c0 = vectors with the k lowest vec_ids (cluster ids 1..k in vec_id
    order); each round: assign (argmin rounded L2², tie lowest
    cluster), update (per-cluster per-component rounded mean,
    re-assembled with list(m ORDER BY pos)). The final aggregate runs
    over the LAST assignment, matching the Spark loop exactly."""
    d2 = (
        "round(list_aggregate(list_transform(range({d}), "
        "i -> (e.v[i + 1] - c.c[i + 1]) * (e.v[i + 1] - c.c[i + 1])), 'sum'), 6)"
    ).format(d=dims)
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cluster, v AS c
  FROM e ORDER BY vec_id LIMIT {k}
)""",
    ]
    for it in range(1, iterations + 1):
        prev_c = f"c{it - 1}"
        parts.append(f"""s{it} AS (
  SELECT e.vec_id, e.v, c.cluster, {d2} AS d2,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {d2} ASC, c.cluster ASC) AS rn
  FROM e CROSS JOIN {prev_c} c
)""")
        parts.append(
            f"a{it} AS (SELECT vec_id, v, cluster, d2 FROM s{it} WHERE rn = 1)"
        )
        if it < iterations:
            parts.append(f"""m{it} AS (
  SELECT cluster, CAST(t.i AS INTEGER) AS pos, round(avg(v[t.i + 1]), 6) AS m
  FROM a{it} CROSS JOIN range({dims}) t(i)
  GROUP BY cluster, t.i
)""")
            parts.append(f"""c{it} AS (
  SELECT cluster, list(m ORDER BY pos) AS c FROM m{it} GROUP BY cluster
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       round(sum(d2), 2) AS inertia
FROM a{iterations}
GROUP BY cluster
ORDER BY cluster
"""


ORACLES["kmeans_embeddings"] = _kmeans_oracle()


# SRP recall audit: composes the two certified pair oracles verbatim,
# mirroring lsh_recall_summary
ORACLES["srp_recall_summary"] = f"""
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CASE WHEN n_true > 0 THEN round(n_lsh * 1.0 / n_true, 4) END AS recall
FROM (
  SELECT (SELECT count(*) FROM ({ORACLES["cosine_dup_pairs"]})) AS n_true,
         (SELECT count(*) FROM ({ORACLES["srp_dup_pairs"]})) AS n_lsh
)
"""


def _srp_oracle_adaptive(
    bands: int = 4, dims: int = 64, threshold: float = 0.35, max_nb: int = 16
) -> str:
    """Adaptive-width SRP oracle: replicates the operator's
    corpus-sized signature (bits per band = max(4, ceil(log2(n/64)))
    for n > 64 — `similarity.srp_dup_pairs`) instead of pinning 16
    bits, so the oracle is exact at EVERY validation scale, not only at
    the ≤500-row floor. All ``bands * max_nb`` sign bits are computed
    once from the shared md5-derived hyperplane family (hyperplane j
    depends only on j, so every width uses the same prefix); the banded
    CTE unions one branch per candidate width, each filtered by the
    scalar-subquery width, so exactly one branch produces rows."""
    from data_pipeline_example_spark.operators.similarity import _srp_signs

    n_bits_max = bands * max_nb
    signs = _srp_signs(n_bits_max, dims)
    proj_cols = ",\n    ".join(
        "CASE WHEN round(list_dot_product(v, CAST(["
        + ",".join(f"{s:.1f}" for s in signs[j])
        + f"] AS DOUBLE[])), 6) >= 0 THEN 1 ELSE 0 END AS bit{j}"
        for j in range(n_bits_max)
    )
    branches = []
    for nb in range(4, max_nb + 1):
        bucket_exprs = [
            " + ".join(f"bit{b * nb + p} * {1 << p}" for p in range(nb))
            for b in range(bands)
        ]
        bucket_cols = ", ".join(
            f"({bucket_exprs[b]}) AS bucket{b}" for b in range(bands)
        )
        for b in range(bands):
            branches.append(
                f"SELECT vec_id, {bucket_cols}, {b} AS band,"
                f" ({bucket_exprs[b]}) AS bucket"
                f" FROM proj WHERE (SELECT nb FROM nbv) = {nb}"
            )
    banded = "\n  UNION ALL ".join(branches)
    first_match = " AND ".join(
        f"(a.band <= {k} OR a.bucket{k} != b.bucket{k})" for k in range(bands - 1)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
stats AS (SELECT count(*) AS n FROM e),
nbv AS (
  SELECT CASE WHEN n <= 64 THEN 4
              ELSE greatest(4, CAST(ceil(log2(n / 64.0)) AS INTEGER))
         END AS nb
  FROM stats
),
proj AS (SELECT vec_id, {proj_cols} FROM e),
banded AS ({banded}),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id AND {first_match}
)
SELECT c.vec_a, c.vec_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
"""


ORACLES["srp_dup_pairs"] = _srp_oracle_adaptive()
# rebuild the recall audit on top of the adaptive pair oracle
ORACLES["srp_recall_summary"] = f"""
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CASE WHEN n_true > 0 THEN round(n_lsh * 1.0 / n_true, 4) END AS recall
FROM (
  SELECT (SELECT count(*) FROM ({ORACLES["cosine_dup_pairs"]})) AS n_true,
         (SELECT count(*) FROM ({ORACLES["srp_dup_pairs"]})) AS n_lsh
)
"""


ORACLES["corpus_diff"] = r"""
WITH old AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g')) AS fp_old
  FROM documents WHERE doc_id % 10 != 3
),
new AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(
           coalesce(text, '') || CASE WHEN doc_id % 10 = 1 THEN ' rev2' ELSE '' END
         )), '\s+', ' ', 'g')) AS fp_new
  FROM documents WHERE doc_id % 10 != 7
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN fp_old = fp_new THEN 'unchanged'
            ELSE 'changed' END AS status,
       fp_old, fp_new
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""


ORACLES["pq_distortion"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
parts AS (
  SELECT vec_id, g, list_slice(v, g * 16 + 1, (g + 1) * 16) AS sv
  FROM e CROSS JOIN range(4) t(g)
),
cparts AS (
  SELECT vec_id AS cid, g, list_slice(v, g * 16 + 1, (g + 1) * 16) AS cv
  FROM e CROSS JOIN range(4) t(g)
  WHERE vec_id < 16
),
best AS (
  SELECT p.vec_id, p.g,
         max(round(list_cosine_similarity(p.sv, c.cv), 6)) AS best
  FROM parts p JOIN cparts c ON p.g = c.g
  GROUP BY p.vec_id, p.g
)
SELECT CAST(g AS INTEGER) AS g,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(best), 4) AS mean_best_cos,
       CAST(sum(CASE WHEN best < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
FROM best
GROUP BY g
ORDER BY g
"""


ORACLES["corpus_diff_summary"] = f"""
WITH diff AS ({ORACLES["corpus_diff"]})
SELECT status, CAST(count(*) AS BIGINT) AS n_docs
FROM diff GROUP BY status ORDER BY status
"""

ORACLES["line_dedup"] = r"""
WITH lines AS (
  SELECT doc_id,
         CAST(unnest(range(0, len(l))) AS INTEGER) AS pos,
         unnest(l) AS line
  FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM documents)
),
keyed AS (
  SELECT doc_id, pos, line,
         CASE WHEN (CASE WHEN trim(line) = '' THEN 0
                    ELSE len(string_split_regex(trim(line), '\s+')) END) >= 4
              THEN md5(lower(regexp_replace(trim(line), '\s+', ' ', 'g')))
         END AS k
  FROM lines
),
ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
  FROM keyed WHERE k IS NOT NULL
),
kept AS (
  SELECT doc_id, pos, line FROM ranked WHERE rn = 1
  UNION ALL
  SELECT doc_id, pos, line FROM keyed WHERE k IS NULL
)
SELECT d.doc_id,
       CAST(len(string_split(coalesce(d.text, ''), chr(10))) AS BIGINT) AS n_lines,
       CAST(coalesce(kc.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(string_split(coalesce(d.text, ''), chr(10)))
            - coalesce(kc.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(kc.text_clean, '') AS text_clean
FROM documents d
LEFT JOIN (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
) kc USING (doc_id)
"""

# the Gopher flags derive from the SAME threshold table the Spark
# operators use (text.GOPHER_RULE_SQL — the fragments parse identically
# in both engines), so the three encodings can never drift
_FUNNEL_SQL_FLAGS = tuple(
    (rule, f"CASE WHEN {sql} THEN 1 ELSE 0 END")
    for rule, sql in _text_ops.GOPHER_RULE_SQL
) + (("c4_page", "c4.page_pass"),)


def _funnel_oracle() -> str:
    n = len(_FUNNEL_SQL_FLAGS)
    flags = ",\n         ".join(
        f"{expr} AS f{i}" for i, (_, expr) in enumerate(_FUNNEL_SQL_FLAGS, 1)
    )
    sums = []
    for i in range(1, n + 1):
        others = " * ".join(f"f{j}" for j in range(1, n + 1) if j != i)
        cum = " * ".join(f"f{j}" for j in range(1, i + 1))
        sums += [
            f"CAST(sum(1 - f{i}) AS BIGINT) AS nf{i}",
            f"CAST(sum((1 - f{i}) * {others}) AS BIGINT) AS sf{i}",
            f"CAST(sum({cum}) AS BIGINT) AS sv{i}",
        ]
    rows = "\n  UNION ALL\n  ".join(
        f"SELECT {i} AS stage, '{rule}' AS rule, nf{i} AS n_fail,"
        f" sf{i} AS n_sole_fail, sv{i} AS n_survive FROM s"
        for i, (rule, _) in enumerate(_FUNNEL_SQL_FLAGS, 1)
    )
    return f"""
WITH gq AS ({ORACLES["gopher_quality"]}),
c4 AS ({ORACLES["c4_line_stats"]}),
f AS (
  SELECT {flags}
  FROM gq JOIN c4 USING (doc_id)
),
s AS (SELECT {", ".join(sums)} FROM f)
{rows}
"""


ORACLES["quality_funnel"] = _funnel_oracle()


def _gate_agreement_oracle() -> str:
    """Pairwise Cohen's kappa between the four quality gates
    (operators/text.py:gate_agreement): contingency sums per source,
    kappa in closed integer-milli form — DuckDB `//` truncates toward
    zero like Spark `div`, including on negative numerators."""
    gates = ("gopher", "c4_page", "heuristic", "english")
    pairs = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    pair_sums = ",\n         ".join(
        f"CAST(sum(g{i} * g{j}) AS BIGINT) AS b{i}{j}" for i, j in pairs
    )
    rows = "\n  UNION ALL\n  ".join(
        f"SELECT source, n, '{gates[i - 1]}' AS gate_a, '{gates[j - 1]}' AS gate_b,"
        f" a{i} AS na, a{j} AS nb, b{i}{j} AS n_both FROM s"
        for i, j in pairs
    )
    return f"""
WITH {_DOC_EXPRS},
{_QUALITY_SQL},
gq AS ({ORACLES["gopher_quality"]}),
c4 AS ({ORACLES["c4_line_stats"]}),
f AS (
  SELECT d.doc_id,
         coalesce(d.source, 'unknown') AS source,
         gq.passes AS g1,
         c4.page_pass AS g2,
         CASE WHEN q.quality >= 0.05 THEN 1 ELSE 0 END AS g3,
         CASE WHEN coalesce(d.lang, '') = 'en' THEN 1 ELSE 0 END AS g4
  FROM documents d
  JOIN gq ON gq.doc_id = d.doc_id
  JOIN c4 ON c4.doc_id = d.doc_id
  JOIN q ON q.doc_id = d.doc_id
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(g1) AS BIGINT) AS a1, CAST(sum(g2) AS BIGINT) AS a2,
         CAST(sum(g3) AS BIGINT) AS a3, CAST(sum(g4) AS BIGINT) AS a4,
         {pair_sums}
  FROM f GROUP BY source
),
p AS (
  {rows}
),
e AS (
  SELECT source, gate_a, gate_b, n AS n_docs, n_both,
         n - na - nb + n_both AS n_neither,
         na * nb + (n - na) * (n - nb) AS pe_num
  FROM p
)
SELECT source, gate_a, gate_b, n_docs, n_both, n_neither,
       CAST(1000 * (n_both + n_neither) // n_docs AS BIGINT) AS agree_milli,
       CAST(CASE WHEN n_docs * n_docs = pe_num THEN NULL ELSE
            (1000 * (n_docs * (n_both + n_neither) - pe_num))
            // (n_docs * n_docs - pe_num) END AS BIGINT) AS kappa_milli
FROM e
ORDER BY source, gate_a, gate_b
"""

ORACLES["split_leakage_audit"] = f"""
WITH clusters AS ({ORACLES["dedup_clusters"]}),
assigned AS (
  SELECT d.doc_id,
         coalesce(c.cluster_id, d.doc_id) AS group_id,
         CASE WHEN ('0x' || substring(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substring(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
              ELSE 'test' END AS split_naive
  FROM documents d LEFT JOIN clusters c USING (doc_id)
),
by_group AS (
  SELECT group_id, min(split) AS split,
         count(DISTINCT split_naive) AS n_naive_splits
  FROM assigned GROUP BY 1
),
grouped AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups
  FROM assigned GROUP BY 1
),
naive AS (
  SELECT split_naive AS split, CAST(count(*) AS BIGINT) AS n_docs_naive
  FROM assigned GROUP BY 1
),
leaky AS (
  SELECT split, CAST(sum(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaky_groups
  FROM by_group GROUP BY 1
)
SELECT g.split, g.n_docs, g.n_groups,
       coalesce(n.n_docs_naive, 0) AS n_docs_naive,
       coalesce(l.n_leaky_groups, 0) AS n_leaky_groups
FROM grouped g
LEFT JOIN naive n USING (split)
LEFT JOIN leaky l USING (split)
"""

_QUALITY_SQL = """
q AS (
  SELECT doc_id,
         round(least(n_tokens_raw / 100.0, 1.0)
               * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
               * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality
  FROM docx
)
"""

ORACLES["gate_agreement"] = _gate_agreement_oracle()


def _unicode_hygiene_oracle() -> str:
    """Per-class per-source census replay: same UNICODE_HYGIENE_PATTERNS
    table (\\x{...} classes parse identically in RE2), occurrence count
    = len(regexp_extract_all), milli rates with integer //."""
    per_doc = ",\n         ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS c_{name}"
        for name, pat in _text_ops.UNICODE_HYGIENE_PATTERNS
    )
    sums = []
    outs = ["source", "n_docs"]
    rates = []
    for name, _ in _text_ops.UNICODE_HYGIENE_PATTERNS:
        sums.append(
            f"CAST(sum(CASE WHEN c_{name} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS {name}_docs"
        )
        sums.append(f"CAST(sum(c_{name}) AS BIGINT) AS {name}_chars")
        outs += [f"{name}_docs", f"{name}_chars"]
        rates.append(
            f"CAST(1000 * {name}_docs // n_docs AS BIGINT) AS {name}_docs_milli"
        )
    return f"""
WITH scored AS (
  SELECT coalesce(source, 'unknown') AS source,
         {per_doc}
  FROM (SELECT source, coalesce(text, '') AS t FROM documents)
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         {", ".join(sums)}
  FROM scored GROUP BY source
)
SELECT {", ".join(outs)}, {", ".join(rates)}
FROM agg ORDER BY source
"""


ORACLES["unicode_hygiene"] = _unicode_hygiene_oracle()


def _unicode_clean_oracle() -> str:
    """Replay of operators/text.unicode_clean: same strip patterns
    (\\x{...} classes parse identically in RE2), FFFD line membership
    via contains(chr(65533)), milli doc-drop rule with integer //.
    DuckDB length() is CHARS (strlen is bytes) — matching Spark."""
    fmt = _text_ops.UNICODE_STRIP_FORMAT
    ctl = _text_ops.UNICODE_STRIP_CONTROL
    return f"""
WITH s AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         regexp_replace(regexp_replace(coalesce(text, ''), '{fmt}', '', 'g'),
                        '{ctl}', '', 'g') AS stripped
  FROM documents
),
l AS (
  SELECT doc_id,
         length(t) - length(stripped) AS n_removed,
         string_split(stripped, chr(10)) AS lines,
         list_filter(string_split(stripped, chr(10)),
                     x -> NOT contains(x, chr(65533))) AS kept
  FROM s
)
SELECT doc_id,
       CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_dropped,
       CAST(n_removed AS BIGINT) AS n_chars_removed,
       array_to_string(kept, chr(10)) AS text_clean
FROM l
WHERE 1000 * (len(lines) - len(kept)) // len(lines) <= 500
  AND trim(array_to_string(kept, chr(10))) <> ''
"""


ORACLES["unicode_clean"] = _unicode_clean_oracle()

ORACLES["dsir_weights"] = f"""
WITH {_DOC_EXPRS},
{_QUALITY_SQL},
m AS (SELECT round(avg(quality), 6) AS mq FROM q),
flags AS (
  SELECT doc_id, CASE WHEN quality >= (SELECT mq FROM m) THEN 1 ELSE 0 END AS is_t
  FROM q
),
toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
),
feats AS (
  SELECT doc_id,
         ('0x' || substring(md5(bigram), 1, 8))::BIGINT % 1024 AS bucket
  FROM bg
),
cnt AS (SELECT doc_id, bucket, count(*) AS c FROM feats GROUP BY 1, 2),
withflag AS (SELECT cnt.*, f.is_t FROM cnt JOIN flags f USING (doc_id)),
btab AS (
  SELECT bucket,
         sum(CASE WHEN is_t = 1 THEN c ELSE 0 END) AS ct,
         sum(c) AS cr
  FROM withflag GROUP BY 1
),
tot AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM btab),
lr AS (
  SELECT bucket,
         CAST(round(round(ln((ct + 1.0) / (t_tot + 1024))
               - ln((cr + 1.0) / (r_tot + 1024)), 6) * 1e6) AS BIGINT) AS lw_micro
  FROM btab, tot
)
SELECT w.doc_id, CAST(sum(w.c) AS BIGINT) AS n_feats,
       CAST(sum(w.c * lr.lw_micro) AS BIGINT) AS log_weight_micro
FROM withflag w JOIN lr USING (bucket)
GROUP BY 1
"""

ORACLES["source_caps"] = f"""
WITH {_DOC_EXPRS},
{_QUALITY_SQL},
scored AS (
  SELECT q.doc_id, d.source, q.quality
  FROM q JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, source, quality,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id ASC) AS INTEGER)
           AS q_rank
  FROM scored
)
SELECT doc_id, source, quality, q_rank FROM ranked WHERE q_rank <= 50
"""

ORACLES["packing_efficiency"] = f"""
WITH packed AS ({ORACLES["pack_documents"]}),
bins AS (
  SELECT shard, bin_id, CAST(sum(n_tokens) AS BIGINT) AS fill
  FROM packed GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       round(avg(least(fill, 2048) / 2048.0), 4) AS avg_fill_frac,
       round(avg(CASE WHEN fill > 2048 THEN 1.0 ELSE 0.0 END), 4) AS overflow_bin_frac,
       round(1.0 - sum(least(fill, 2048)) / (count(*) * 2048.0), 4) AS waste_frac
FROM bins
"""

ORACLES["bigram_lm_scores"] = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks
),
unis AS (
  SELECT unnest(t) AS term FROM toks
),
uni AS (SELECT term, count(*) AS c1 FROM unis GROUP BY 1),
vocab AS (SELECT count(*) AS v FROM uni),
bgc AS (SELECT bg, count(*) AS c2 FROM pairs GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         CAST(round(round(-log2((bgc.c2 + 1.0) / (uni.c1 + vocab.v)), 6) * 1e6)
              AS BIGINT) AS nll_micro
  FROM pairs p
  JOIN bgc USING (bg)
  JOIN uni ON p.w1 = uni.term
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nll_micro) AS BIGINT) AS total_nll_micro,
       CAST(CAST(sum(nll_micro) AS BIGINT) // count(*) AS BIGINT) AS avg_nll_micro
FROM scored
GROUP BY 1
"""

ORACLES["ccnet_buckets"] = f"""
WITH scores AS (
  SELECT doc_id, avg_neg_log2p
  FROM ({ORACLES["unigram_scores"]})
),
hist AS (SELECT avg_neg_log2p, count(*) AS c FROM scores GROUP BY 1),
cum AS (
  SELECT avg_neg_log2p,
         sum(c) OVER (ORDER BY avg_neg_log2p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
total AS (SELECT sum(c) AS n FROM hist),
cuts AS (
  SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN avg_neg_log2p END) AS t1,
         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN avg_neg_log2p END) AS t2
  FROM cum, total
)
SELECT s.doc_id, s.avg_neg_log2p,
       CASE WHEN s.avg_neg_log2p <= cuts.t1 THEN 'head'
            WHEN s.avg_neg_log2p <= cuts.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores s, cuts
"""

ORACLES["oov_rate"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
top AS (
  SELECT term FROM (
    SELECT term, count(*) AS tc FROM toks GROUP BY 1
    ORDER BY tc DESC, term ASC LIMIT 1000
  )
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN top.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN top.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS oov_rate
FROM toks t LEFT JOIN top ON t.term = top.term
GROUP BY 1
"""

ORACLES["c4_clean"] = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         list_filter(string_split(coalesce(text, ''), chr(10)), l ->
              (CASE WHEN trim(l) = '' THEN 0
                    ELSE len(string_split_regex(trim(l), '\\s+')) END) >= 5) AS kept
  FROM documents
)
SELECT doc_id,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       array_to_string(kept, chr(10)) AS text_clean
FROM base
WHERE position('lorem ipsum' IN lower(t)) = 0
  AND position('{' IN t) = 0
  AND len(kept) >= 1
"""

ORACLES["decontaminated_corpus"] = f"""
WITH {_SHINGLES},
cont AS (
  SELECT a.doc_id, b.doc_id AS eval_doc, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.sh = b.sh
  WHERE a.doc_id >= 10 AND b.doc_id < 10
  GROUP BY 1, 2
),
drops AS (SELECT DISTINCT doc_id FROM cont WHERE n_shared >= 2)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id >= 10
  AND d.doc_id NOT IN (SELECT doc_id FROM drops)
"""

ORACLES["dedup_threshold_curve"] = f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
         round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
swept AS (
  SELECT p.doc_a, p.doc_b, p.jaccard, t.threshold
  FROM pairs p,
       (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
          AS threshold) t
  WHERE p.jaccard >= t.threshold
),
docs AS (
  SELECT threshold, doc_a AS d FROM swept
  UNION ALL
  SELECT threshold, doc_b FROM swept
)
SELECT t.threshold,
       CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
FROM (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        AS threshold) t
LEFT JOIN (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
      FROM swept GROUP BY 1) np USING (threshold)
LEFT JOIN (SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      FROM docs GROUP BY 1) nd USING (threshold)
"""

ORACLES["corpus_funnel"] = f"""
WITH uk AS (SELECT doc_id FROM ({_URL_CANON_ORACLE}) WHERE is_keeper = 1),
c4 AS (SELECT doc_id FROM ({ORACLES["c4_clean"]})),
ld AS (SELECT doc_id, n_kept FROM ({ORACLES["line_dedup"]})),
gq AS (SELECT doc_id, passes FROM ({ORACLES["gopher_quality"]})),
keep AS (SELECT min(doc_id) AS doc_id
         FROM documents
         GROUP BY md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g'))),
cont AS (SELECT DISTINCT doc_id FROM ({ORACLES["contamination_pairs"]})
         WHERE n_shared >= 2),
flags AS (
  SELECT 1 AS f1,
         CASE WHEN uk.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f2,
         CASE WHEN c4.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f3,
         CASE WHEN ld.n_kept > 0 THEN 1 ELSE 0 END AS f4,
         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f5,
         CASE WHEN ct.doc_id IS NULL THEN 1 ELSE 0 END AS f6,
         gq.passes AS f7
  FROM documents d
  LEFT JOIN uk ON uk.doc_id = d.doc_id
  LEFT JOIN c4 ON c4.doc_id = d.doc_id
  LEFT JOIN ld ON ld.doc_id = d.doc_id
  LEFT JOIN gq ON gq.doc_id = d.doc_id
  LEFT JOIN keep k ON k.doc_id = d.doc_id
  LEFT JOIN cont ct ON ct.doc_id = d.doc_id
),
s AS (SELECT CAST(sum(f1) AS BIGINT) AS sv1,
             CAST(sum(f1 * f2) AS BIGINT) AS sv2,
             CAST(sum(f1 * f2 * f3) AS BIGINT) AS sv3,
             CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS sv4,
             CAST(sum(f1 * f2 * f3 * f4 * f5) AS BIGINT) AS sv5,
             CAST(sum(f1 * f2 * f3 * f4 * f5 * f6) AS BIGINT) AS sv6,
             CAST(sum(f1 * f2 * f3 * f4 * f5 * f6 * f7) AS BIGINT) AS sv7
      FROM flags)
SELECT stage, rule, n_surviving FROM (
  SELECT 1 AS stage, 'raw' AS rule, sv1 AS n_surviving FROM s
  UNION ALL SELECT 2, 'url_canonical', sv2 FROM s
  UNION ALL SELECT 3, 'c4_page', sv3 FROM s
  UNION ALL SELECT 4, 'unique_lines', sv4 FROM s
  UNION ALL SELECT 5, 'exact_keeper', sv5 FROM s
  UNION ALL SELECT 6, 'decontaminated', sv6 FROM s
  UNION ALL SELECT 7, 'gopher', sv7 FROM s
)
"""

ORACLES["skew_report"] = """
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) AS key_value, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
totals AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
),
heavy AS (
  SELECT key_value, n_rows FROM counts
  ORDER BY n_rows DESC, key_value ASC LIMIT 10
)
SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, key_value ASC) AS INTEGER)
         AS rank,
       key_value, n_rows,
       round(n_rows * 100.0 / total_rows, 4) AS share_pct,
       round(n_rows * n_keys / CAST(total_rows AS DOUBLE), 4) AS skew_factor
FROM heavy, totals
"""

ORACLES["cluster_balance_audit"] = f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
counts AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n) AS BIGINT) AS n_vecs,
       CAST(min(n) AS BIGINT) AS min_bucket,
       CAST(max(n) AS BIGINT) AS max_bucket,
       round(avg(n), 4) AS avg_bucket,
       round(max(n) / avg(n), 4) AS balance_factor
FROM counts
"""

ORACLES["join_size_estimate"] = """
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS hv
  FROM orders WHERE o_custkey IS NOT NULL
),
hb AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT AS hv
  FROM customer WHERE c_custkey IS NOT NULL
),
ska AS (SELECT CAST(count(*) AS BIGINT) AS n_seen, max(hv) AS kth
        FROM (SELECT hv FROM ha ORDER BY hv LIMIT 64)),
skb AS (SELECT CAST(count(*) AS BIGINT) AS n_seen, max(hv) AS kth
        FROM (SELECT hv FROM hb ORDER BY hv LIMIT 64)),
usk AS (SELECT hv FROM (SELECT hv FROM ha UNION SELECT hv FROM hb)
        ORDER BY hv LIMIT 64),
sku AS (SELECT CAST(count(*) AS BIGINT) AS n_seen_u, max(hv) AS kth_u FROM usk),
bth AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM usk
         WHERE hv IN (SELECT hv FROM ha) AND hv IN (SELECT hv FROM hb)),
exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_intersection
          FROM ha WHERE hv IN (SELECT hv FROM hb)),
est AS (
  SELECT
    CASE WHEN ska.n_seen < 64 THEN ska.n_seen
         ELSE CAST(round(17732923532771328.0 / ska.kth, 0) AS BIGINT) END AS est_left,
    CASE WHEN skb.n_seen < 64 THEN skb.n_seen
         ELSE CAST(round(17732923532771328.0 / skb.kth, 0) AS BIGINT) END AS est_right,
    CASE WHEN sku.n_seen_u < 64 THEN sku.n_seen_u
         ELSE CAST(round(17732923532771328.0 / sku.kth_u, 0) AS BIGINT) END AS est_union,
    sku.n_seen_u, bth.n_both, exact.n_exact_intersection
  FROM ska CROSS JOIN skb CROSS JOIN sku CROSS JOIN bth CROSS JOIN exact
)
SELECT CAST(64 AS INTEGER) AS k, est_left, est_right, est_union,
       CAST((2 * n_both * est_union + greatest(n_seen_u, 1))
            // (2 * greatest(n_seen_u, 1)) AS BIGINT) AS est_intersection,
       n_exact_intersection,
       round(abs(CAST((2 * n_both * est_union + greatest(n_seen_u, 1))
                      // (2 * greatest(n_seen_u, 1)) AS BIGINT)
                 - n_exact_intersection)
             / greatest(n_exact_intersection, 1), 4) AS rel_err
FROM est
"""

ORACLES["branded_quantity_revenue"] = """
WITH j AS (
  SELECT p.p_brand, p.p_size, l.l_quantity, l.l_extendedprice, l.l_discount
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
tagged AS (
  SELECT CASE
    WHEN p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 1 AND 15 THEN 1
    WHEN p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         AND l_quantity BETWEEN 10 AND 30 THEN 2
    WHEN p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
         AND l_quantity BETWEEN 20 AND 45 THEN 3
  END AS branch, l_extendedprice, l_discount
  FROM j
)
SELECT branch, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM tagged WHERE branch IS NOT NULL
GROUP BY 1
"""

ORACLES["returned_item_ranking"] = """
WITH rev AS (
  SELECT o.o_custkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY 1
)
SELECT c.c_custkey, c.c_name, c.c_mktsegment, rev.revenue
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""

ORACLES["cross_modal_prune"] = f"""
WITH sem AS (
  SELECT vec_id, keep FROM ({ORACLES["semantic_prune_capped"]})
),
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g'))
),
flags AS (
  SELECT d.source,
         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS tk,
         coalesce(s.keep, 0) AS sk
  FROM documents d
  LEFT JOIN keepers k ON k.doc_id = d.doc_id
  LEFT JOIN sem s ON s.vec_id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(1 - tk) AS BIGINT) AS n_text_dropped,
       CAST(sum(1 - sk) AS BIGINT) AS n_sem_dropped,
       CAST(sum(tk * sk) AS BIGINT) AS n_kept
FROM flags GROUP BY 1
"""

ORACLES["local_supplier_volume"] = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""

ORACLES["ccnet_mixture"] = f"""
WITH b AS (
  SELECT doc_id, bucket FROM ({ORACLES["ccnet_buckets"]})
),
tagged AS (
  SELECT bucket,
         CASE bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5
                     ELSE 0.1 END AS rate,
         CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                   / 65536.0
                   < CASE bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5
                                 ELSE 0.1 END
              THEN 1 ELSE 0 END AS sampled
  FROM b
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(sampled) AS BIGINT) AS n_sampled,
       CAST(min(rate) AS DOUBLE) AS rate
FROM tagged GROUP BY 1
"""

ORACLES["min_cost_supplier"] = """
WITH nat AS (
  SELECT n_nationkey, n_name FROM nation
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
),
supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nat ON s_nationkey = n_nationkey
),
pts AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_type = 'SMALL' AND p_size BETWEEN 1 AND 25
),
costs AS (
  SELECT p.p_partkey, p.p_brand, l.l_suppkey, min(l.l_extendedprice) AS cost
  FROM lineitem l
  JOIN pts p ON l.l_partkey = p.p_partkey
  JOIN supp s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2, 3
),
best AS (
  SELECT p_partkey, p_brand, cost AS min_cost, l_suppkey AS s_suppkey,
         row_number() OVER (PARTITION BY p_partkey ORDER BY cost, l_suppkey) AS rk
  FROM costs
)
SELECT s.s_acctbal, s.s_name, s.n_name, b.p_partkey, b.p_brand, b.min_cost
FROM best b JOIN supp s USING (s_suppkey)
WHERE b.rk = 1
ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, b.p_partkey
LIMIT 100
"""

ORACLES["important_part_stock"] = """
WITH supp AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
),
per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(round(l_quantity * l_extendedprice, 2) * 100, 0)
                       AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem JOIN supp ON l_suppkey = s_suppkey
  GROUP BY 1
),
total AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM per_part)
SELECT l_partkey, value_cents
FROM per_part, total
WHERE 10000 * value_cents > 15 * total_cents
ORDER BY value_cents DESC, l_partkey
"""

ORACLES["supplier_count_by_part"] = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
pts AS (
  SELECT p_partkey, p_brand, p_type, p_size FROM part
  WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs JOIN pts ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

ORACLES["excess_shipped_suppliers"] = """
WITH pts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
shipped AS (
  -- per-row round+cast matches Spark's round(q,0).cast(long): a float
  -- SUM cast would truncate in Spark but round in DuckDB
  SELECT l_suppkey, l_partkey,
         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                        AND l_shipdate < TIMESTAMP '1997-01-01'
                       THEN CAST(round(l_quantity, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS qty_band,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty_total
  FROM lineitem JOIN pts ON l_partkey = p_partkey
  GROUP BY 1, 2
),
hits AS (SELECT DISTINCT l_suppkey FROM shipped WHERE 2 * qty_band > qty_total)
SELECT s.s_name, n.n_name
FROM hits h
JOIN supplier s ON h.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY s.s_name
"""


ORACLES["containment_dup_pairs"] = f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / least(sa.sz, sb.sz), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter * 1.0 / least(sa.sz, sb.sz), 4) >= 0.8
"""

ORACLES["token_budget_caps"] = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))
              AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CASE WHEN sum(n_tokens) OVER (
                PARTITION BY source ORDER BY n_tokens DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 800
            THEN 1 ELSE 0 END AS kept
FROM toks
"""


ORACLES["simhash_pairs_capped"] = f"""
WITH {_SIMHASH},
chunks AS (
  SELECT doc_id, simhash, c.i AS chunk, substring(simhash, c.i * 4 + 1, 4) AS val
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS i) c
),
capped AS (
  SELECT doc_id, simhash, chunk, val FROM (
    SELECT doc_id, simhash, chunk, val,
           row_number() OVER (PARTITION BY chunk, val ORDER BY doc_id) AS rk
    FROM chunks
  ) WHERE rk <= 256
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM capped a
  JOIN capped b ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
),
ham AS (
  SELECT doc_a, doc_b,
         {_SIMHASH_HAMMING} AS hamming
  FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 8
"""


_WINNOW = """
wtoks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) < 4 THEN CAST([] AS BIGINT[])
              ELSE list_transform(range(1, len(t) - 4 + 2),
                   i -> ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' ||
                                            t[i+2] || ' ' || t[i+3]), 1, 12))::BIGINT)
         END AS H
  FROM wtoks
),
sel AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(H) - 5 + 1, 1) + 1),
           j -> {'pos': j + least(5, len(H) - j + 1)
                      - list_position(list_reverse(list_slice(H, j, j + 4)),
                                      list_min(list_slice(H, j, j + 4))),
                 'fp': list_min(list_slice(H, j, j + 4))})) AS s
  FROM grams WHERE len(H) > 0
),
-- per-window selections repeat across overlapping windows; DuckDB 1.0
-- cannot list_distinct structs, so the collapse happens after unnest
wfp AS (SELECT DISTINCT doc_id, CAST(s.pos AS INTEGER) AS pos, s.fp AS fp FROM sel)
"""

ORACLES["winnowing_fingerprints"] = f"""
WITH {_WINNOW}
SELECT doc_id, pos, fp FROM wfp
"""

ORACLES["winnowing_overlap_pairs"] = f"""
WITH {_WINNOW},
idx AS (
  SELECT DISTINCT doc_id, fp FROM wfp
  WHERE fp IN (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df
                               FROM wfp GROUP BY 1) WHERE df <= 32)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


ORACLES["substring_dedup"] = """
WITH stoks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(t) - 50 + 1, 0) + 1)) AS pos,
         unnest(list_transform(range(1, greatest(len(t) - 50 + 1, 0) + 1),
                i -> md5(list_aggregate(list_slice(t, i, i + 49),
                                        'string_agg', ' ')))) AS h
  FROM stoks
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM grams
),
marked AS (SELECT doc_id, pos FROM ranked WHERE rk > 1),
tok AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS tokn
  FROM stoks WHERE len(t) > 0
),
events AS (
  SELECT doc_id, pos, tokn, 0 AS typ FROM tok
  UNION ALL
  SELECT doc_id, pos, NULL, 1 FROM marked
),
scanned AS (
  SELECT doc_id, pos, tokn, typ,
         max(CASE WHEN typ = 1 THEN pos END) OVER (
           PARTITION BY doc_id ORDER BY pos, typ DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_s
  FROM events
),
kept AS (
  SELECT doc_id, pos, tokn,
         (last_s IS NULL OR last_s + 49 < pos) AS keep
  FROM scanned WHERE typ = 0
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         coalesce(string_agg(CASE WHEN keep THEN tokn END, ' ' ORDER BY pos),
                  '') AS text_clean
  FROM kept GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped,
       coalesce(a.text_clean, '') AS text_clean
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _ivfpq_batch_oracle(
    n_queries: int = 4,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dims: int = 64,
    rerank: int = 64,
) -> str:
    """Batched IVF-PQ serving oracle — `_ivfpq_oracle` generalized over
    a query batch (the n_queries lowest vec_ids): per-query probes,
    per-query LUT, per-query shortlist + exact re-rank. The Spark side
    serves the batch from the written index in one pruned read; values
    agree because the index materializes the same assign_centroids /
    pq_codes the SQL rebuilds."""
    sub_len = dims // m
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {n_centroids}),
ascore AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
         ) AS rn
  FROM e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, centroid_id FROM ascore WHERE rn = 1),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
pscore AS (
  SELECT q.query_id, c.centroid_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC, c.centroid_id ASC
         ) AS rn
  FROM cents c CROSS JOIN qs q
),
probes AS (SELECT query_id, centroid_id FROM pscore WHERE rn <= {n_probe}),
parts AS (
  SELECT vec_id, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS sv
  FROM e CROSS JOIN range({m}) t(g)
),
cparts AS (
  SELECT vec_id AS cid, g, list_slice(v, g * {sub_len} + 1, (g + 1) * {sub_len}) AS cv
  FROM e CROSS JOIN range({m}) t(g)
  WHERE vec_id < {ks}
),
pqscore AS (
  SELECT p.vec_id, p.g, c.cid,
         row_number() OVER (
           PARTITION BY p.vec_id, p.g
           ORDER BY round(list_cosine_similarity(p.sv, c.cv), 6) DESC, c.cid ASC
         ) AS rn
  FROM parts p JOIN cparts c ON p.g = c.g
),
codes AS (SELECT vec_id, g, cid FROM pqscore WHERE rn = 1),
lut AS (
  SELECT q.query_id, c.g, c.cid,
         round(list_cosine_similarity(
           c.cv, list_slice(q.qv, c.g * {sub_len} + 1, (c.g + 1) * {sub_len})), 6) AS l
  FROM cparts c CROSS JOIN qs q
),
cand AS (
  SELECT p.query_id, a.vec_id FROM assigned a JOIN probes p USING (centroid_id)
),
approx AS (
  SELECT cand.query_id, codes.vec_id, round(sum(l), 6) AS approx_sim
  FROM codes
  JOIN cand ON cand.vec_id = codes.vec_id
  JOIN lut ON lut.query_id = cand.query_id AND lut.g = codes.g AND lut.cid = codes.cid
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, vec_id, approx_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_sim DESC, vec_id ASC) AS srn
  FROM approx
),
rr AS (
  SELECT s.query_id, s.vec_id, s.approx_sim,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM shortlist s
  JOIN e ON e.vec_id = s.vec_id
  JOIN qs q ON q.query_id = s.query_id
  WHERE s.srn <= {rerank}
),
fin AS (
  SELECT query_id, vec_id, approx_sim, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM rr
)
SELECT query_id, vec_id, approx_sim, cos_sim, CAST(rank AS INTEGER) AS rank
FROM fin WHERE rank <= {k}
"""


ORACLES["ivfpq_knn_index_batch"] = _ivfpq_batch_oracle()


ORACLES["knn_batch"] = f"""
WITH {_VECS},
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
scored AS (
  SELECT qs.query_id, e.vec_id,
         round(list_cosine_similarity(e.v, qs.qv), 6) AS cos_sim
  FROM e CROSS JOIN qs
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


ORACLES["gopher_repetition"] = """
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
                                    x -> trim(x)), x -> x <> '') AS l,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
per_doc AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS n_lines,
         CAST(len(list_distinct(l)) AS BIGINT) AS n_dist,
         CAST(coalesce(list_sum(list_transform(l, x -> length(x))), 0) AS BIGINT) AS lchars,
         CAST(coalesce(list_sum(list_transform(list_distinct(l), x -> length(x))), 0) AS BIGINT) AS dchars,
         CAST(length(array_to_string(t, ' ')) AS BIGINT) AS tchars
  FROM base
),
grams AS (
  SELECT doc_id, ns.n AS n,
         unnest(list_transform(range(1, greatest(len(t) - ns.n + 1, 0) + 1),
                i -> array_to_string(t[i:i+ns.n-1], ' '))) AS gram
  FROM base CROSS JOIN (VALUES (2), (3), (4)) ns(n)
),
cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
top AS (
  SELECT doc_id, n, CAST(c * length(gram) AS BIGINT) AS top_chars,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn
  FROM cnt
),
topw AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN top_chars END) AS t2,
         max(CASE WHEN n = 3 THEN top_chars END) AS t3,
         max(CASE WHEN n = 4 THEN top_chars END) AS t4
  FROM top WHERE rn = 1 GROUP BY 1
),
scored AS (
  SELECT p.doc_id, p.n_lines,
         CASE WHEN n_lines > 0 THEN round((n_lines - n_dist) * 1.0 / n_lines, 4) ELSE 0.0 END AS dup_line_frac,
         CASE WHEN lchars > 0 THEN round((lchars - dchars) * 1.0 / lchars, 4) ELSE 0.0 END AS dup_line_char_frac,
         CASE WHEN tchars > 0 AND t2 IS NOT NULL THEN round(t2 * 1.0 / tchars, 4) ELSE 0.0 END AS top2_char_frac,
         CASE WHEN tchars > 0 AND t3 IS NOT NULL THEN round(t3 * 1.0 / tchars, 4) ELSE 0.0 END AS top3_char_frac,
         CASE WHEN tchars > 0 AND t4 IS NOT NULL THEN round(t4 * 1.0 / tchars, 4) ELSE 0.0 END AS top4_char_frac
  FROM per_doc p LEFT JOIN topw USING (doc_id)
)
SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
       top2_char_frac, top3_char_frac, top4_char_frac,
       CAST((dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
             AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
             AND top4_char_frac <= 0.16) AS INTEGER) AS passes
FROM scored
"""


def _pii_oracle() -> str:
    from data_pipeline_example_spark.operators.text import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    return f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(coalesce(text, ''), '{pats["email"]}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(coalesce(text, ''), '{pats["phone"]}')) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(coalesce(text, ''), '{pats["ipv4"]}')) AS BIGINT) AS n_ipv4
  FROM documents
)
SELECT doc_id, n_emails, n_phones, n_ipv4,
       n_emails + n_phones + n_ipv4 AS n_pii,
       CAST(n_emails + n_phones + n_ipv4 > 0 AS INTEGER) AS has_pii
FROM c
"""


ORACLES["pii_scan"] = _pii_oracle()


ORACLES["source_temperature_weights"] = """
WITH cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs,
         CAST(round(round(sqrt(n_docs), 6) * 1e6, 0) AS BIGINT) AS weight_micro
  FROM cnt
),
tot AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS wt FROM w)
SELECT source, n_docs, weight_micro,
       round(weight_micro * 1.0 / wt, 4) AS sample_rate
FROM w CROSS JOIN tot
ORDER BY source
"""


def _bm25_oracle(
    query: tuple[str, ...] = ("spark", "window", "hash"),
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 20,
) -> str:
    terms = ", ".join(f"'{t}'" for t in query)
    return f"""
WITH toksb AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS sum_dl
  FROM toksb
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toksb)
  WHERE term IN ({terms})
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
         , 6) * 1e6 AS BIGINT) AS s_micro
  FROM tf JOIN dfs USING (term) CROSS JOIN stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(s_micro) AS BIGINT) AS bm25_micro
FROM scored GROUP BY 1
ORDER BY bm25_micro DESC, doc_id ASC
LIMIT {n}
"""


ORACLES["bm25_search"] = _bm25_oracle()


def _bm25_batch_oracle(
    queries: tuple[tuple[int, tuple[str, ...]], ...] = (
        (0, ("spark", "window", "hash")),
        (1, ("data", "join", "merge")),
        (2, ("customer", "stream", "vector", "scan")),
    ),
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 20,
) -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in queries for t in sorted(set(ts))
    )
    return f"""
WITH toksb AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS sum_dl
  FROM toksb
),
qterms AS (SELECT CAST(q AS BIGINT) AS query_id, term FROM (VALUES {vals}) v(q, term)),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toksb)
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(round(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
         , 6) * 1e6 AS BIGINT) AS s_micro
  FROM tf JOIN dfs USING (term) JOIN qterms q USING (term) CROSS JOIN stats
),
agg AS (
  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(s_micro) AS BIGINT) AS bm25_micro
  FROM scored GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms, bm25_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25_micro DESC, doc_id ASC) AS INTEGER) AS rank
FROM agg
QUALIFY rank <= {n}
"""


ORACLES["bm25_batch"] = _bm25_batch_oracle()


ORACLES["cluster_representatives"] = f"""
WITH RECURSIVE {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
),
clusters AS (SELECT doc_id, min(label) AS cluster_id FROM cc GROUP BY 1),
{_DOC_EXPRS.strip().lstrip()},
qual AS (
  SELECT doc_id,
         round(least(n_tokens_raw / 100.0, 1.0)
               * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
               * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality
  FROM docx
),
members AS (
  SELECT doc_id, cluster_id FROM clusters
  UNION ALL
  SELECT d.doc_id, d.doc_id AS cluster_id
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters)
),
ranked AS (
  SELECT m.cluster_id, m.doc_id, q.quality,
         row_number() OVER (PARTITION BY m.cluster_id
                            ORDER BY q.quality DESC, m.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY m.cluster_id) AS n_members
  FROM members m JOIN qual q USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members, quality AS rep_quality
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


ORACLES["lang_source_mix"] = """
WITH cell AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))), 0) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS td,
         CAST(sum(n_tokens) AS BIGINT) AS tt
  FROM cell
)
SELECT lang, source, n_docs, n_tokens,
       round(n_docs * 1.0 / td, 4) AS doc_share,
       round(n_tokens * 1.0 / tt, 4) AS token_share
FROM cell CROSS JOIN tot
ORDER BY lang, source
"""


ORACLES["token_fertility"] = """
WITH g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))), 0) AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(length(coalesce(text, ''))), 0) AS BIGINT) AS n_chars,
         CAST(coalesce(sum(strlen(coalesce(text, ''))), 0) AS BIGINT) AS n_bytes
  FROM documents GROUP BY 1
)
SELECT source, n_docs, n_tokens, n_chars, n_bytes,
       round(n_chars * 1.0 / greatest(n_tokens, 1), 4) AS chars_per_token,
       round(n_bytes * 1.0 / greatest(n_tokens, 1), 4) AS bytes_per_token,
       round(n_tokens * 1.0 / greatest(n_docs, 1), 4) AS tokens_per_doc
FROM g
ORDER BY source
"""


ORACLES["knn_density_outliers"] = f"""
WITH {_VECS},
{_CAPPED_SUBBED},
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
  FROM subbed a
  JOIN subbed b ON a.centroid_id = b.centroid_id AND a.sub_id = b.sub_id
               AND a.vec_id != b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
),
ranked AS (
  SELECT vec_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rn
  FROM scored
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_nbrs,
       CAST(sum(CAST(round(cos_sim * 1e6, 0) AS BIGINT)) AS BIGINT) AS knn_sum_micro,
       round(sum(CAST(round(cos_sim * 1e6, 0) AS BIGINT)) * 1.0
             / (count(*) * 1e6), 4) AS density
FROM ranked WHERE rn <= 5
GROUP BY 1
"""


ORACLES["cluster_representatives_lsh"] = f"""
WITH RECURSIVE {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
),
clusters AS (SELECT doc_id, min(label) AS cluster_id FROM cc GROUP BY 1),
{_DOC_EXPRS.strip().lstrip()},
qual AS (
  SELECT doc_id,
         round(least(n_tokens_raw / 100.0, 1.0)
               * (1.0 - n_punct_raw * 1.0 / greatest(n_chars_raw, 1))
               * (0.5 + 0.5 * (c_en * 1.0 / greatest(n_tokens_raw, 1))), 4) AS quality
  FROM docx
),
members AS (
  SELECT doc_id, cluster_id FROM clusters
  UNION ALL
  SELECT d.doc_id, d.doc_id AS cluster_id
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters)
),
ranked AS (
  SELECT m.cluster_id, m.doc_id, q.quality,
         row_number() OVER (PARTITION BY m.cluster_id
                            ORDER BY q.quality DESC, m.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY m.cluster_id) AS n_members
  FROM members m JOIN qual q USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members, quality AS rep_quality
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


ORACLES["segment_value_percentiles"] = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
       percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY 1
"""


ORACLES["daily_revenue_ma7"] = f"""
WITH {_RETAIL},
cents AS (
  SELECT order_date,
         CAST(sum(CAST(round(round(amount, 2) * 100, 0) AS BIGINT)) AS BIGINT) AS c
  FROM retail GROUP BY 1
),
bounds AS (SELECT min(order_date) AS lo, max(order_date) AS hi FROM cents),
spine AS (
  SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS order_date
  FROM bounds
),
z AS (
  SELECT s.order_date, coalesce(c.c, 0) AS c
  FROM spine s LEFT JOIN cents c USING (order_date)
),
w AS (
  SELECT order_date, c,
         sum(c) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS sc,
         count(*) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS cw
  FROM z
)
SELECT order_date,
       round(c / 100.0, 2) AS revenue,
       round(sc / (cw * 100.0), 2) AS ma7
FROM w ORDER BY order_date
"""


ORACLES["event_cooccurrence"] = """
WITH u AS (
  SELECT DISTINCT user_id, event_type FROM events WHERE user_id IS NOT NULL
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM u GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total FROM u)
SELECT p.type_a, p.type_b, p.n_both,
       round(p.n_both * 1.0 / (pa.n_users + pb.n_users - p.n_both), 4) AS jaccard,
       round((p.n_both * n_total) * 1.0 / (pa.n_users * pb.n_users), 4) AS lift
FROM pairs p
JOIN per pa ON pa.event_type = p.type_a
JOIN per pb ON pb.event_type = p.type_b
CROSS JOIN tot
ORDER BY type_a, type_b
"""

ORACLES["basket_affinity"] = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_orders
  FROM b a JOIN b b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
),
top AS (
  SELECT * FROM pairs WHERE pair_orders >= 2
  ORDER BY pair_orders DESC, part_a, part_b
  LIMIT 50
),
items AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY 1
),
tot AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b
)
SELECT t.part_a, t.part_b, t.pair_orders,
       ia.n_item AS a_orders, ib.n_item AS b_orders,
       round((t.pair_orders * n_orders) * 1.0 / (ia.n_item * ib.n_item), 4)
         AS lift
FROM top t
JOIN items ia ON ia.l_partkey = t.part_a
JOIN items ib ON ib.l_partkey = t.part_b
CROSS JOIN tot
ORDER BY pair_orders DESC, part_a, part_b
"""

ORACLES["customer_rfm"] = """
WITH rfm AS (
  SELECT o_custkey,
         CAST(datediff('day', max(o_orderdate),
              (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS r_v,
         CAST(count(*) AS BIGINT) AS f_v,
         CAST(sum(CAST(round(round(o_totalprice, 2) * 100, 0) AS BIGINT))
              AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT r_v, f_v, m_cents,
         NTILE(4) OVER (ORDER BY r_v, o_custkey) AS r_tile,
         NTILE(4) OVER (ORDER BY f_v, o_custkey) AS f_tile,
         NTILE(4) OVER (ORDER BY m_cents, o_custkey) AS m_tile
  FROM rfm
)
SELECT r_tile, f_tile, m_tile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST((2 * sum(r_v) + count(*)) // (2 * count(*)) AS BIGINT)
         AS avg_recency_days,
       CAST(sum(f_v) AS BIGINT) AS total_orders,
       CAST(sum(m_cents) AS BIGINT) AS total_spend_cents
FROM tiled
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

ORACLES["order_gap_percentiles"] = """
WITH g AS (
  SELECT CAST(datediff('day',
           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS BIGINT) AS gap
  FROM orders
  QUALIFY lag(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
          IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_gaps,
       CAST((2 * sum(gap) + count(*)) // (2 * count(*)) AS BIGINT)
         AS avg_gap_days,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS BIGINT)
         AS p50,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap) AS BIGINT)
         AS p90,
       CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY gap) AS BIGINT)
         AS p99
FROM g
HAVING count(*) > 0  -- op's documented empty-input contract: 0 rows
"""

ORACLES["source_overlap_matrix"] = f"""
WITH pairs AS ({ORACLES["minhash_lsh_pairs"]})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS dup_pairs,
       max(p.jaccard) AS max_jaccard
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
ORDER BY 1, 2
"""

ORACLES["corr_length_diversity"] = """
WITH xy AS (
  SELECT source,
         CAST(len(t) AS BIGINT) AS x,
         CAST(len(list_distinct(t)) AS BIGINT) AS y
  FROM (
    SELECT source,
           regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
    FROM documents
  )
),
m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xy GROUP BY source
)
SELECT source, n AS n_docs,
       round(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / nullif(
             sqrt(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
             * sqrt(greatest(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0)),
             0),
         4) AS corr_len_distinct
FROM m
ORDER BY source
"""

ORACLES["revenue_pareto"] = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(round(o_totalprice, 2) * 100, 0) AS BIGINT))
              AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT m_cents,
         NTILE(10) OVER (ORDER BY m_cents DESC, o_custkey) AS decile
  FROM spend
),
dec AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(m_cents) AS BIGINT) AS decile_spend_cents
  FROM tiled GROUP BY decile
)
SELECT decile, n_customers, decile_spend_cents,
       round(CAST(sum(decile_spend_cents)
                  OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) * 1.0
             / (SELECT CAST(sum(decile_spend_cents) AS BIGINT) FROM dec),
             4) AS cum_share
FROM dec
ORDER BY decile
"""

ORACLES["countmin_term_error"] = """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'))
    AS term
  FROM documents
),
tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1
),
cells AS (
  SELECT r.i AS i,
         ('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || term), 1, 8))
           ::BIGINT % 256 AS bucket,
         CAST(sum(n) AS BIGINT) AS cell
  FROM tf, range(0, 4) r(i)
  GROUP BY 1, 2
),
top AS (
  SELECT * FROM tf ORDER BY n DESC, term LIMIT 20
),
probe AS (
  SELECT t.term, t.n, r.i AS i,
         ('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || t.term), 1, 8))
           ::BIGINT % 256 AS bucket
  FROM top t, range(0, 4) r(i)
)
SELECT p.term, p.n AS exact_n,
       CAST(min(c.cell) AS BIGINT) AS cm_est,
       CAST(min(c.cell) - p.n AS BIGINT) AS overcount
FROM probe p
JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
GROUP BY 1, 2
ORDER BY exact_n DESC, term
"""

ORACLES["event_rate_mad"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS BIGINT)
           AS med_n
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n, m.med_n, abs(d.n - m.med_n) AS dv
  FROM daily d JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dv) AS BIGINT)
           AS mad_n
  FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, d.n AS n_events, d.med_n, m.mad_n
FROM dev d JOIN mad m USING (event_type)
WHERE abs(d.n - d.med_n) > 3 * m.mad_n
ORDER BY 1, 2
"""

ORACLES["orders_yoy_growth"] = """
WITH yearly AS (
  SELECT o_orderpriority,
         CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(sum(CAST(round(round(o_totalprice, 2) * 100, 0) AS BIGINT))
              AS BIGINT) AS revenue_cents
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, year, revenue_cents,
       round(
         (revenue_cents - lag(revenue_cents)
            OVER (PARTITION BY o_orderpriority ORDER BY year)) * 1.0
         / lag(revenue_cents)
            OVER (PARTITION BY o_orderpriority ORDER BY year),
         4) AS yoy_growth
FROM yearly
ORDER BY o_orderpriority, year
"""

ORACLES["customer_migration"] = """
WITH b AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(round(round(o_totalprice, 2) * 100, 0) AS BIGINT) AS cents
  FROM orders
),
bounds AS (
  SELECT lo, hi, CAST(lo + to_days(CAST((hi - lo) // 2 AS INTEGER)) AS DATE) AS mid
  FROM (SELECT min(d) AS lo, max(d) AS hi FROM b)
),
h1 AS (
  SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS m
  FROM b, bounds WHERE d < mid GROUP BY 1
),
h2 AS (
  SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS m
  FROM b, bounds WHERE d >= mid GROUP BY 1
),
t1 AS (
  SELECT o_custkey, NTILE(4) OVER (ORDER BY m, o_custkey) AS tile_h1 FROM h1
),
t2 AS (
  SELECT o_custkey, NTILE(4) OVER (ORDER BY m, o_custkey) AS tile_h2 FROM h2
)
SELECT coalesce(t1.tile_h1, 0) AS tile_h1,
       coalesce(t2.tile_h2, 0) AS tile_h2,
       CAST(count(*) AS BIGINT) AS n_customers
FROM t1 FULL OUTER JOIN t2 USING (o_custkey)
GROUP BY 1, 2
ORDER BY 1, 2
"""

ORACLES["basket_communities"] = """
WITH RECURSIVE bk AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
p AS (
  SELECT a.l_partkey AS doc_a, b2.l_partkey AS doc_b
  FROM bk a JOIN bk b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM p
  UNION ALL SELECT doc_b, doc_a FROM p
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
),
clusters AS (SELECT doc_id, min(label) AS community_id FROM cc GROUP BY 1),
sizes AS (
  SELECT community_id, CAST(count(*) AS BIGINT) AS n_parts
  FROM clusters GROUP BY 1
),
ec AS (
  SELECT c.community_id, CAST(count(*) AS BIGINT) AS n_edges
  FROM p JOIN clusters c ON c.doc_id = p.doc_a
  GROUP BY 1
)
SELECT s.community_id, s.n_parts, ec.n_edges
FROM sizes s JOIN ec USING (community_id)
ORDER BY n_parts DESC, community_id
"""

_PACK_OFFSETS = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
  FROM t
),
packed AS (
  SELECT source, doc_id, n_tokens, tok_offset,
         tok_offset // 2048 AS block_id,
         CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
              ELSE (tok_offset + n_tokens - 1) // 2048 - tok_offset // 2048 + 1
         END AS blocks_spanned,
         CASE WHEN n_tokens > 0
                   AND (tok_offset + n_tokens - 1) // 2048 > tok_offset // 2048
              THEN 1 ELSE 0 END AS splits_boundary
  FROM o
)
"""

ORACLES["sequence_pack"] = (
    _PACK_OFFSETS
    + """
SELECT source, doc_id, n_tokens, tok_offset, block_id, blocks_spanned,
       CAST(splits_boundary AS INTEGER) AS splits_boundary
FROM packed
ORDER BY source, doc_id
"""
)

# Replays the MATERIALIZED packing layout (sinks.write_packed_blocks,
# capacity 512) directly from the documents table: token-level global
# positions per source (doc_id-ordered prefix offsets + in-doc
# position), block = gpos // 512, then per-block counts and the
# boundary tokens — what the Spark side reads back from the written
# parquet shards. A match certifies the on-disk blocks at block-
# boundary granularity.
ORACLES["packed_block_audit"] = """
WITH tk0 AS (
  SELECT doc_id, source, regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+') AS t
  FROM documents
),
off AS (
  SELECT doc_id, source, t,
         CAST(coalesce(SUM(CAST(len(t) AS BIGINT)) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_off
  FROM tk0
),
tok AS (
  SELECT source, doc_id, tok_off + CAST(pos AS BIGINT) AS gpos, tkn
  FROM (
    SELECT source, doc_id, tok_off,
           unnest(range(len(t))) AS pos, unnest(t) AS tkn
    FROM off
  )
)
SELECT CAST(source AS VARCHAR) AS source,
       CAST(gpos // 512 AS BIGINT) AS block_id,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tokens,
       arg_min(tkn, gpos) AS first_token,
       arg_max(tkn, gpos) AS last_token
FROM tok
GROUP BY 1, 2
ORDER BY source, block_id
"""

ORACLES["pack_block_stats"] = (
    _PACK_OFFSETS
    + """
SELECT source, block_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(splits_boundary) AS BIGINT) AS n_splits
FROM packed
GROUP BY 1, 2
ORDER BY source, block_id
"""
)


def _pagerank_sql(iters: int = 5, min_support: int = 2, top_n: int = 40) -> str:
    """Unrolled-CTE replay of tpch.product_pagerank: every round of the
    damped power iteration is a literal CTE (m{i} incoming mass, r{i}
    new ranks), all arithmetic BIGINT with DuckDB ``//`` floor division
    matching Spark ``div`` on the all-positive operands."""
    base = "(1000000000000 // (SELECT n_nodes FROM n))"
    cte = [
        "WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""p AS (
  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b
  FROM bk a JOIN bk b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {min_support}
)""",
        "sym AS (SELECT part_a AS src, part_b AS dst FROM p"
        " UNION ALL SELECT part_b, part_a FROM p)",
        "deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d"
        " FROM sym GROUP BY 1)",
        "n AS (SELECT count(*) AS n_nodes FROM deg)",
        f"r0 AS (SELECT node, d, CAST({base} AS BIGINT) AS r FROM deg)",
    ]
    for i in range(1, iters + 1):
        cte.append(
            f"m{i} AS (SELECT s.dst AS node,"
            f" CAST(SUM(r{i - 1}.r // r{i - 1}.d) AS BIGINT) AS mass"
            f" FROM sym s JOIN r{i - 1} ON r{i - 1}.node = s.src GROUP BY 1)"
        )
        cte.append(
            f"r{i} AS (SELECT deg.node, deg.d,"
            f" CAST((15 * {base} + 85 * COALESCE(m{i}.mass, 0)) // 100"
            f" AS BIGINT) AS r FROM deg LEFT JOIN m{i} ON m{i}.node = deg.node)"
        )
    return (
        ",\n".join(cte)
        + f"""
SELECT node AS l_partkey, d AS degree, r AS rank_micro
FROM r{iters}
ORDER BY rank_micro DESC, l_partkey
LIMIT {top_n}
"""
    )


ORACLES["product_pagerank"] = _pagerank_sql()


def _bpe_sql(n_merges: int = 4, top_words: int = 1500) -> str:
    """Unrolled replay of text.bpe_merges: each merge round is three
    CTEs — pc{r} weighted adjacent-pair counts, tp{r} the 1-row argmax
    (count desc, a, b), s{r} the greedy left-to-right merge applied via
    a list_reduce fold on a space-joined symbol string (symbols are
    alphanumeric, so ' ' never collides). Whole-symbol string equality
    throughout — identical semantics to the Spark aggregate fold."""
    cte = [
        f"""WITH wc AS (
  SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_extract_all(coalesce(text, ''),
                      '[A-Za-z0-9]+')) AS t FROM documents)
  GROUP BY 1 ORDER BY cnt DESC, word LIMIT {top_words}
)""",
        "s0 AS (SELECT word, cnt, list_transform(range(1, len(word) + 1),"
        " i -> word[i:i]) AS syms FROM wc)",
    ]
    for r in range(1, n_merges + 1):
        cte.append(
            f"""pc{r} AS (
  SELECT p.a AS a, p.b AS b, CAST(SUM(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
               i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS p
        FROM s{r - 1})
  GROUP BY 1, 2
)"""
        )
        cte.append(
            f"tp{r} AS (SELECT a, b, c FROM pc{r}"
            f" ORDER BY c DESC, a, b LIMIT 1)"
        )
        cte.append(
            f"""s{r} AS (
  SELECT word, cnt, string_split(list_reduce(syms, (acc, x) ->
    CASE WHEN regexp_extract(acc, '([^ ]+)$', 1) = t.a AND x = t.b
         THEN regexp_replace(acc, '[^ ]+$', t.a || t.b)
         ELSE acc || ' ' || x END), ' ') AS syms
  FROM s{r - 1} CROSS JOIN tp{r} t
)"""
        )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS round, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, c AS pair_count FROM tp{r}"
        for r in range(1, n_merges + 1)
    )
    return ",\n".join(cte) + f"\nSELECT * FROM ({rows})\nORDER BY round\n"


ORACLES["bpe_merges"] = _bpe_sql()


def _bpe_encode_sql(n_merges: int = 4, top_words: int = 1500) -> str:
    """Replay of text.bpe_encode_stats: the full _bpe_sql training
    chain (pc/tp/s rounds on the capped vocab), then the learned tp1..
    tp{n} merges applied to EVERY distinct corpus word via the same
    list_reduce greedy fold, joined back to per-(source, word)
    occurrence counts for the per-source rollup. Integer-micro
    compression division, BIGINT casts before '//' (DuckDB sum
    widening)."""
    chain = _bpe_sql(n_merges, top_words)
    # reuse the training CTE chain; drop its final SELECT
    chain_ctes = chain[: chain.rindex("\nSELECT * FROM (")]
    cte = [
        chain_ctes,
        """aw AS (
  SELECT source, t AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest(regexp_extract_all(coalesce(text, ''),
                      '[A-Za-z0-9]+')) AS t FROM documents)
  GROUP BY 1, 2
)""",
        "w0 AS (SELECT word, list_transform(range(1, len(word) + 1),"
        " i -> word[i:i]) AS syms FROM (SELECT DISTINCT word FROM aw))",
    ]
    for r in range(1, n_merges + 1):
        cte.append(
            f"""w{r} AS (
  SELECT word, string_split(list_reduce(syms, (acc, x) ->
    CASE WHEN regexp_extract(acc, '([^ ]+)$', 1) = t.a AND x = t.b
         THEN regexp_replace(acc, '[^ ]+$', t.a || t.b)
         ELSE acc || ' ' || x END), ' ') AS syms
  FROM w{r - 1} CROSS JOIN tp{r} t
)"""
        )
    return (
        ",\n".join(cte)
        + f""",
wn AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_after FROM w{n_merges})
SELECT aw.source,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * len(word)) AS BIGINT) AS chars_alnum,
       CAST(SUM(cnt * n_after) AS BIGINT) AS tokens_bpe,
       CAST((CAST(SUM(cnt * n_after) AS BIGINT) * 1000000)
            // CAST(SUM(cnt * len(word)) AS BIGINT) AS BIGINT)
         AS compression_micro
FROM aw JOIN wn USING (word)
GROUP BY 1
ORDER BY source
"""
    )


ORACLES["bpe_encode_stats"] = _bpe_encode_sql()


# Replays tpch.basket_graph_stats: same min-support co-purchase graph,
# same (degree, id) edge orientation, same oriented wedge join + edge
# probe for the exact triangle count; wedges in even-product integer
# arithmetic and the clustering coefficient via integer-micro division.
ORACLES["basket_graph_stats"] = """
WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b
  FROM bk a JOIN bk b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
sym AS (SELECT part_a AS src FROM p UNION ALL SELECT part_b FROM p),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM sym GROUP BY 1),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.part_a < p.part_b)
              THEN p.part_a ELSE p.part_b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.part_a < p.part_b)
              THEN p.part_b ELSE p.part_a END AS v,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.part_a < p.part_b)
              THEN db.d ELSE da.d END AS dv
  FROM p
  JOIN deg da ON da.node = p.part_a
  JOIN deg db ON db.node = p.part_b
),
w AS (
  SELECT e1.v AS v1, e2.v AS v2
  FROM o e1 JOIN o e2 ON e1.u = e2.u
  WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM w JOIN o ON o.u = w.v1 AND o.v = w.v2
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM p)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CAST(CASE WHEN n_wedges = 0 THEN 0
                 ELSE (3 * n_triangles * 1000000) // n_wedges END AS BIGINT)
         AS clustering_micro
FROM ns, es, tri
"""


ORACLES["revenue_streaks"] = f"""
WITH {_RETAIL},
daily AS (
  SELECT product, order_date,
         CAST(sum(CAST(round(round(amount, 2) * 100, 0) AS BIGINT)) AS BIGINT) AS c
  FROM retail GROUP BY 1, 2
),
runs AS (
  SELECT product, order_date, c,
         order_date - CAST(row_number() OVER (
             PARTITION BY product ORDER BY order_date) AS INTEGER) AS anchor
  FROM daily
),
streaks AS (
  SELECT product, anchor,
         CAST(count(*) AS BIGINT) AS len,
         min(order_date) AS s_d, max(order_date) AS e_d,
         CAST(sum(c) AS BIGINT) AS streak_c
  FROM runs GROUP BY 1, 2
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY product
                            ORDER BY len DESC, s_d ASC) AS rn,
         CAST(sum(len) OVER (PARTITION BY product) AS BIGINT) AS active_days,
         CAST(count(*) OVER (PARTITION BY product) AS BIGINT) AS n_streaks
  FROM streaks
)
SELECT product, active_days, n_streaks,
       len AS longest_streak, s_d AS streak_start, e_d AS streak_end,
       round(streak_c / 100.0, 2) AS streak_revenue
FROM ranked WHERE rn = 1
ORDER BY product
"""


ORACLES["event_debounce"] = """
WITH lagged AS (
  SELECT event_type, ts,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE user_id IS NOT NULL
),
d AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE prev_ts IS NOT NULL
              AND date_diff('second', prev_ts, ts) <= 60) AS BIGINT) AS nd
  FROM lagged GROUP BY 1
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT t.event_type, t.n_events,
       CAST(coalesce(d.nd, 0) AS BIGINT) AS n_dropped,
       CAST(t.n_events - coalesce(d.nd, 0) AS BIGINT) AS n_kept,
       CAST((coalesce(d.nd, 0) * 1000000) // t.n_events AS BIGINT) AS drop_micro
FROM tot t LEFT JOIN d ON t.event_type = d.event_type
ORDER BY 1
"""


ORACLES["attribution_last_touch"] = """
WITH p AS (
  SELECT event_id, user_id, ts,
         coalesce(CAST(round(round(value, 2) * 100, 0) AS BIGINT), 0) AS c
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type <> 'purchase'
),
m AS (
  SELECT p.event_id AS pid, t.event_type AS t_type,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM p JOIN t
    ON p.user_id = t.user_id AND t.ts <= p.ts
   AND date_diff('second', t.ts, p.ts) <= 604800
),
att AS (
  SELECT coalesce(m.t_type, 'unattributed') AS channel, p.c
  FROM p LEFT JOIN (SELECT pid, t_type FROM m WHERE rn = 1) m
    ON m.pid = p.event_id
),
per AS (
  SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(c) AS BIGINT) AS cents
  FROM att GROUP BY 1
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM per)
SELECT channel, n_purchases,
       round(cents / 100.0, 2) AS revenue,
       CAST(CASE WHEN total_cents = 0 THEN 0
                 ELSE (cents * 1000000) // total_cents END AS BIGINT)
         AS share_micro
FROM per CROSS JOIN tot
ORDER BY channel
"""


ORACLES["funnel_dropoff_time"] = """
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
              OVER (PARTITION BY user_id) AS t0
  FROM e
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0 THEN ts END)
              OVER (PARTITION BY user_id) AS t1
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s2
),
s4 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s3
),
pu AS (
  SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM s4 GROUP BY 1
),
g AS (
  SELECT 1 AS stage_idx, 'view' AS stage,
         date_diff('second', t0, t1) AS gap_s FROM pu WHERE t1 IS NOT NULL
  UNION ALL
  SELECT 2, 'click', date_diff('second', t1, t2) FROM pu WHERE t2 IS NOT NULL
  UNION ALL
  SELECT 3, 'purchase', date_diff('second', t2, t3) FROM pu WHERE t3 IS NOT NULL
)
SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_s) AS BIGINT)
         AS p50_gap_s,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_s) AS BIGINT)
         AS p90_gap_s
FROM g GROUP BY 1, 2
ORDER BY 1
"""


ORACLES["label_separation_matrix"] = """
WITH base AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
    AND len(list_filter(embedding, x -> x <> 0)) > 0
),
ex AS (
  SELECT label,
         unnest(range(1, len(v) + 1)) AS pos,
         unnest(v) AS val
  FROM base
),
comp AS (
  SELECT label, pos, round(avg(val), 6) AS m FROM ex GROUP BY 1, 2
),
norms AS (
  SELECT label, round(sqrt(sum(m * m)), 6) AS nrm FROM comp GROUP BY 1
),
counts AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n
  FROM base WHERE len(v) > 0 GROUP BY 1
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.m * b.m) AS dot
  FROM comp a JOIN comp b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b, ca.n AS n_a, cb.n AS n_b,
       round(d.dot / (na.nrm * nb.nrm), 6) AS centroid_cos
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
JOIN counts ca ON ca.label = d.label_a
JOIN counts cb ON cb.label = d.label_b
ORDER BY d.label_a, d.label_b
"""


ORACLES["benchmark_decontamination"] = """
WITH toksd AS (
  SELECT doc_id, source,
         (doc_id % 50 = 0) AS is_bench,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
gsets AS (
  SELECT doc_id, source, is_bench,
         list_distinct(
           CASE WHEN len(t) < 8 THEN []
                ELSE list_transform(range(1, len(t) - 8 + 2),
                     i -> md5(list_aggregate(list_slice(t, i, i + 7),
                                             'string_agg', ' ')))
           END) AS H
  FROM toksd
),
ok AS (SELECT * FROM gsets WHERE len(H) > 0),
bench AS (
  SELECT DISTINCT unnest(H) AS h FROM ok WHERE is_bench
),
train AS (
  SELECT doc_id, source, CAST(len(H) AS BIGINT) AS n_grams, H
  FROM ok WHERE NOT is_bench
),
hits AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM (SELECT doc_id, unnest(H) AS h FROM train) g
  JOIN bench b ON g.h = b.h
  GROUP BY 1
),
per_doc AS (
  SELECT t.source, t.n_grams, coalesce(h.n_hit, 0) AS n_hit
  FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_hit) AS BIGINT) AS hit_grams,
       CAST((sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS doc_rate_micro,
       CAST((sum(n_hit) * 1000000) // sum(n_grams) AS BIGINT)
         AS gram_rate_micro
FROM per_doc GROUP BY 1 ORDER BY 1
"""


ORACLES["tfidf_keywords"] = """
WITH tct AS (
  SELECT source,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'))
           AS term
  FROM documents
),
cnts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM tct GROUP BY 1, 2
),
ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM cnts),
sfr AS (SELECT term, CAST(count(*) AS BIGINT) AS sf FROM cnts GROUP BY 1),
scored AS (
  SELECT c.source, c.term, c.cnt,
         CAST(round(c.cnt * round(ln(CAST(n.n_sources AS DOUBLE) / s.sf), 6)
                    * 1e6, 0) AS BIGINT) AS score_micro
  FROM cnts c JOIN sfr s USING (term) CROSS JOIN ns n
),
ranked AS (
  SELECT source, term, cnt, score_micro,
         row_number() OVER (PARTITION BY source
                            ORDER BY score_micro DESC, term ASC) AS rk
  FROM scored
)
SELECT source, CAST(rk AS INTEGER) AS rk, term, cnt, score_micro
FROM ranked WHERE rk <= 5 ORDER BY source, rk
"""


ORACLES["stratified_split_audit"] = """
WITH perq AS (
  SELECT source,
         CASE
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 100 < 5 THEN 'test'
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 100 < 10 THEN 'val'
           ELSE 'train'
         END AS split,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))
              AS BIGINT) AS nt
  FROM documents
),
agg AS (
  SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM perq GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot FROM agg GROUP BY 1)
SELECT a.source, a.split, a.n_docs, a.n_tokens,
       CAST((a.n_docs * 1000000) // t.tot AS BIGINT) AS doc_share_micro
FROM agg a JOIN tot t ON a.source = t.source
ORDER BY a.source, a.split
"""


ORACLES["lang_confusion"] = f"""
WITH {_DOC_EXPRS},
cells AS (
  SELECT lang,
         CASE
           WHEN c_en > 0 AND c_en >= greatest(c_en, c_de, c_fr, c_es) THEN 'en'
           WHEN c_de > 0 AND c_de >= greatest(c_en, c_de, c_fr, c_es) THEN 'de'
           WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
           WHEN c_es > 0 AND c_es >= greatest(c_en, c_de, c_fr, c_es) THEN 'es'
           ELSE 'und'
         END AS lang_pred,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM docx GROUP BY 1, 2
),
tots AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS tot FROM cells GROUP BY 1)
SELECT c.lang, c.lang_pred, c.n_docs,
       CAST((c.n_docs * 1000000) // t.tot AS BIGINT) AS row_share_micro
FROM cells c JOIN tots t ON c.lang = t.lang
ORDER BY c.lang, c.lang_pred
"""

# Corpus-saturation novelty curve: per positional ingestion epoch, the
# share of distinct 3-gram hashes seen for the first time. Gram rule
# mirrors benchmark_decontamination (lowercased alnum tokens, md5 of
# the space-joined k-slice, per-doc list_distinct).
ORACLES["ngram_novelty"] = """
WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents WHERE doc_id IS NOT NULL),
toksn AS (
  SELECT (doc_id * 10) // n AS epoch,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents, nn
  WHERE doc_id IS NOT NULL
),
gsetsn AS (
  SELECT epoch,
         list_distinct(
           CASE WHEN len(t) < 3 THEN []
                ELSE list_transform(range(1, len(t) - 3 + 2),
                     i -> md5(list_aggregate(list_slice(t, i, i + 2),
                                             'string_agg', ' ')))
           END) AS H
  FROM toksn
),
okn AS (SELECT * FROM gsetsn WHERE len(H) > 0),
pairsn AS (
  SELECT DISTINCT epoch, h
  FROM (SELECT epoch, unnest(H) AS h FROM okn)
),
firstsn AS (SELECT h, min(epoch) AS first_epoch FROM pairsn GROUP BY 1),
per_new AS (
  SELECT first_epoch AS epoch, CAST(count(*) AS BIGINT) AS new_grams
  FROM firstsn GROUP BY 1
),
per_distinct AS (
  SELECT epoch, CAST(count(*) AS BIGINT) AS distinct_grams
  FROM pairsn GROUP BY 1
),
per_docs AS (
  SELECT epoch, CAST(count(*) AS BIGINT) AS n_docs FROM okn GROUP BY 1
)
SELECT d.epoch, n_docs, distinct_grams,
       CAST(coalesce(new_grams, 0) AS BIGINT) AS new_grams,
       CAST((coalesce(new_grams, 0) * 1000000) // distinct_grams AS BIGINT)
         AS novelty_micro
FROM per_docs d
JOIN per_distinct USING (epoch)
LEFT JOIN per_new USING (epoch)
ORDER BY d.epoch
"""

# Adjacent-epoch unigram total-variation drift + vocabulary churn, all
# in exact integer micro-units (cnt*1e6 // epoch_total per term, the
# cross-engine float-sum rule).
ORACLES["vocab_drift"] = """
WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents WHERE doc_id IS NOT NULL),
toksv AS (
  SELECT (doc_id * 10) // n AS epoch,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents, nn
  WHERE doc_id IS NOT NULL
),
countsv AS (
  SELECT epoch, term, CAST(count(*) AS BIGINT) AS cnt
  FROM toksv GROUP BY 1, 2
),
totalsv AS (SELECT epoch, CAST(sum(cnt) AS BIGINT) AS tot FROM countsv GROUP BY 1),
sharesv AS (
  SELECT c.epoch, c.term, CAST((c.cnt * 1000000) // t.tot AS BIGINT) AS share
  FROM countsv c JOIN totalsv t ON c.epoch = t.epoch
),
curv AS (SELECT epoch AS epoch_to, term, share AS p FROM sharesv),
prevv AS (
  SELECT epoch + 1 AS epoch_to, term, share AS q
  FROM sharesv WHERE epoch + 1 < 10
),
jv AS (
  SELECT coalesce(curv.epoch_to, prevv.epoch_to) AS epoch_to, p, q
  FROM curv FULL OUTER JOIN prevv
    ON curv.epoch_to = prevv.epoch_to AND curv.term = prevv.term
)
SELECT CAST(epoch_to - 1 AS BIGINT) AS epoch_from,
       epoch_to,
       CAST(count(*) AS BIGINT) AS union_terms,
       CAST(sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_terms,
       CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_terms,
       CAST(sum(abs(coalesce(p, 0) - coalesce(q, 0))) AS BIGINT) AS tv_micro
FROM jv
WHERE epoch_to >= 1
GROUP BY epoch_to
ORDER BY epoch_to
"""

# Token-length Pareto curve: ≤64 log2 buckets, cumulative from the
# longest bucket down, integer-micro cumulative token share.
ORACLES["length_pareto"] = """
WITH lp AS (
  SELECT len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS n
  FROM documents
),
pb AS (
  SELECT CAST(floor(log2(n)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS bucket_tokens
  FROM lp WHERE n >= 1 GROUP BY 1
)
SELECT bucket, n_docs, bucket_tokens,
       CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
       CAST(sum(bucket_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST((sum(bucket_tokens) OVER w * 1000000)
            // (sum(bucket_tokens) OVER ()) AS BIGINT)
         AS cum_token_share_micro
FROM pb
WINDOW w AS (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY bucket DESC
"""

# Pairwise source gram-vocabulary containment: exact census over
# per-source DISTINCT 3-gram hashes; the oracle's self-join is the
# semantic spec (the engine's collect_set pair expansion is the scale
# path — identical output).
ORACLES["source_gram_containment"] = """
WITH tg AS (
  SELECT source,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
sg AS (
  SELECT DISTINCT source, h
  FROM (
    SELECT source,
           unnest(CASE WHEN len(t) < 3 THEN []
                       ELSE list_transform(range(1, len(t) - 3 + 2),
                            i -> md5(list_aggregate(list_slice(t, i, i + 2),
                                                    'string_agg', ' ')))
                  END) AS h
    FROM tg
  )
),
v AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM sg GROUP BY 1),
sh AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, shared_grams,
       va.v AS a_grams, vb.v AS b_grams,
       CAST((shared_grams * 1000000) // least(va.v, vb.v) AS BIGINT)
         AS containment_micro,
       CAST((shared_grams * 1000000) // (va.v + vb.v - shared_grams) AS BIGINT)
         AS jaccard_micro
FROM sh
JOIN v va ON sh.source_a = va.source
JOIN v vb ON sh.source_b = vb.source
ORDER BY source_a, source_b
"""


def _embedding_drift_oracle(
    n_epochs: int = 10, n_bits: int = 8, dims: int = 64
) -> str:
    """Adjacent-epoch SRP-bucket TV drift over embeddings — built from
    the SAME deterministic hyperplane matrix the Spark operator embeds
    (operators/similarity._srp_signs), the srp_dup_pairs no-drift
    discipline: both sides bucket on round(dot(v, ±1-plane), 6) >= 0
    sign bits."""
    from data_pipeline_example_spark.operators.similarity import _srp_signs

    signs = _srp_signs(n_bits, dims)
    bit_terms = " + ".join(
        "(CASE WHEN round(list_dot_product(v, CAST(["
        + ",".join(f"{s:.1f}" for s in signs[j])
        + f"] AS DOUBLE[])), 6) >= 0 THEN 1 ELSE 0 END) * {1 << j}"
        for j in range(n_bits)
    )
    return f"""
WITH ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
              AND len(embedding) > 0
              AND len(list_filter(embedding, x -> x <> 0)) > 0),
nn AS (SELECT max(vec_id) + 1 AS n FROM ve),
ed AS (
  SELECT (vec_id * {n_epochs}) // n AS epoch,
         CAST({bit_terms} AS BIGINT) AS bucket
  FROM ve, nn
),
cnts AS (SELECT epoch, bucket, CAST(count(*) AS BIGINT) AS cnt FROM ed GROUP BY 1, 2),
tots AS (SELECT epoch, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts GROUP BY 1),
shr AS (
  SELECT c.epoch, c.bucket, CAST((c.cnt * 1000000) // t.tot AS BIGINT) AS share
  FROM cnts c JOIN tots t ON c.epoch = t.epoch
),
cure AS (SELECT epoch AS epoch_to, bucket, share AS p FROM shr),
preve AS (
  SELECT epoch + 1 AS epoch_to, bucket, share AS q
  FROM shr WHERE epoch + 1 < {n_epochs}
),
je AS (
  SELECT coalesce(cure.epoch_to, preve.epoch_to) AS epoch_to, p, q
  FROM cure FULL OUTER JOIN preve
    ON cure.epoch_to = preve.epoch_to AND cure.bucket = preve.bucket
)
SELECT CAST(epoch_to - 1 AS BIGINT) AS epoch_from,
       epoch_to,
       CAST(count(*) AS BIGINT) AS union_buckets,
       CAST(sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_buckets,
       CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
       CAST(sum(abs(coalesce(p, 0) - coalesce(q, 0))) AS BIGINT) AS tv_micro
FROM je
WHERE epoch_to >= 1
GROUP BY epoch_to
ORDER BY epoch_to
"""


ORACLES["embedding_drift"] = _embedding_drift_oracle()


# IVM twin of the flagship rollup: the oracle is the DIRECT single-pass
# GROUP BY in integer cents — hash-equality with the engine's
# history+delta partial merge proves the merge is exact (the reason the
# op refuses float revenue: float partial sums are not associative).
ORACLES["incremental_daily_revenue"] = f"""
WITH {_RETAIL}
SELECT order_date, product,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(round(amount, 2) * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM retail
GROUP BY 1, 2
ORDER BY 1, 2
"""


# Monthly seasonality index per product — integer cents, integral
# micro shares; year()/month() CAST AS INTEGER for cross-engine schema
# parity (the orders_yoy_growth precedent).
ORACLES["revenue_seasonality"] = f"""
WITH {_RETAIL},
ms AS (
  SELECT product,
         CAST(year(order_date) AS INTEGER) AS year,
         CAST(month(order_date) AS INTEGER) AS month,
         CAST(sum(CAST(round(round(amount, 2) * 100, 0) AS BIGINT)) AS BIGINT)
           AS month_cents
  FROM retail GROUP BY 1, 2, 3
),
ys AS (
  SELECT product, year, CAST(sum(month_cents) AS BIGINT) AS year_cents
  FROM ms GROUP BY 1, 2
)
SELECT ms.product, ms.year, ms.month, month_cents, year_cents,
       CAST(CASE WHEN year_cents = 0 THEN 0
            ELSE (month_cents * 1000000) // year_cents END AS BIGINT)
         AS month_share_micro
FROM ms JOIN ys ON ms.product = ys.product AND ms.year = ys.year
ORDER BY ms.product, ms.year, ms.month
"""

# Gini of token mass across sources: the exact rank formulation over
# the tiny per-source frame, single integral division.
ORACLES["token_gini"] = """
WITH masses AS (
  SELECT coalesce(source, 'unknown') AS source,
         CAST(sum(len(regexp_extract_all(lower(coalesce(text, '')),
                                         '[a-z0-9]+'))) AS BIGINT) AS m
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT m, CAST(row_number() OVER (ORDER BY m ASC, source ASC) AS BIGINT) AS i
  FROM masses
)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(m) AS BIGINT) AS total_tokens,
       CAST(CASE WHEN sum(m) = 0 THEN 0
            ELSE ((2 * sum(i * m) - (count(*) + 1) * sum(m)) * 1000000)
                 // (count(*) * sum(m)) END AS BIGINT) AS gini_micro
FROM ranked
"""

# fastText-style linear quality classifier (operators/text.py
# quality_classifier): binarized hashed unigram+bigram features,
# smoothed document-frequency log-odds weights, class-prior bias —
# integer micro-nat logits end to end (the dsir_weights discipline).
ORACLES["quality_classifier"] = f"""
WITH {_DOC_EXPRS},
{_QUALITY_SQL},
m AS (SELECT round(avg(quality), 6) AS mq FROM q),
flags AS (
  SELECT doc_id, CASE WHEN quality >= (SELECT mq FROM m) THEN 1 ELSE 0 END AS label
  FROM q
),
toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
uni AS (SELECT doc_id, unnest(t) AS feat FROM toks),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i] || ' ' || t[i + 1])) AS feat
  FROM toks
),
feats AS (
  SELECT DISTINCT doc_id,
         ('0x' || substring(md5(feat), 1, 8))::BIGINT % 4096 AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)
),
withflag AS (SELECT feats.*, f.label FROM feats JOIN flags f USING (doc_id)),
cls AS (
  SELECT CAST(sum(label) AS BIGINT) AS n_hi,
         CAST(sum(1 - label) AS BIGINT) AS n_lo
  FROM flags
),
dfreq AS (
  SELECT bucket,
         CAST(sum(label) AS BIGINT) AS df_hi,
         CAST(sum(1 - label) AS BIGINT) AS df_lo
  FROM withflag GROUP BY 1
),
weights AS (
  SELECT bucket,
         CAST(round(round(ln((df_hi + 1.0) / (n_hi + 2.0))
               - ln((df_lo + 1.0) / (n_lo + 2.0)), 6) * 1e6) AS BIGINT) AS w_micro
  FROM dfreq, cls
),
bias AS (
  SELECT CAST(round(round(ln((n_hi + 1.0) / (n_lo + 1.0)), 6) * 1e6) AS BIGINT)
           AS bias_micro
  FROM cls
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_feats,
       CAST(any_value(bias_micro) + sum(wt.w_micro) AS BIGINT) AS logit_micro,
       CAST(any_value(bias_micro) + sum(wt.w_micro) > 0 AS INTEGER) AS pred,
       CAST(any_value(w.label) AS INTEGER) AS label
FROM withflag w JOIN weights wt USING (bucket) CROSS JOIN bias
GROUP BY w.doc_id
"""


def _pii_redact_oracle() -> str:
    """PII redaction transform (operators/text.py pii_redact): the same
    PII_PATTERNS table as pii_scan, applied as a sequential
    count-then-replace chain (email -> phone -> ipv4) so n_redactions
    is the true substitution count even when patterns overlap."""
    from data_pipeline_example_spark.operators.text import PII_PATTERNS

    placeholders = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}
    steps, prev, counts = [], "t0", []
    for i, (name, pat) in enumerate(PII_PATTERNS, start=1):
        carry = ", ".join(["doc_id"] + counts)
        steps.append(
            f"s{i} AS (\n"
            f"  SELECT {carry},\n"
            f"         CAST(len(regexp_extract_all({prev}, '{pat}')) AS BIGINT) AS c{i},\n"
            f"         regexp_replace({prev}, '{pat}', '{placeholders[name]}', 'g') AS t{i}\n"
            f"  FROM s{i - 1}\n)"
        )
        counts.append(f"c{i}")
        prev = f"t{i}"
    chain = ",\n".join(steps)
    total = " + ".join(counts)
    return (
        "WITH s0 AS (SELECT doc_id, coalesce(text, '') AS t0 FROM documents),\n"
        f"{chain}\n"
        f"SELECT doc_id, {total} AS n_redactions, {prev} AS text_redacted FROM s{len(counts)}\n"
    )


ORACLES["pii_redact"] = _pii_redact_oracle()


# Per-source Zipf rank-frequency slope (operators/text.py zipf_fit):
# least squares on (ln rank, ln freq) over the top-256 head, MILLI-
# scaled log inputs (3 dp keeps every moment product in long range),
# negated-numerator schoolbook division — floor division on
# nonnegative integers in both engines (Chebyshev: y nonincreasing in
# rank => the plain numerator is <= 0, so its negation is exact here).
ORACLES["zipf_fit"] = """
WITH toks AS (
  SELECT coalesce(source, 'unknown') AS source,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1, 2
),
ranked AS (
  SELECT source, term, freq,
         CAST(row_number() OVER (PARTITION BY source ORDER BY freq DESC, term ASC)
              AS BIGINT) AS r
  FROM counts
),
xy AS (
  SELECT source, freq,
         CAST(round(round(ln(r), 3) * 1000, 0) AS BIGINT) AS x,
         CAST(round(round(ln(freq), 3) * 1000, 0) AS BIGINT) AS y
  FROM ranked WHERE r <= 256
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(max(freq) AS BIGINT) AS head_freq
  FROM xy GROUP BY 1
)
SELECT source, n AS n_terms, head_freq,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
            ((sx * sy - n * sxy) // (n * sxx - sx * sx)) * 1000000
            + (((sx * sy - n * sxy) % (n * sxx - sx * sx)) * 1000000)
              // (n * sxx - sx * sx) END AS BIGINT) AS neg_zipf_slope_micro
FROM agg ORDER BY source
"""

# Calibration/confusion audit of the quality classifier
# (operators/text.py quality_calibration): 8 equal-width bins over
# the observed logit range (1-row min/max broadcast); the bin index is
# one integral division on nonnegative longs, counts/sums elsewhere.
ORACLES["quality_calibration"] = f"""
WITH qc AS ({ORACLES["quality_classifier"]}),
rng AS (SELECT min(logit_micro) AS mn, max(logit_micro) AS mx FROM qc)
SELECT CAST(((logit_micro - mn) * 8) // (mx - mn + 1) AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pred) AS BIGINT) AS n_pred_hi,
       CAST(sum(label) AS BIGINT) AS n_label_hi,
       CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(logit_micro) AS BIGINT) AS sum_logit_micro
FROM qc, rng GROUP BY 1 ORDER BY 1
"""

# Token-budget mixture plan (operators/text.py domain_epoch_plan):
# sqrt-temperature targets on exact token masses, integer-rounded
# sqrt weights (keeps budget*weight in long range), single integral
# divisions on nonnegative values.
ORACLES["domain_epoch_plan"] = """
WITH masses AS (
  SELECT coalesce(source, 'unknown') AS source,
         CAST(sum(len(regexp_extract_all(lower(coalesce(text, '')),
                                         '[a-z0-9]+'))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
),
wm AS (
  SELECT source, tokens, CAST(round(sqrt(tokens), 0) AS BIGINT) AS weight
  FROM masses
),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wt FROM wm),
tt AS (
  SELECT source, tokens, weight,
         CAST(CASE WHEN wt = 0 THEN 0
              ELSE (weight * 10000000) // wt END AS BIGINT) AS target_tokens
  FROM wm, tot
)
SELECT source, tokens, weight, target_tokens,
       CAST(CASE WHEN tokens = 0 THEN 0
            ELSE (target_tokens * 1000000) // tokens END AS BIGINT) AS epochs_micro
FROM tt ORDER BY source
"""


# Per-source readability rollup (operators/text.py readability_scores):
# Flesch reading-ease from source-level count sums; every division an
# integral div on nonnegative longs, raw counts otherwise.
ORACLES["readability_scores"] = """
WITH per_doc AS (
  SELECT coalesce(source, 'unknown') AS source,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'))
              AS BIGINT) AS w,
         CAST(CASE WHEN len(coalesce(text, '')) = 0 THEN 0
              ELSE greatest(len(regexp_extract_all(coalesce(text, ''),
                                                   '[.!?]+')), 1)
              END AS BIGINT) AS s,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[aeiou]+'))
              AS BIGINT) AS y
  FROM documents
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS n_words,
         CAST(sum(s) AS BIGINT) AS n_sentences,
         CAST(sum(y) AS BIGINT) AS n_syllables
  FROM per_doc GROUP BY 1
)
SELECT source, n_docs, n_words, n_sentences, n_syllables,
       CAST(CASE WHEN n_sentences = 0 THEN 0
            ELSE (n_words // n_sentences) * 1000000
                 + (n_words % n_sentences) * 1000000 // n_sentences
            END AS BIGINT)
         AS words_per_sentence_micro,
       CAST(CASE WHEN n_words = 0 THEN 0
            ELSE (n_syllables // n_words) * 1000000
                 + (n_syllables % n_words) * 1000000 // n_words
            END AS BIGINT)
         AS syllables_per_word_micro,
       CAST(CASE WHEN n_words = 0 OR n_sentences = 0 THEN 0 ELSE
            206835000
            - (((1015 * n_words) // n_sentences) * 1000
               + ((1015 * n_words) % n_sentences) * 1000 // n_sentences)
            - (((84600 * n_syllables) // n_words) * 1000
               + ((84600 * n_syllables) % n_words) * 1000 // n_words)
            END AS BIGINT)
         AS fre_micro
FROM agg ORDER BY source
"""

# Per-source unigram Shannon entropy (operators/text.py
# unigram_entropy): H = ln N - (sum f*ln f)/N with milli-log f terms
# and schoolbook nonnegative floor division; clamped at 0.
ORACLES["unigram_entropy"] = """
WITH toks AS (
  SELECT coalesce(source, 'unknown') AS source,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(f * CAST(round(round(ln(f), 3) * 1000, 0) AS BIGINT))
              AS BIGINT) AS flf_milli
  FROM counts GROUP BY 1
),
ent AS (
  SELECT source, n_tokens, vocab,
         CAST(greatest(CASE WHEN n_tokens = 0 THEN 0 ELSE
              CAST(round(round(ln(n_tokens), 6) * 1000000, 0) AS BIGINT)
              - ((flf_milli // n_tokens) * 1000
                 + ((flf_milli % n_tokens) * 1000) // n_tokens) END, 0)
           AS BIGINT) AS entropy_micro
  FROM agg
)
SELECT source, n_tokens, vocab, entropy_micro,
       CAST(CASE WHEN vocab <= 1 THEN 0 ELSE
            (entropy_micro * 1000000)
            // CAST(round(round(ln(vocab), 6) * 1000000, 0) AS BIGINT)
            END AS BIGINT) AS norm_entropy_micro
FROM ent ORDER BY source
"""


# Lexical-vs-semantic near-dup agreement (curation.py dedup_agreement):
# the two member ADAPTIVE scale-path oracles composed verbatim
# (aligned ids, doc_id = vec_id; semantic side is srp_dup_pairs — the
# fixed-centroid blocked oracle went quadratic at sf10), full-outer
# pair join, 2x2 verdict cells + the Jaccard of the verdict sets —
# counts and one integral division.
ORACLES["dedup_agreement"] = f"""
WITH lex AS (SELECT doc_a, doc_b FROM ({ORACLES["minhash_lsh_pairs"]})),
sem AS (SELECT vec_a AS doc_a, vec_b AS doc_b
        FROM ({ORACLES["srp_dup_pairs"]})),
cells AS (
  SELECT CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS lex,
         CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sem
  FROM lex l FULL OUTER JOIN sem s
    ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
)
SELECT CAST(sum(lex) AS BIGINT) AS n_lexical,
       CAST(sum(sem) AS BIGINT) AS n_semantic,
       CAST(sum(lex * sem) AS BIGINT) AS n_both,
       CAST(sum(lex * (1 - sem)) AS BIGINT) AS n_lexical_only,
       CAST(sum((1 - lex) * sem) AS BIGINT) AS n_semantic_only,
       CAST(CASE WHEN count(*) = 0 THEN 0 ELSE
            (sum(lex * sem) * 1000000) // count(*) END AS BIGINT)
         AS agreement_micro
FROM cells
"""


# Corpus-level Heaps'-law exponent (operators/text.py heaps_law):
# least squares on per-source (ln N, ln V) milli-log points; the
# numerator may be negative, safe because both engines truncate
# integer division toward zero and every schoolbook component shares
# the numerator's sign (den > 0 by Cauchy-Schwarz).
ORACLES["heaps_law"] = """
WITH toks AS (
  SELECT coalesce(source, 'unknown') AS source,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1, 2
),
points AS (
  SELECT source, CAST(sum(f) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
  FROM counts GROUP BY 1
),
xy AS (
  SELECT n,
         CAST(round(round(ln(n), 3) * 1000, 0) AS BIGINT) AS x,
         CAST(round(round(ln(v), 3) * 1000, 0) AS BIGINT) AS y
  FROM points
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy
),
nd AS (
  SELECT ns, total_tokens,
         CAST(ns * sxy - sx * sy AS BIGINT) AS num,
         CAST(ns * sxx - sx * sx AS BIGINT) AS den
  FROM m
)
SELECT ns AS n_sources, total_tokens,
       CAST(CASE WHEN den = 0 THEN 0 ELSE
            (num // den) * 1000000
            + ((num % den) * 1000 // den) * 1000
            + (((num % den) * 1000 % den) * 1000) // den END AS BIGINT)
         AS beta_micro
FROM nd
"""

# URL canonicalization dedup (operators/urls.py): the oracle SQL is
# BUILT by the operator module from the same synthesis + pattern
# tables the Spark side uses — one table drives both engines.
ORACLES["url_canonical_dedup"] = _URL_CANON_ORACLE

# Tokenizer-fertility drift across positional epochs (operators/text.py
# token_fertility_drift): per-epoch micro fertility via the heaps_law
# triple-schoolbook division, signed deltas from an epoch+1 self-join.
ORACLES["token_fertility_drift"] = """
WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents WHERE doc_id IS NOT NULL),
per AS (
  SELECT (doc_id * 10) // n.n AS epoch,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'))), 0) AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(length(coalesce(text, ''))), 0) AS BIGINT) AS n_chars,
         CAST(coalesce(sum(strlen(coalesce(text, ''))), 0) AS BIGINT) AS n_bytes
  FROM documents, n WHERE doc_id IS NOT NULL GROUP BY 1
),
rates AS (
  SELECT epoch, n_docs, n_tokens,
         CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
              (n_chars // n_tokens) * 1000000
              + ((n_chars % n_tokens) * 1000 // n_tokens) * 1000
              + (((n_chars % n_tokens) * 1000 % n_tokens) * 1000) // n_tokens
              END AS BIGINT) AS cpt_micro,
         CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
              (n_bytes // n_tokens) * 1000000
              + ((n_bytes % n_tokens) * 1000 // n_tokens) * 1000
              + (((n_bytes % n_tokens) * 1000 % n_tokens) * 1000) // n_tokens
              END AS BIGINT) AS bpt_micro
  FROM per
)
SELECT r.epoch, r.n_docs, r.n_tokens, r.cpt_micro, r.bpt_micro,
       CAST(r.cpt_micro - p.cpt_micro AS BIGINT) AS delta_cpt_micro,
       CAST(r.bpt_micro - p.bpt_micro AS BIGINT) AS delta_bpt_micro
FROM rates r LEFT JOIN rates p ON p.epoch = r.epoch - 1
ORDER BY r.epoch
"""

# Per-source dominant document prefix (operators/text.py
# boilerplate_prefixes): winner = (count DESC, prefix ASC); DuckDB
# replays the max_by via a row_number window over the bounded
# (source, prefix) count frame.
ORACLES["boilerplate_prefixes"] = """
WITH pref AS (
  SELECT coalesce(source, 'unknown') AS source,
         CASE WHEN len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) >= 3
              THEN array_to_string(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')[1:3], ' ')
         END AS prefix
  FROM documents
),
counts AS (
  SELECT source, prefix, CAST(count(*) AS BIGINT) AS cnt
  FROM pref WHERE prefix IS NOT NULL GROUP BY 1, 2
),
ranked AS (
  SELECT source, prefix, cnt,
         row_number() OVER (PARTITION BY source ORDER BY cnt DESC, prefix ASC) AS rn,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs
  FROM counts
)
SELECT source, n_docs, prefix AS top_prefix, cnt AS n_with_prefix,
       CAST(CASE WHEN n_docs = 0 THEN 0 ELSE (cnt * 1000000) // n_docs END AS BIGINT)
         AS share_micro
FROM ranked WHERE rn = 1 ORDER BY source
"""


# Near-dup pairs by epoch distance (operators/dedup.py
# dup_distance_profile): the minhash_lsh_pairs CTEs verbatim + the
# vocab_drift positional epoch axis folded to a bounded histogram.
ORACLES["dup_distance_profile"] = f"""
WITH {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
n AS (SELECT max(doc_id) + 1 AS n FROM documents WHERE doc_id IS NOT NULL),
hist AS (
  SELECT abs((doc_a * 10) // n.n - (doc_b * 10) // n.n) AS epoch_distance,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs, n GROUP BY 1
),
tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM hist)
SELECT epoch_distance, n_pairs,
       CAST(CASE WHEN t = 0 THEN 0 ELSE (n_pairs * 1000000) // t END AS BIGINT)
         AS share_micro
FROM hist, tot ORDER BY epoch_distance
"""

# Per-cluster simplified cosine silhouette (operators/similarity.py
# clustering_silhouette): rank<=2 per vector over the fixed-16
# broadcast centroids, sign-split integral micro divisions.
ORACLES["clustering_silhouette"] = f"""
WITH {_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_cosine_similarity(e.v, c.cv), 6) AS cos_sim
  FROM e, cents c
),
top2 AS (
  SELECT vec_id, centroid_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, centroid_id ASC) AS rn
  FROM scored
),
per_vec AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN centroid_id END) AS cluster_id,
         max(CASE WHEN rn = 1
             THEN CAST(round((1 - cos_sim) * 1000000, 0) AS BIGINT) END) AS a_micro,
         max(CASE WHEN rn = 2
             THEN CAST(round((1 - cos_sim) * 1000000, 0) AS BIGINT) END) AS b_micro
  FROM top2 WHERE rn <= 2 GROUP BY 1
),
s AS (
  SELECT cluster_id,
         CASE WHEN b_micro - a_micro >= 0
              THEN ((b_micro - a_micro) * 1000000)
                   // greatest(greatest(a_micro, b_micro), 1)
              ELSE -(((a_micro - b_micro) * 1000000)
                     // greatest(greatest(a_micro, b_micro), 1))
         END AS s_micro
  FROM per_vec
)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(CASE WHEN sum(s_micro) >= 0 THEN sum(s_micro) // count(*)
            ELSE -((-sum(s_micro)) // count(*)) END AS BIGINT)
         AS mean_silhouette_micro
FROM s GROUP BY 1 ORDER BY 1
"""


# Per-cluster dedup-quality audit (operators/dedup.py
# cluster_coherence): the dedup_clusters_scalable oracle chain with
# jaccard carried into pairs, rolled up to density (triple-schoolbook)
# and mean verified jaccard per cluster.
ORACLES["cluster_coherence"] = f"""
WITH RECURSIVE {_SHINGLES},
hashes AS (
  SELECT doc_id, r.i AS i,
         min(substring(md5(CAST(r.i // 4 AS VARCHAR) || ':' || sh),
                       (r.i % 4) * 8 + 1, 8)) AS h
  FROM sh, range(0, 16) r(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(h, '|' ORDER BY i)) AS bucket
  FROM hashes GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) AS jaccard
  FROM cand c
  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 4) >= 0.1
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT DISTINCT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a, cc.label FROM edges e JOIN cc ON cc.doc_id = e.b
),
clusters AS (SELECT doc_id, min(label) AS cluster_id FROM cc GROUP BY 1),
members AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM clusters GROUP BY 1
),
per AS (
  SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(round(p.jaccard * 1000000, 0) AS BIGINT)) AS BIGINT) AS jsum
  FROM pairs p JOIN clusters cl ON cl.doc_id = p.doc_a
  GROUP BY 1
)
SELECT m.cluster_id, m.n_members, per.n_pairs,
       CAST(((2 * per.n_pairs) // (m.n_members * (m.n_members - 1))) * 1000000
            + (((2 * per.n_pairs) % (m.n_members * (m.n_members - 1))) * 1000
               // (m.n_members * (m.n_members - 1))) * 1000
            + ((((2 * per.n_pairs) % (m.n_members * (m.n_members - 1))) * 1000
                % (m.n_members * (m.n_members - 1))) * 1000)
              // (m.n_members * (m.n_members - 1)) AS BIGINT) AS density_micro,
       CAST(per.jsum // per.n_pairs AS BIGINT) AS mean_jaccard_micro
FROM members m JOIN per USING (cluster_id)
ORDER BY cluster_id
"""

# Hard-negative mining (operators/similarity.py hard_negatives): the
# capped two-level assignment CTEs + same-bucket different-label
# candidates, rn=1 per anchor (cos DESC, neg_id ASC).
ORACLES["hard_negatives"] = f"""
WITH {_VECS},
{_CAPPED_SUBBED},
lab AS (
  SELECT vec_id, CAST(coalesce(label, -1) AS BIGINT) AS label FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_id, la.label AS label,
         b.vec_id AS neg_id, lb.label AS neg_label,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
  FROM subbed a
  JOIN subbed b ON a.centroid_id = b.centroid_id AND a.sub_id = b.sub_id
               AND a.vec_id != b.vec_id
  JOIN lab la ON la.vec_id = a.vec_id
  JOIN lab lb ON lb.vec_id = b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE la.label != lb.label
),
ranked AS (
  SELECT vec_id, label, neg_id, neg_label, cos_sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neg_id ASC) AS rn
  FROM scored
)
SELECT vec_id, label, neg_id, neg_label, cos_sim FROM ranked WHERE rn = 1
"""


# Fuzzy vocabulary matching (operators/text.py vocab_nearest_typo):
# same length-band candidate rule expressed as a predicate join, same
# (distance, count DESC, term ASC) winner.
ORACLES["vocab_nearest_typo"] = """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS term
  FROM documents
),
vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term),
pairs AS (
  SELECT a.term AS a, a.cnt AS cnt_a, b.term AS b, b.cnt AS cnt_b,
         levenshtein(a.term, b.term) AS d
  FROM vocab a JOIN vocab b
    ON abs(length(a.term) - length(b.term)) <= 2 AND a.term <> b.term
  WHERE levenshtein(a.term, b.term) <= 2
),
ranked AS (
  SELECT a, cnt_a, b, cnt_b, d,
         row_number() OVER (PARTITION BY a ORDER BY d, cnt_b DESC, b) AS rn
  FROM pairs
)
SELECT a AS term, cnt_a AS n_occurrences, b AS neighbor,
       cnt_b AS neighbor_count, CAST(d AS INTEGER) AS distance
FROM ranked WHERE rn = 1
ORDER BY term
"""


# Per-source quantile normalization (operators/text.py
# quality_quantile_normalize): stopword-share micro score,
# row_number over (score, doc_id), milli rank, keep at >= 500.
ORACLES["quality_quantile_normalize"] = r"""
WITH base AS (
  SELECT doc_id, coalesce(source, 'unknown') AS source,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
         CAST(len(list_filter(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'),
              w -> w IN ('the','a','and','of','to','is','in','it'))) AS BIGINT) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         CASE WHEN n_tok = 0 THEN 0 ELSE (n_stop * 1000000) // n_tok END AS score_micro
  FROM base
),
ranked AS (
  SELECT doc_id, source, score_micro,
         row_number() OVER (PARTITION BY source ORDER BY score_micro, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
)
SELECT doc_id, source, CAST(score_micro AS BIGINT) AS score_micro,
       CAST(CASE WHEN n <= 1 THEN 1000 ELSE ((rn - 1) * 1000) // (n - 1) END AS BIGINT) AS rank_milli,
       CAST(CASE WHEN (CASE WHEN n <= 1 THEN 1000 ELSE ((rn - 1) * 1000) // (n - 1) END) >= 500
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM ranked
ORDER BY doc_id
"""


# Markov transitions (operators/users.py event_markov_transitions):
# lag over (ts NULLS FIRST, event_id) per user — the engine's stated
# order (Spark's ascending default) — milli row-normalization.
ORACLES["event_markov_transitions"] = """
WITH seq AS (
  SELECT event_type AS next_event,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_event
  FROM events WHERE user_id IS NOT NULL
),
counts AS (
  SELECT prev_event, next_event, CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_event IS NOT NULL
  GROUP BY prev_event, next_event
),
tot AS (SELECT prev_event, sum(n_transitions) AS row_total FROM counts GROUP BY prev_event)
SELECT c.prev_event, c.next_event, c.n_transitions,
       CAST((c.n_transitions * 1000) // t.row_total AS BIGINT) AS prob_milli
FROM counts c JOIN tot t USING (prev_event)
ORDER BY c.prev_event, c.next_event
"""


# Deterministic HLL (operators/users.py user_cardinality_hll): 36-bit
# md5 hash, 6-bit bucket / 30-bit suffix (default p_bits=6), rho via
# bin() length, exact integer estimate 709 * 4096 * 2^31 // S with S
# scaled by 2^(W+1)=2^31 (non-negative shifts even at rho=31; same
# floor as the 2^30 form). NULL event_type coalesces to 'unknown'
# before the per-type registers AND the exact counts, mirroring the
# engine's sentinel so the NULL group never collides with '__all__'.
ORACLES["user_cardinality_hll"] = """
WITH u AS (
  SELECT DISTINCT coalesce(event_type, 'unknown') AS event_type, user_id
  FROM events WHERE user_id IS NOT NULL
),
hv AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 9))::BIGINT AS hv
  FROM u
),
bs AS (
  SELECT event_type, hv // 1073741824 AS bucket, hv % 1073741824 AS suffix FROM hv
),
rho AS (
  SELECT event_type, bucket,
         CASE WHEN suffix = 0 THEN 31 ELSE 31 - length(bin(suffix)) END AS rho
  FROM bs
),
per_type AS (
  SELECT event_type AS scope, bucket, CAST(max(rho) AS BIGINT) AS reg
  FROM rho GROUP BY event_type, bucket
),
merged AS (SELECT '__all__' AS scope, bucket, max(reg) AS reg FROM per_type GROUP BY bucket),
regs AS (SELECT * FROM per_type UNION ALL SELECT * FROM merged),
sketch AS (
  SELECT scope, sum(1::BIGINT << CAST(31 - reg AS INTEGER)) AS s_hit,
         CAST(count(*) AS BIGINT) AS n_buckets_hit
  FROM regs GROUP BY scope
),
exact AS (
  SELECT coalesce(event_type, 'unknown') AS scope,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
  UNION ALL
  SELECT '__all__' AS scope, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL
)
SELECT e.scope, e.n_exact,
       CAST((2904064::BIGINT * 2147483648) // (s.s_hit + (64 - s.n_buckets_hit) * 2147483648::BIGINT) AS BIGINT)
         AS hll_estimate_milli,
       s.n_buckets_hit
FROM exact e JOIN sketch s ON e.scope = s.scope
ORDER BY e.scope
"""


# RRF hybrid retrieval (curation.py rrf_hybrid_search): the bm25_search
# CTE chain (n=20) + the ivf_knn chain (k=20), each ranked, fused by
# integer-micro 1e6 // (60 + rank), top 10.
ORACLES["rrf_hybrid_search"] = f"""
WITH toksb AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS sum_dl
  FROM toksb
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toksb)
  WHERE term IN ('spark', 'window', 'hash')
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
scoredx AS (
  SELECT tf.doc_id,
         CAST(round(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
         , 6) * 1e6 AS BIGINT) AS s_micro
  FROM tf JOIN dfs USING (term) CROSS JOIN stats
),
lex_top AS (
  SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro
  FROM scoredx GROUP BY 1
  ORDER BY bm25_micro DESC, doc_id ASC
  LIMIT 20
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rank_lex
  FROM lex_top
),
{_VECS},
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
probed AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id, round(list_cosine_similarity(c.cv, q.qv), 6) AS c_sim
    FROM cents c, q
    ORDER BY c_sim DESC, centroid_id ASC LIMIT 4
  )
),
sem_top AS (
  SELECT e.vec_id AS doc_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN probed p ON p.centroid_id = a.centroid_id, q
  ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20
),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank_sem
  FROM sem_top
),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         CAST(coalesce(rank_lex, 0) AS INTEGER) AS rank_lex,
         CAST(coalesce(rank_sem, 0) AS INTEGER) AS rank_sem,
         CAST(
           (CASE WHEN coalesce(rank_lex, 0) > 0
                 THEN 1000000 // (60 + rank_lex) ELSE 0 END)
           + (CASE WHEN coalesce(rank_sem, 0) > 0
                   THEN 1000000 // (60 + rank_sem) ELSE 0 END)
         AS BIGINT) AS rrf_micro
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT 10
"""


# Triplet mining (operators/similarity.py contrastive_triplets): the
# hard_negatives CTEs with BOTH rn=1 selections (same-label positive,
# different-label negative) joined; margin in exact integer micro.
ORACLES["contrastive_triplets"] = f"""
WITH {_VECS},
{_CAPPED_SUBBED},
lab AS (
  SELECT vec_id, CAST(coalesce(label, -1) AS BIGINT) AS label FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_id, la.label AS label,
         b.vec_id AS other_id, lb.label AS other_label,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
  FROM subbed a
  JOIN subbed b ON a.centroid_id = b.centroid_id AND a.sub_id = b.sub_id
               AND a.vec_id != b.vec_id
  JOIN lab la ON la.vec_id = a.vec_id
  JOIN lab lb ON lb.vec_id = b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
),
pos AS (
  SELECT vec_id, label, other_id AS pos_id, cos_sim AS cos_pos FROM (
    SELECT vec_id, label, other_id, cos_sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, other_id ASC) AS rn
    FROM scored WHERE label = other_label
  ) WHERE rn = 1
),
neg AS (
  SELECT vec_id, other_id AS neg_id, cos_sim AS cos_neg FROM (
    SELECT vec_id, other_id, cos_sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, other_id ASC) AS rn
    FROM scored WHERE label != other_label
  ) WHERE rn = 1
)
SELECT p.vec_id, p.label, p.pos_id, p.cos_pos, n.neg_id, n.cos_neg,
       CAST(round(p.cos_pos * 1e6) AS BIGINT) - CAST(round(n.cos_neg * 1e6) AS BIGINT)
         AS margin_micro
FROM pos p JOIN neg n USING (vec_id)
"""


# Link prediction (operators/tpch.py copurchase_link_prediction):
# min-support pruned co-purchase edges with counts, degree-capped
# adjacency (top-32 by count DESC, id ASC), two-hop common neighbors
# over non-edges, integer-milli Jaccard.
ORACLES["copurchase_link_prediction"] = """
WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS (
  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n
  FROM bk a JOIN bk b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
sym AS (
  SELECT part_a AS x, part_b AS y, n FROM cnt
  UNION ALL
  SELECT part_b AS x, part_a AS y, n FROM cnt
),
adj AS (
  SELECT x, y FROM (
    SELECT x, y, row_number() OVER (PARTITION BY x ORDER BY n DESC, y ASC) AS rk
    FROM sym
  ) WHERE rk <= 32
),
deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY x),
two_hop AS (
  SELECT a1.x AS a, a2.y AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM adj a1 JOIN adj a2 ON a1.y = a2.x
  WHERE a1.x < a2.y
  GROUP BY 1, 2
),
non_edges AS (
  SELECT t.a, t.b, t.common_neighbors
  FROM two_hop t
  WHERE NOT EXISTS (
    SELECT 1 FROM cnt c WHERE c.part_a = t.a AND c.part_b = t.b
  )
)
SELECT ne.a AS part_a, ne.b AS part_b, ne.common_neighbors,
       CAST((ne.common_neighbors * 1000)
            // (da.deg + db.deg - ne.common_neighbors) AS BIGINT) AS jaccard_milli
FROM non_edges ne
JOIN deg da ON da.x = ne.a
JOIN deg db ON db.x = ne.b
ORDER BY ne.common_neighbors DESC, jaccard_milli DESC, part_a, part_b
LIMIT 30
"""


# Filtered vector search (operators/similarity.py filtered_ivf_knn):
# ivf_knn CTEs + label predicate + selectivity-widened probe count
# n_probe_eff = min(16, ceil(1 * n_total / n_filtered)) via exact
# integer ceiling division.
ORACLES["filtered_ivf_knn"] = f"""
WITH {_VECS},
lab AS (
  SELECT vec_id, CAST(coalesce(label, -1) AS BIGINT) AS label FROM embeddings
),
sel AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(*) FILTER (WHERE label = 3) AS BIGINT) AS n_filtered
  FROM lab
),
eff AS (
  SELECT CASE WHEN n_filtered = 0 THEN 0
              ELSE least(16, (1 * n_total + n_filtered - 1) // n_filtered)
         END AS n_probe_eff
  FROM sel
),
cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
probed AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC,
                      c.centroid_id ASC
           ) AS rn
    FROM cents c, q
  ), eff WHERE rn <= n_probe_eff
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.centroid_id ASC
           ) AS rn
    FROM e JOIN lab l ON l.vec_id = e.vec_id AND l.label = 3, cents c
  ) WHERE rn = 1
)
SELECT e.vec_id AS vec_id, l.label AS label,
       round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
FROM e
JOIN lab l ON l.vec_id = e.vec_id AND l.label = 3
JOIN assigned a ON a.vec_id = e.vec_id
JOIN probed p ON p.centroid_id = a.centroid_id, q
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
"""


# CUSUM changepoint (operators/users.py event_volume_changepoint):
# day-granular counts, D-scaled integer deviations, running sums,
# max-|CUSUM| day (earliest tie).
ORACLES["event_volume_changepoint"] = """
WITH daily AS (
  -- F3: an event without an event time has no day
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_days
  FROM daily
),
cusum AS (
  SELECT d, n, total, n_days,
         CAST(sum(n * n_days - total) OVER
              (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cusum,
         CAST(sum(n) OVER
              (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_n,
         row_number() OVER (ORDER BY d) AS rn
  FROM daily CROSS JOIN tot
)
SELECT d AS split_day, n_days, CAST(abs(cusum) AS BIGINT) AS cusum_abs_max,
       CAST((cum_n * 1000000) // rn AS BIGINT) AS mean_before_micro,
       CAST(CASE WHEN n_days = rn THEN 0
                 ELSE ((total - cum_n) * 1000000) // (n_days - rn) END
        AS BIGINT) AS mean_after_micro
FROM cusum ORDER BY abs(cusum) DESC, d ASC LIMIT 1
"""


# k-anonymity audit (operators/tpch.py k_anonymity_audit): quasi-id
# group sizes under k over the bounded (nation, segment) domain.
ORACLES["k_anonymity_audit"] = """
SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_size
FROM customer
GROUP BY c_nationkey, c_mktsegment
HAVING count(*) < 10
ORDER BY group_size, c_nationkey, c_mktsegment
"""


def _kcenter_oracle(k: int = 8) -> str:
    """Greedy k-center replayed as an unrolled CTE chain (the
    _kmeans_oracle discipline): integer micro distances after the 6-dp
    cosine round, min-over-chosen-set, argmax with lowest-vec_id ties."""
    dmic = (
        "1000000 - CAST(round(round(list_cosine_similarity(e.v, c.v), 6)"
        " * 1e6, 0) AS BIGINT)"
    )
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)",
        "p1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "cset1 AS (SELECT vec_id, v FROM p1)",
        "out1 AS (SELECT 1 AS rank, vec_id, CAST(0 AS BIGINT) AS dist_micro FROM p1)",
    ]
    for r in range(2, k + 1):
        parts.append(f"""d{r} AS (
  SELECT e.vec_id, min({dmic}) AS dm
  FROM e CROSS JOIN cset{r - 1} c GROUP BY e.vec_id
)""")
        parts.append(
            f"p{r} AS (SELECT vec_id, dm FROM d{r} ORDER BY dm DESC, vec_id ASC LIMIT 1)"
        )
        parts.append(f"""cset{r} AS (
  SELECT vec_id, v FROM cset{r - 1}
  UNION ALL
  SELECT p.vec_id, e.v FROM p{r} p JOIN e ON e.vec_id = p.vec_id
)""")
        parts.append(
            f"out{r} AS (SELECT {r} AS rank, vec_id, CAST(dm AS BIGINT) AS dist_micro"
            f" FROM p{r} WHERE dm > 0)"
        )
    body = ",\n".join(parts)
    union = "\nUNION ALL\n".join(f"SELECT * FROM out{r}" for r in range(1, k + 1))
    return f"""
WITH {body}
SELECT CAST(rank AS INTEGER) AS rank, vec_id, dist_micro FROM ({union})
ORDER BY rank
"""


ORACLES["coreset_selection"] = _kcenter_oracle()


# Per-dimension embedding health (operators/similarity.py
# embedding_dimension_health): component micro/milli roundings, the
# schoolbook two-step variance, dead flag at milli-quantization floor.
ORACLES["embedding_dimension_health"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (
  -- aligned unnests over the ACTUAL vector length (generate_subscripts
  -- zips with unnest in DuckDB), mirroring the engine's posexplode —
  -- a hard-coded range(64) would index past non-64-d embeddings and
  -- inject NULL components the engine never sees
  SELECT CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS pos,
         CAST(round(unnest(v) * 1e6, 0) AS BIGINT) AS s_micro,
         CAST(round(unnest(v) * 1e3, 0) AS BIGINT) AS s_milli
  FROM e
),
agg AS (
  SELECT pos, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(s_micro) AS BIGINT) AS sum_micro,
         CAST(sum(s_milli) AS BIGINT) AS sum_milli,
         CAST(sum(s_milli * s_milli) AS BIGINT) AS sum_sq_milli
  FROM ex GROUP BY pos
)
SELECT pos, n_vectors,
       CAST(sum_micro // n_vectors AS BIGINT) AS mean_micro,
       CAST((sum_sq_milli // n_vectors)
            - (sum_milli // n_vectors) * (sum_milli // n_vectors) AS BIGINT)
         AS var_milli2,
       CAST(CASE WHEN (sum_sq_milli // n_vectors)
                      - (sum_milli // n_vectors) * (sum_milli // n_vectors) <= 0
                 THEN 1 ELSE 0 END AS INTEGER) AS is_dead
FROM agg ORDER BY pos
"""


# Content-defined chunking (operators/text.py cdc_chunks): a token's
# chunk is the count of boundary tokens strictly BEFORE it; hashes of
# the space-joined chunk content.
ORACLES["cdc_chunks"] = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
flat AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1),
                               i -> struct_pack(pos := i, w := t[i]))) AS u
  FROM toks WHERE len(t) > 0
),
flags AS (
  SELECT doc_id, u.pos AS pos, u.w AS w,
         CASE WHEN ('0x' || substr(md5(u.w), 1, 8))::BIGINT % 8 = 0
              THEN 1 ELSE 0 END AS b
  FROM flat
),
cid AS (
  SELECT doc_id, pos, w,
         CAST(coalesce(sum(b) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS INTEGER) AS chunk_idx
  FROM flags
)
SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
FROM cid
GROUP BY doc_id, chunk_idx
ORDER BY doc_id, chunk_idx
"""


# Deterministic Poisson bootstrap (operators/users.py
# bootstrap_revenue_ci): two md5 digests per row sliced into sixteen
# 16-bit uniforms -> Poisson(1) inverse-CDF weights, 16 replicate
# totals, order statistics 2 and 15.
ORACLES["bootstrap_revenue_ci"] = """
WITH base AS (
  SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events
),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS point_cents
  FROM base
),
draws AS (
  SELECT t.b AS b, cents,
         ('0x' || substr(
            md5(CAST(event_id AS VARCHAR) || ':a') || md5(CAST(event_id AS VARCHAR) || ':b'),
            4 * t.b + 1, 4))::BIGINT AS u
  FROM base CROSS JOIN range(16) t(b)
),
rep AS (
  SELECT b,
         CAST(sum((CASE WHEN u < 24109 THEN 0
                        WHEN u < 48218 THEN 1
                        WHEN u < 60273 THEN 2
                        WHEN u < 64291 THEN 3
                        WHEN u < 65296 THEN 4
                        ELSE 5 END) * cents) AS BIGINT) AS total
  FROM draws GROUP BY b
),
ranked AS (
  SELECT total, row_number() OVER (ORDER BY total, b) AS rk FROM rep
)
SELECT pt.n_events, pt.point_cents,
       CAST((SELECT sum(total) FROM rep) // 16 AS BIGINT) AS boot_mean_cents,
       CAST((SELECT max(total) FROM ranked WHERE rk = 2) AS BIGINT) AS boot_lo_cents,
       CAST((SELECT max(total) FROM ranked WHERE rk = 15) AS BIGINT) AS boot_hi_cents
FROM pt
"""


# k-core peeling (operators/tpch.py basket_kcore): the same fixed
# simultaneous-peel rounds unrolled (kmeans discipline).
ORACLES["basket_kcore"] = """
WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b
  FROM bk a JOIN bk b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
e0 AS MATERIALIZED (
  SELECT part_a AS x, part_b AS y FROM cnt
  UNION ALL
  SELECT part_b AS x, part_a AS y FROM cnt
),
k1 AS MATERIALIZED (
  SELECT x FROM e0 GROUP BY x HAVING count(*) >= 3
),
e1 AS MATERIALIZED (
  SELECT e.x, e.y FROM e0 e
  JOIN k1 a ON a.x = e.x
  JOIN k1 b ON b.x = e.y
),
k2 AS MATERIALIZED (
  SELECT x FROM e1 GROUP BY x HAVING count(*) >= 3
),
e2 AS MATERIALIZED (
  SELECT e.x, e.y FROM e1 e
  JOIN k2 a ON a.x = e.x
  JOIN k2 b ON b.x = e.y
),
k3 AS MATERIALIZED (
  SELECT x FROM e2 GROUP BY x HAVING count(*) >= 3
),
e3 AS MATERIALIZED (
  SELECT e.x, e.y FROM e2 e
  JOIN k3 a ON a.x = e.x
  JOIN k3 b ON b.x = e.y
),
k4 AS MATERIALIZED (
  SELECT x FROM e3 GROUP BY x HAVING count(*) >= 3
),
e4 AS MATERIALIZED (
  SELECT e.x, e.y FROM e3 e
  JOIN k4 a ON a.x = e.x
  JOIN k4 b ON b.x = e.y
),
k5 AS MATERIALIZED (
  SELECT x FROM e4 GROUP BY x HAVING count(*) >= 3
),
e5 AS MATERIALIZED (
  SELECT e.x, e.y FROM e4 e
  JOIN k5 a ON a.x = e.x
  JOIN k5 b ON b.x = e.y
),
k6 AS MATERIALIZED (
  SELECT x FROM e5 GROUP BY x HAVING count(*) >= 3
),
e6 AS MATERIALIZED (
  SELECT e.x, e.y FROM e5 e
  JOIN k6 a ON a.x = e.x
  JOIN k6 b ON b.x = e.y
),
k7 AS MATERIALIZED (
  SELECT x FROM e6 GROUP BY x HAVING count(*) >= 3
),
e7 AS MATERIALIZED (
  SELECT e.x, e.y FROM e6 e
  JOIN k7 a ON a.x = e.x
  JOIN k7 b ON b.x = e.y
),
k8 AS MATERIALIZED (
  SELECT x FROM e7 GROUP BY x HAVING count(*) >= 3
),
e8 AS MATERIALIZED (
  SELECT e.x, e.y FROM e7 e
  JOIN k8 a ON a.x = e.x
  JOIN k8 b ON b.x = e.y
)
SELECT x AS node, CAST(count(*) AS BIGINT) AS degree
FROM e8
GROUP BY x
ORDER BY node
"""


# Forecast backtest (operators/tpch.py forecast_backtest): monthly
# cents totals, lag-1 / lag-12 predictions, two-step integral MAPE
# and bias over the evaluated months.
ORACLES["forecast_backtest"] = """
WITH monthly AS (
  SELECT date_trunc('month', l_shipdate) AS m,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
),
lagged AS (
  SELECT m, cents,
         lag(cents, 1) OVER (ORDER BY m) AS p1,
         lag(cents, 12) OVER (ORDER BY m) AS p12
  FROM monthly
),
s1 AS (
  SELECT 'naive_1' AS method, CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum((abs(cents - p1) * 1000000) // cents) // count(*) AS BIGINT) AS mape_micro,
         CAST(sum(((p1 - cents) * 1000000) // cents) // count(*) AS BIGINT) AS bias_micro
  FROM lagged WHERE p1 IS NOT NULL AND cents > 0
),
s12 AS (
  SELECT 'naive_12' AS method, CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum((abs(cents - p12) * 1000000) // cents) // count(*) AS BIGINT) AS mape_micro,
         CAST(sum(((p12 - cents) * 1000000) // cents) // count(*) AS BIGINT) AS bias_micro
  FROM lagged WHERE p12 IS NOT NULL AND cents > 0
)
SELECT * FROM s1 UNION ALL SELECT * FROM s12 ORDER BY method
"""


# LOO target encoding (operators/users.py loo_target_encoding):
# per-type sums joined back, (sum - own)*1000 // (n - 1) with the
# global fallback chain.
ORACLES["loo_target_encoding"] = """
WITH base AS (
  SELECT event_id, coalesce(event_type, 'unknown') AS event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
per_type AS (
  SELECT event_type, CAST(sum(cents) AS BIGINT) AS t_sum,
         CAST(count(*) AS BIGINT) AS t_n
  FROM base GROUP BY event_type
),
g_all AS (
  SELECT CAST(sum(cents) AS BIGINT) AS g_sum, CAST(count(*) AS BIGINT) AS g_n
  FROM base
)
SELECT b.event_id, b.event_type, b.cents,
       CAST(CASE WHEN t.t_n > 1 THEN ((t.t_sum - b.cents) * 1000) // (t.t_n - 1)
                 WHEN g.g_n > 1 THEN ((g.g_sum - b.cents) * 1000) // (g.g_n - 1)
                 ELSE 0 END AS BIGINT) AS loo_mean_millicents
FROM base b JOIN per_type t USING (event_type) CROSS JOIN g_all g
ORDER BY b.event_id
"""


# Event trigrams (operators/users.py event_trigrams): double lag over
# (ts, event_id) per user, top 20 paths.
ORACLES["event_trigrams"] = """
WITH seq AS (
  SELECT lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         event_type AS e3
  FROM events WHERE user_id IS NOT NULL
)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
FROM seq WHERE e1 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n_paths DESC, e1, e2, e3
LIMIT 20
"""
