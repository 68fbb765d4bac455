"""DuckDB oracle SQL for every relational operator in ``relational.py``.

Each SQL string is the ANSI equivalent of the Spark plan with identical
output column names and value formatting (floats rounded to the same
precision, timestamps emitted as epoch seconds or formatted strings), so
the driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

RELATIONAL_ORACLES: dict[str, str] = {}


def oracle(name: str):
    def deco(sql: str) -> str:
        RELATIONAL_ORACLES[name] = sql
        return sql
    return deco


RELATIONAL_ORACLES["batch_stats"] = """
SELECT CAST(floor(epoch(ts)/5)*5 AS BIGINT) AS window_start,
       event_type,
       count(*) AS cnt,
       round(sum(value), 6) AS sum_v,
       round(avg(value), 6) AS mean_v,
       coalesce(round(stddev_pop(value), 6), 0.0) AS stddev_v
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

RELATIONAL_ORACLES["parse_filter"] = r"""
WITH parsed AS (
  SELECT event_id,
         TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
  FROM events
)
SELECT event_id, k FROM parsed
WHERE k IS NOT NULL AND k % 2 = 0
ORDER BY event_id
"""

RELATIONAL_ORACLES["tsv_format"] = """
SELECT event_id,
       concat_ws(chr(9), CAST(event_id AS VARCHAR), '0', event_type,
                 CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)) AS line
FROM events
ORDER BY event_id
"""

RELATIONAL_ORACLES["time_shift"] = """
SELECT event_id,
       CAST((epoch_us(ts) - (SELECT min(epoch_us(ts)) FROM events)) // 1000
            AS BIGINT) AS rel_ms
FROM events
ORDER BY event_id
"""

RELATIONAL_ORACLES["unit_norm"] = """
SELECT event_id,
       round(CASE WHEN event_type = 'error' THEN value * 1024
                  ELSE value END, 6) AS value_kb
FROM events
ORDER BY event_id
"""

# running sum accumulates in DECIMAL in both engines (exact, order-
# independent) so the Spark side's two-phase re-association cannot
# drift; one double cast before the 6 dp round.
RELATIONAL_ORACLES["cumulative_counts"] = """
SELECT event_id, event_type,
       count(*) OVER w AS running_cnt,
       round(CAST(sum(CAST(value AS DECIMAL(28,9))) OVER w AS DOUBLE), 6)
         AS running_sum
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""

RELATIONAL_ORACLES["value_histogram"] = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS cnt
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

RELATIONAL_ORACLES["per_minute_rollup"] = """
SELECT CAST(floor(epoch(ts)/60)*60 AS BIGINT) AS minute_start,
       user_id, count(*) AS cnt, round(sum(value), 6) AS sum_v
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

RELATIONAL_ORACLES["dedup_first"] = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, value FROM ranked
WHERE rn = 1 ORDER BY user_id
"""

RELATIONAL_ORACLES["pivot_counts"] = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS "view"
FROM events
GROUP BY user_id
ORDER BY user_id
"""

RELATIONAL_ORACLES["minmax_union"] = """
WITH allt AS (
  SELECT ts AS t FROM events
  UNION ALL SELECT o_orderdate FROM orders
  UNION ALL SELECT l_shipdate FROM lineitem
)
SELECT CAST(floor(epoch(min(t))) AS BIGINT) AS min_ts,
       CAST(floor(epoch(max(t))) AS BIGINT) AS max_ts
FROM allt
"""

RELATIONAL_ORACLES["distinct_keys"] = """
SELECT DISTINCT id FROM (
  SELECT user_id AS id FROM events
  UNION ALL SELECT c_custkey FROM customer
) ORDER BY id
"""

RELATIONAL_ORACLES["topk_per_group"] = """
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rk
  FROM events
)
SELECT event_type, rk, event_id, value FROM ranked
WHERE rk <= 3 ORDER BY event_type, rk
"""

RELATIONAL_ORACLES["rollup_join"] = """
WITH p AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), e AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_error
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT coalesce(p.day, e.day) AS day,
       coalesce(n_purchase, 0) AS n_purchase,
       coalesce(n_error, 0) AS n_error
FROM p FULL OUTER JOIN e ON p.day = e.day
ORDER BY day
"""

RELATIONAL_ORACLES["star_join"] = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

RELATIONAL_ORACLES["semi_anti_join"] = """
WITH w AS (
  SELECT c_mktsegment, count(*) AS n_with_orders
  FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY 1
), wo AS (
  SELECT c_mktsegment, count(*) AS n_without_orders
  FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY 1
)
SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
       coalesce(n_with_orders, 0) AS n_with_orders,
       coalesce(n_without_orders, 0) AS n_without_orders
FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
ORDER BY c_mktsegment
"""

RELATIONAL_ORACLES["tpch_q1"] = """
WITH l AS (
  SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice, l_discount,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc,
         CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(round(CAST(sum(qty) AS DECIMAL(20,0)) * 0.01, 2) AS DOUBLE) AS sum_qty,
       CAST(round(CAST(sum(price) AS DECIMAL(20,0)) * 0.01, 2) AS DOUBLE) AS sum_base_price,
       CAST(round(CAST(sum(price * (100 - disc)) AS DECIMAL(20,0)) * 0.0001, 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(round(CAST(sum(price * (100 - disc) * (100 + tax)) AS DECIMAL(20,0))
                  * 0.000001, 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

RELATIONAL_ORACLES["tpch_q3"] = """
SELECT l_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

RELATIONAL_ORACLES["tpch_q5"] = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

RELATIONAL_ORACLES["tpch_q10"] = """
SELECT c_custkey, c_name, n_name,
       round(c_acctbal, 2) AS c_acctbal,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

RELATIONAL_ORACLES["tpch_q18"] = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 150)
SELECT c_custkey, c_name, l_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
       round(o_totalprice, 2) AS o_totalprice,
       total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, l_orderkey
LIMIT 100
"""

RELATIONAL_ORACLES["skew_salted_agg"] = """
SELECT event_type, count(*) AS cnt, round(sum(value), 6) AS sum_v
FROM events GROUP BY event_type ORDER BY event_type
"""

RELATIONAL_ORACLES["skew_salted_join"] = """
SELECT e.user_id, c.c_name,
       count(*) AS n_events,
       round(sum(e.value), 6) AS sum_v
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY 1
"""

RELATIONAL_ORACLES["value_percentiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""

RELATIONAL_ORACLES["tpch_q12"] = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus ORDER BY l_linestatus
"""

RELATIONAL_ORACLES["tpch_q14"] = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
"""

RELATIONAL_ORACLES["tpch_q17"] = """
WITH per_part AS (
  SELECT l_partkey AS pk, avg(l_quantity) * 0.2 AS qty_cut
  FROM lineitem GROUP BY l_partkey)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_items
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < qty_cut
"""

RELATIONAL_ORACLES["tpch_q19"] = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""

RELATIONAL_ORACLES["sliding_window_stats"] = """
WITH expanded AS (
  SELECT unnest([
           (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300,
           (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 - 300
         ]) AS window_start,
         event_type, value
  FROM events)
SELECT window_start, event_type,
       count(*) AS cnt, round(sum(value), 6) AS sum_v
FROM expanded
GROUP BY 1, 2 ORDER BY 1, 2
"""

RELATIONAL_ORACLES["approx_distinct_users"] = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       true AS within_10pct
FROM events GROUP BY event_type ORDER BY event_type
"""

RELATIONAL_ORACLES["hll_user_overlap"] = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
base AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         FROM events GROUP BY event_type),
inter AS (
  SELECT x.event_type AS type_1, y.event_type AS type_2,
         count(*) AS exact_overlap
  FROM du x JOIN du y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2)
SELECT a.event_type AS type_1, b.event_type AS type_2,
       a.exact_users AS users_1, b.exact_users AS users_2,
       coalesce(i.exact_overlap, 0) AS exact_overlap,
       true AS within_10pct
FROM base a
JOIN base b ON a.event_type < b.event_type
LEFT JOIN inter i ON i.type_1 = a.event_type AND i.type_2 = b.event_type
ORDER BY type_1, type_2
"""

RELATIONAL_ORACLES["tpch_q6"] = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

RELATIONAL_ORACLES["set_ops"] = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
UNION ALL
SELECT user_id, 'click_only' FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
UNION ALL
SELECT user_id, 'purchase_only' FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)
ORDER BY cohort, user_id
"""

RELATIONAL_ORACLES["window_functions"] = """
SELECT event_id,
       lag(value) OVER u AS prev_v,
       lead(value) OVER u AS next_v,
       rank() OVER t AS value_rank,
       ntile(4) OVER t AS quartile
FROM events
WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id),
       t AS (PARTITION BY event_type ORDER BY value DESC, event_id)
ORDER BY event_id
"""

# HAVING cnt > 0 pins the engine's empty-input semantics: Spark's
# cube()/rollup() emit NO rows over an empty relation, while ANSI
# GROUP BY CUBE emits the () grouping set's cnt=0 grand total. Every
# grouping-set row over non-empty input has cnt >= 1, so the clause
# only bites on the degenerate empty feed (r9 degenerate-input sweep).
RELATIONAL_ORACLES["cube_agg"] = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING count(*) > 0
ORDER BY l_returnflag, l_linestatus
"""

RELATIONAL_ORACLES["unpivot_events"] = """
SELECT user_id, event_type, count(*) AS cnt
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""

RELATIONAL_ORACLES["order_priority_count"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# ---------------------------------------------------------------------------
# TPC-H completion (q2..q22 adapted — see relational.py for the schema
# adaptations: lineitem bridge = partsupp, late = shipped > N days after
# order date, nation keys = country codes)
# ---------------------------------------------------------------------------

RELATIONAL_ORACLES["tpch_q2"] = """
WITH supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), parts AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_type = 'STANDARD' AND p_size >= 40
), bridge AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), cand AS (
  SELECT p.p_partkey, p.p_brand, s.s_name, s.s_acctbal, s.n_name
  FROM bridge b
  JOIN parts p ON b.l_partkey = p.p_partkey
  JOIN supp s ON b.l_suppkey = s.s_suppkey
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_brand
FROM cand c
WHERE s_acctbal = (SELECT min(s_acctbal) FROM cand c2
                   WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

RELATIONAL_ORACLES["tpch_q4"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

RELATIONAL_ORACLES["tpch_q7"] = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

RELATIONAL_ORACLES["tpch_q8"] = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_5'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM customer c
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE c.c_custkey = o_custkey AND r.r_name = 'ASIA')
GROUP BY 1 ORDER BY 1
"""

RELATIONAL_ORACLES["tpch_q9"] = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY 1, 2 DESC
"""

RELATIONAL_ORACLES["tpch_q13"] = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""

RELATIONAL_ORACLES["tpch_q15"] = """
WITH revenue AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

RELATIONAL_ORACLES["tpch_q16"] = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
JOIN part ON b.l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND b.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

RELATIONAL_ORACLES["tpch_q20"] = """
WITH li97 AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
), per_part AS (
  SELECT l_partkey, sum(pair_qty) AS part_qty FROM li97 GROUP BY 1
)
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM li97 JOIN per_part USING (l_partkey)
  WHERE pair_qty > 0.5 * part_qty
)
ORDER BY s_name
"""

RELATIONAL_ORACLES["tpch_q21"] = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM li GROUP BY 1
)
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey FROM li
  WHERE late AND l_orderkey IN
    (SELECT l_orderkey FROM per_order WHERE n_supp > 1 AND n_late = 1)
) w
JOIN supplier ON w.l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

RELATIONAL_ORACLES["tpch_q11"] = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS value_dec
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
  )
  GROUP BY 1
)
SELECT l_partkey,
       CAST(round(value_dec, 2) AS DOUBLE) AS part_value
FROM per_part
WHERE value_dec * 1000 > (SELECT sum(value_dec) FROM per_part)
ORDER BY part_value DESC, l_partkey
"""

RELATIONAL_ORACLES["tpch_q22"] = """
WITH cust AS (
  SELECT * FROM customer
  WHERE c_nationkey IN (0, 3, 6, 9, 12, 15, 18)
)
SELECT c_nationkey, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM cust c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cust WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey ORDER BY c_nationkey
"""

# HAVING cnt > 0: same empty-input pin as cube_agg above
RELATIONAL_ORACLES["rollup_agg"] = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       round(sum(l_extendedprice), 2) AS sum_price,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING count(*) > 0
ORDER BY gid, l_returnflag, l_linestatus
"""

RELATIONAL_ORACLES["approx_percentiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       true AS a50_ok,
       true AS a95_ok
FROM events GROUP BY event_type ORDER BY event_type
"""

RELATIONAL_ORACLES["grouping_sets_agg"] = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       round(sum(l_quantity), 2) AS sum_qty,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
ORDER BY gid, l_returnflag, l_linestatus
"""

# numeric columns: native min/max through a shared explicit printf
# format (+0.0 normalizes IEEE -0.0) — engine-default double->VARCHAR
# casts diverge once scientific notation appears
RELATIONAL_ORACLES["table_profile"] = "\nUNION ALL ".join(
    f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
    f"count(*) - count({c}) AS n_nulls, "
    f"count(DISTINCT {c}) AS n_distinct, "
    + (
        f"printf('%.6f', min({c}) + CAST(0 AS DOUBLE)) AS min_s, "
        f"printf('%.6f', max({c}) + CAST(0 AS DOUBLE)) AS max_s FROM events"
        if c == "value"
        else f"min(CAST({c} AS VARCHAR)) AS min_s, "
             f"max(CAST({c} AS VARCHAR)) AS max_s FROM events"
    )
    for c in ("event_id", "user_id", "event_type", "value", "props")
) + "\nORDER BY column_name"

RELATIONAL_ORACLES["snapshot_diff"] = """
WITH a AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents_a
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) * 11 // 10
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents_b
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
d AS (
  SELECT CASE WHEN cents_a IS NULL THEN 'added'
              WHEN cents_b IS NULL THEN 'removed'
              WHEN cents_a <> cents_b THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         abs(coalesce(cents_b, 0) - coalesce(cents_a, 0)) AS drift_cents
  FROM a FULL OUTER JOIN b USING (o_orderkey))
SELECT change_type, count(*) AS n_keys,
       round(sum(drift_cents) / 100.0, 2) AS abs_price_drift
FROM d GROUP BY change_type ORDER BY change_type
"""

RELATIONAL_ORACLES["dq_report"] = """
WITH checks AS (
  SELECT 'orders' AS table_name, 'totalprice_positive' AS check_name,
         CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders', 'orderdate_in_range',
         CAST(count(*) FILTER (o_orderdate NOT BETWEEN
              TIMESTAMP '1992-01-01 00:00:00'
              AND TIMESTAMP '1998-12-31 23:59:59') AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'priority_not_null',
         CAST(count(*) FILTER (o_orderpriority IS NULL) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'orderkey_unique',
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem', 'discount_in_range',
         CAST(count(*) FILTER (l_discount NOT BETWEEN 0.0 AND 0.1)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'quantity_at_most_30',
         CAST(count(*) FILTER (l_quantity > 30) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'shipdate_not_null',
         CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'orderkey_references_orders',
         CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT)
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'customer', 'custkey_unique',
         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'events', 'value_non_negative',
         CAST(count(*) FILTER (value < 0) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events', 'user_id_not_null',
         CAST(count(*) FILTER (user_id IS NULL) AS BIGINT)
  FROM events)
SELECT table_name, check_name, n_violations, n_violations = 0 AS passed
FROM checks ORDER BY table_name, check_name
"""

RELATIONAL_ORACLES["scd2_build"] = """
WITH o AS (
  SELECT o_custkey AS custkey, epoch_ms(o_orderdate) AS obs_ms,
         o_orderpriority AS segment, o_orderkey
  FROM orders),
marked AS (
  SELECT *, CASE WHEN lag(segment) OVER w IS NULL
                   OR lag(segment) OVER w <> segment
                 THEN 1 ELSE 0 END AS chg
  FROM o
  WINDOW w AS (PARTITION BY custkey ORDER BY obs_ms, o_orderkey)),
runs AS (SELECT * FROM marked WHERE chg = 1)
SELECT custkey,
       CAST(row_number() OVER w AS BIGINT) AS version_no,
       segment,
       obs_ms AS valid_from_ms,
       lead(obs_ms) OVER w AS valid_to_ms,
       lead(obs_ms) OVER w IS NULL AS is_current
FROM runs
WINDOW w AS (PARTITION BY custkey ORDER BY obs_ms, o_orderkey)
ORDER BY custkey, version_no
"""

RELATIONAL_ORACLES["partition_skew_report"] = """
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
agg AS (
  SELECT count(*) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         max(cnt) AS max_key_rows,
         quantile_cont(cnt, 0.5) AS p50_key_rows,
         quantile_cont(cnt, 0.99) AS p99_key_rows,
         sum(cnt * ln(cnt)) AS clnc
  FROM counts)
SELECT n_keys, n_rows, max_key_rows,
       round(p50_key_rows, 6) AS p50_key_rows,
       round(p99_key_rows, 6) AS p99_key_rows,
       round(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top_key_share,
       round(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 6)
         AS skew_ratio,
       round(ln(n_rows) - clnc / n_rows, 6) AS key_entropy,
       CAST(ceil(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows)
            AS INTEGER) AS salt_factor
FROM agg
"""

RELATIONAL_ORACLES["upsert_merge"] = """
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents_base
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
updates AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) * 11 // 10
              ELSE CAST(round(o_totalprice * 100) AS BIGINT)
         END AS cents_upd
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
SELECT coalesce(b.o_orderkey, u.o_orderkey) AS o_orderkey,
       coalesce(u.cents_upd, b.cents_base) AS cents,
       CASE WHEN b.cents_base IS NULL THEN 'insert'
            WHEN u.cents_upd IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
ORDER BY o_orderkey
"""

RELATIONAL_ORACLES["json_extract_stats"] = """
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events)
SELECT event_type,
       count(*) AS n_rows,
       count(k) AS n_parsed,
       min(k) AS min_k,
       max(k) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 6) AS avg_k
FROM parsed
GROUP BY event_type
ORDER BY event_type
"""

# value IS NOT NULL in both engines: a NULL measurement must not be
# counted as a top-bin observation (it otherwise rides the same
# NULL-quotient + NULL-skipping-least() path as the hi==lo case)
RELATIONAL_ORACLES["column_histograms"] = """
WITH filtered AS (SELECT value FROM events WHERE value IS NOT NULL),
bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM filtered),
binned AS (
  SELECT least(19, CAST(floor((value - lo) / ((hi - lo) / 20)) AS INTEGER))
           AS bin,
         lo, hi
  FROM filtered CROSS JOIN bounds)
SELECT bin,
       lo + bin * ((hi - lo) / 20) AS bin_lo,
       lo + (bin + 1) * ((hi - lo) / 20) AS bin_hi,
       count(*) AS cnt
FROM binned
GROUP BY bin, lo, hi
ORDER BY bin
"""

# the oracle states WHAT the two-pass median must equal — the rank
# ceil(n/2) element in (value, event_id) order — not how it's found
RELATIONAL_ORACLES["exact_median_twopass"] = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type, n AS n_rows, value AS median
FROM ranked
WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
ORDER BY event_type
"""


RELATIONAL_ORACLES["scd2_pointintime_join"] = """
WITH dim AS (
  SELECT * FROM (
WITH o AS (
  SELECT o_custkey AS custkey, epoch_ms(o_orderdate) AS obs_ms,
         o_orderpriority AS segment, o_orderkey
  FROM orders),
marked AS (
  SELECT *, CASE WHEN lag(segment) OVER w IS NULL
                   OR lag(segment) OVER w <> segment
                 THEN 1 ELSE 0 END AS chg
  FROM o
  WINDOW w AS (PARTITION BY custkey ORDER BY obs_ms, o_orderkey)),
runs AS (SELECT * FROM marked WHERE chg = 1)
SELECT custkey,
       CAST(row_number() OVER w AS BIGINT) AS version_no,
       segment,
       obs_ms AS valid_from_ms,
       lead(obs_ms) OVER w AS valid_to_ms,
       lead(obs_ms) OVER w IS NULL AS is_current
FROM runs
WINDOW w AS (PARTITION BY custkey ORDER BY obs_ms, o_orderkey)
ORDER BY custkey, version_no
  )),
facts AS (
  SELECT o_custkey, epoch_ms(o_orderdate) AS t,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT d.segment,
       count(*) AS n_orders,
       CAST(sum(f.cents) AS BIGINT) AS revenue_cents
FROM facts f
JOIN dim d ON f.o_custkey = d.custkey
WHERE f.t >= d.valid_from_ms
  AND (d.valid_to_ms IS NULL OR f.t < d.valid_to_ms)
GROUP BY d.segment
ORDER BY d.segment
"""


RELATIONAL_ORACLES["bootstrap_ci"] = """
WITH rep AS (
  SELECT b,
         CAST(sum(w * CAST(value AS DECIMAL(28,9))) AS DOUBLE)
           / sum(w) AS m
  FROM (
    SELECT event_id, value, b, CASE WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.36787944117144233 THEN 0 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.7357588823428847 THEN 1 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.9196986029286058 THEN 2 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.9810118431238462 THEN 3 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.9963401531726563 THEN 4 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.9994058151824183 THEN 5 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.9999167588507119 THEN 6 WHEN (('0x' || substr(md5(event_id || '_' || b), 1, 15))::BIGINT / CAST(1152921504606846976 AS DOUBLE)) < 0.9999897508033253 THEN 7 ELSE 8 END AS w
    FROM events CROSS JOIN range(1, 65) t(b))
  GROUP BY b),
point AS (
  SELECT round(CAST(sum(CAST(value AS DECIMAL(28,9))) AS DOUBLE)
               / count(*), 6) AS point_mean,
         count(*) AS n_rows
  FROM events),
ci AS (
  SELECT round(quantile_cont(m, 0.025), 6) AS ci_lo,
         round(quantile_cont(m, 0.975), 6) AS ci_hi,
         count(*) AS n_replicates
  FROM rep)
SELECT n_rows, point_mean, n_replicates, ci_lo, ci_hi
FROM point CROSS JOIN ci
"""

RELATIONAL_ORACLES["daily_percentile_bands"] = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       count(*) AS n,
       round(quantile_cont(value, 0.1), 6) AS p10,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events
GROUP BY 1 ORDER BY 1
"""

RELATIONAL_ORACLES["join_cardinality_estimate"] = """
WITH ca AS (
  SELECT user_id AS k, count(*) AS ca FROM events GROUP BY 1),
cb AS (
  SELECT o_custkey % 1000 AS k, count(*) AS cb FROM orders GROUP BY 1),
j AS (
  SELECT ca.k, CAST(ca.ca * cb.cb AS BIGINT) AS prod
  FROM ca JOIN cb USING (k)),
agg AS (
  SELECT CAST(sum(prod) AS BIGINT) AS exact_rows,
         CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))
                            ::BIGINT % 8 = 0
                       THEN prod ELSE 0 END) * 8 AS BIGINT)
           AS estimated_rows,
         count(*) AS n_join_keys
  FROM j)
SELECT exact_rows, estimated_rows, n_join_keys,
       round(abs(estimated_rows - exact_rows)
             / CAST(exact_rows AS DOUBLE), 6) AS rel_error
FROM agg
"""

RELATIONAL_ORACLES["latest_state_pivot"] = """
WITH latest AS (
  SELECT user_id, event_type,
         max(epoch_ms(ts)) AS ms,
         first(value ORDER BY ts DESC, event_id DESC) AS v
  FROM events
  GROUP BY user_id, event_type)
SELECT user_id,
       max(ms) AS last_seen_ms,
       round(max(CASE WHEN event_type = 'click' THEN v END), 6)
         AS last_click,
       round(max(CASE WHEN event_type = 'error' THEN v END), 6)
         AS last_error,
       round(max(CASE WHEN event_type = 'purchase' THEN v END), 6)
         AS last_purchase,
       round(max(CASE WHEN event_type = 'signup' THEN v END), 6)
         AS last_signup,
       round(max(CASE WHEN event_type = 'view' THEN v END), 6)
         AS last_view
FROM latest
GROUP BY user_id
ORDER BY user_id
"""

RELATIONAL_ORACLES["winsorized_stats"] = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type),
clipped AS (
  SELECT e.event_type,
         CAST(least(greatest(e.value, b.lo), b.hi) AS DECIMAL(28,9))
           AS wv,
         b.lo, b.hi,
         CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END
           AS clamped
  FROM events e JOIN bounds b USING (event_type))
SELECT event_type,
       count(*) AS n,
       CAST(sum(clamped) AS BIGINT) AS n_clamped,
       round(min(lo), 6) AS p5,
       round(min(hi), 6) AS p95,
       round(CAST(sum(wv) AS DOUBLE) / count(*), 6) AS wins_mean,
       round(sqrt(CAST(sum(wv * wv) AS DOUBLE) / count(*)
                  - (CAST(sum(wv) AS DOUBLE) / count(*))
                  * (CAST(sum(wv) AS DOUBLE) / count(*))), 6)
         AS wins_stddev
FROM clipped
GROUP BY event_type
ORDER BY event_type
"""

RELATIONAL_ORACLES["seasonal_adjust"] = """
WITH hourly AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(hour(ts) AS INTEGER) AS hod,
         count(*) AS cnt
  FROM events GROUP BY 1, 2),
base AS (
  SELECT hod, round(avg(cnt), 6) AS baseline, count(*) AS n_days
  FROM hourly GROUP BY hod),
j AS (
  SELECT h.cnt, b.baseline FROM hourly h JOIN base b USING (hod)),
g AS (
  SELECT round(CAST(sum(CAST(cnt * cnt AS DECIMAL(28,9))) AS DOUBLE)
                 / count(*)
               - (CAST(sum(CAST(cnt AS DECIMAL(28,9))) AS DOUBLE)
                  / count(*))
               * (CAST(sum(CAST(cnt AS DECIMAL(28,9))) AS DOUBLE)
                  / count(*)), 6) AS raw_variance,
         round(CAST(sum(CAST((cnt - baseline) * (cnt - baseline)
                             AS DECIMAL(28,9))) AS DOUBLE)
               / count(*), 6) AS residual_variance
  FROM j)
SELECT b.hod, b.n_days, b.baseline, g.raw_variance, g.residual_variance
FROM base b CROSS JOIN g
ORDER BY b.hod
"""

RELATIONAL_ORACLES["revenue_trend"] = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         count(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT strftime(m, '%Y-%m') AS month,
       n_orders,
       revenue_cents,
       CASE WHEN lag(revenue_cents) OVER (ORDER BY m) IS NULL
                 OR lag(revenue_cents) OVER (ORDER BY m) = 0
            THEN NULL
            ELSE (revenue_cents - lag(revenue_cents) OVER (ORDER BY m))
                 * 10000 // lag(revenue_cents) OVER (ORDER BY m) END
         AS growth_bp
FROM monthly
ORDER BY month
"""

RELATIONAL_ORACLES["revenue_concentration"] = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, l_partkey) AS i,
         count(*) OVER () AS n
  FROM per_part),
agg AS (
  SELECT max(n) AS n_parts,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(sum(i * cents) AS BIGINT) AS iw,
         CAST(sum(CASE WHEN i * 5 > n * 4 THEN cents ELSE 0 END)
              AS BIGINT) AS top_cents
  FROM ranked)
SELECT n_parts, total_cents,
       round(2.0 * iw / CAST(n_parts * total_cents AS DOUBLE)
             - (n_parts + 1) / CAST(n_parts AS DOUBLE), 6) AS gini,
       round(top_cents / CAST(total_cents AS DOUBLE), 6) AS top20_share
FROM agg
"""

RELATIONAL_ORACLES["supplier_return_rate"] = """
WITH per_supp AS (
  SELECT l_suppkey,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned,
         CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(round(l_extendedprice
                                       * (1 - l_discount) * 100)
                                 AS BIGINT) ELSE 0 END) AS BIGINT)
           AS returned_cents
  FROM lineitem GROUP BY l_suppkey)
SELECT l_suppkey, n_lines, n_returned, returned_cents,
       n_returned * 10000 // n_lines AS return_bp
FROM per_supp
ORDER BY return_bp DESC, l_suppkey
LIMIT 25
"""

RELATIONAL_ORACLES["order_backlog_timeline"] = """
WITH opened AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         count(*) AS n_opened,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS opened_cents
  FROM orders
  WHERE o_orderstatus IN ('O', 'P')
  GROUP BY 1)
SELECT strftime(m, '%Y-%m') AS month,
       n_opened,
       opened_cents,
       CAST(sum(n_opened) OVER w AS BIGINT) AS backlog_orders,
       CAST(sum(opened_cents) OVER w AS BIGINT) AS backlog_cents
FROM opened
WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY month
"""

RELATIONAL_ORACLES["mix_shift_test"] = """
WITH base AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'a'
              WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 'b' END AS p,
         o_orderpriority
  FROM orders),
cells AS (
  SELECT p, o_orderpriority, count(*) AS obs
  FROM base WHERE p IS NOT NULL
  GROUP BY 1, 2),
tots AS (
  SELECT CAST(sum(obs) AS BIGINT) AS n,
         count(DISTINCT o_orderpriority) AS k
  FROM cells),
row_t AS (SELECT p, CAST(sum(obs) AS BIGINT) AS row_n
          FROM cells GROUP BY p),
col_t AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS col_n
          FROM cells GROUP BY o_orderpriority),
contrib AS (
  SELECT c.p, c.o_orderpriority,
         (c.obs - CAST(r.row_n AS DOUBLE) * ct.col_n / t.n)
           * (c.obs - CAST(r.row_n AS DOUBLE) * ct.col_n / t.n)
           / (CAST(r.row_n AS DOUBLE) * ct.col_n / t.n) AS c,
         t.n, t.k
  FROM cells c
  JOIN row_t r USING (p)
  JOIN col_t ct USING (o_orderpriority)
  CROSS JOIN tots t),
folded AS (
  SELECT max(n) AS n_orders, max(k) AS k_categories,
         floor(list_reduce(
                 list(c ORDER BY p, o_orderpriority),
                 (a, b) -> a + b) * 1e6) AS chi2_e6
  FROM contrib)
SELECT n_orders, k_categories,
       CAST(k_categories - 1 AS INTEGER) AS df,
       chi2_e6 / 1e6 AS chi2
FROM folded
"""


RELATIONAL_ORACLES["pipeline_health_report"] = """
WITH dq AS (SELECT * FROM (WITH checks AS (
  SELECT 'orders' AS table_name, 'totalprice_positive' AS check_name,
         CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders', 'orderdate_in_range',
         CAST(count(*) FILTER (o_orderdate NOT BETWEEN
              TIMESTAMP '1992-01-01 00:00:00'
              AND TIMESTAMP '1998-12-31 23:59:59') AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'priority_not_null',
         CAST(count(*) FILTER (o_orderpriority IS NULL) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'orderkey_unique',
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem', 'discount_in_range',
         CAST(count(*) FILTER (l_discount NOT BETWEEN 0.0 AND 0.1)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'quantity_at_most_30',
         CAST(count(*) FILTER (l_quantity > 30) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'shipdate_not_null',
         CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'orderkey_references_orders',
         CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT)
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'customer', 'custkey_unique',
         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'events', 'value_non_negative',
         CAST(count(*) FILTER (value < 0) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events', 'user_id_not_null',
         CAST(count(*) FILTER (user_id IS NULL) AS BIGINT)
  FROM events)
SELECT table_name, check_name, n_violations, n_violations = 0 AS passed
FROM checks ORDER BY table_name, check_name)),
skew AS (SELECT * FROM (WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
agg AS (
  SELECT count(*) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         max(cnt) AS max_key_rows,
         quantile_cont(cnt, 0.5) AS p50_key_rows,
         quantile_cont(cnt, 0.99) AS p99_key_rows,
         sum(cnt * ln(cnt)) AS clnc
  FROM counts)
SELECT n_keys, n_rows, max_key_rows,
       round(p50_key_rows, 6) AS p50_key_rows,
       round(p99_key_rows, 6) AS p99_key_rows,
       round(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top_key_share,
       round(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 6)
         AS skew_ratio,
       round(ln(n_rows) - clnc / n_rows, 6) AS key_entropy,
       CAST(ceil(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows)
            AS INTEGER) AS salt_factor
FROM agg)),
drift AS (SELECT * FROM (WITH base AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'a'
              WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 'b' END AS p,
         o_orderpriority
  FROM orders),
cells AS (
  SELECT p, o_orderpriority, count(*) AS obs
  FROM base WHERE p IS NOT NULL
  GROUP BY 1, 2),
tots AS (
  SELECT CAST(sum(obs) AS BIGINT) AS n,
         count(DISTINCT o_orderpriority) AS k
  FROM cells),
row_t AS (SELECT p, CAST(sum(obs) AS BIGINT) AS row_n
          FROM cells GROUP BY p),
col_t AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS col_n
          FROM cells GROUP BY o_orderpriority),
contrib AS (
  SELECT c.p, c.o_orderpriority,
         (c.obs - CAST(r.row_n AS DOUBLE) * ct.col_n / t.n)
           * (c.obs - CAST(r.row_n AS DOUBLE) * ct.col_n / t.n)
           / (CAST(r.row_n AS DOUBLE) * ct.col_n / t.n) AS c,
         t.n, t.k
  FROM cells c
  JOIN row_t r USING (p)
  JOIN col_t ct USING (o_orderpriority)
  CROSS JOIN tots t),
folded AS (
  SELECT max(n) AS n_orders, max(k) AS k_categories,
         floor(list_reduce(
                 list(c ORDER BY p, o_orderpriority),
                 (a, b) -> a + b) * 1e6) AS chi2_e6
  FROM contrib)
SELECT n_orders, k_categories,
       CAST(k_categories - 1 AS INTEGER) AS df,
       chi2_e6 / 1e6 AS chi2
FROM folded)),
rows_ AS (
  SELECT 'dq_total_violations' AS metric,
         CAST(sum(n_violations) AS DOUBLE) AS value,
         CASE WHEN sum(n_violations) = 0 THEN 'ok' ELSE 'alert' END
           AS status
  FROM dq
  UNION ALL
  SELECT 'join_key_skew_ratio', skew_ratio,
         CASE WHEN skew_ratio < 4.0 THEN 'ok' ELSE 'alert' END
  FROM skew
  UNION ALL
  SELECT 'priority_mix_chi2', chi2,
         CASE WHEN chi2 < 13.28 THEN 'ok' ELSE 'alert' END
  FROM drift)
SELECT metric, value, status FROM rows_ ORDER BY metric
"""
