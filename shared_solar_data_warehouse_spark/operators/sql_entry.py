"""SQL entry point (SURVEY.md §3.3): every fixture table is exposed as
a temp view and whole queries run through ``spark.sql`` — the second of
the engine's three entry points (DataFrame chain / SQL string /
Structured Streaming), hitting the identical Catalyst pipeline from the
ANTLR parser instead of the Python DSL.

The queries are TPC-H-shaped analytics adapted to the fixture columns
(the fixtures are TPC-H-ish but trimmed; adaptations noted per query).
Oracle SQL is near-identical ANSI — the point: one declarative text,
two engines, hash-equal results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shared_solar_data_warehouse_spark.parity import sql_dsum
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import register_views

# Q1: pricing summary report — full-table agg with computed measures.
# Each exact decimal sum rounds as a decimal before the cast to double
# (parity.sql_dsum, whose docstring has the half-step case that a
# generated snapshot's charge sum of 283778228.83495000 hit).
_Q1_BODY = f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# Q3: unshipped-orders revenue (adapted: fixtures lack o_shippriority;
# project o_orderpriority instead).
_Q3_BODY = f"""
SELECT l_orderkey,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""

# Q5: local-supplier volume (adapted: fixtures carry no r_name filter
# year — keep the classic shape: customer and supplier in the SAME
# nation, revenue per nation within one region and date year).
_Q5_BODY = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""

# Q6: forecasting revenue change — pure scan-filter-agg.
_Q6_BODY = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# Q4: order-priority checking (adapted: fixtures lack commit/receipt
# dates, so the EXISTS probes for any heavy line — the decorrelated
# semi-join shape is the point).
_Q4_BODY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 48
  )
GROUP BY o_orderpriority
"""

# Q10: returned-item reporting — who returned goods and what revenue
# was lost (top customers by lost revenue; full shape minus the
# fixture-absent address/phone/comment columns).
_Q10_BODY = f"""
SELECT c_custkey, c_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       round(CAST(c_acctbal AS DOUBLE), 4) AS c_acctbal,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
"""

# Q13: customer order-count distribution — LEFT join so zero-order
# customers appear, then a histogram over the per-customer counts.
_Q13_BODY = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
"""

# Q14: promotion effect — ratio of promo revenue to total.  The final
# percentage uses the floor(x*1e4+0.5)/1e4 rounding formula (NOT
# round()): quotients of short decimals land on .xxxx5 where Spark
# (BigDecimal half-up) and DuckDB (nearbyint) disagree; floor on the
# identical IEEE double is bit-stable on both (SURVEY.md §5.4).
_Q14_BODY = """
SELECT CAST(floor(
           100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount)
                    ELSE 0 END AS DECIMAL(25,8))) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(25,8))) AS DOUBLE) * 10000.0 + 0.5
       ) AS DOUBLE) / 1.0e4 AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
"""

# Q17: small-quantity-order revenue — CORRELATED scalar subquery
# (avg per part), the decorrelation stress test: Catalyst rewrites it
# to an aggregate + join, not a per-row re-execution.  The revenue
# division by the constant 7 is exact decimal->double; threshold uses
# 0.2*avg in plain double (identical bits both engines).
_Q17_BODY = """
SELECT CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE)
             / 7.0 * 10000.0 + 0.5) AS DOUBLE) / 1.0e4 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
      SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
  )
"""

# Q7: volume shipping between two nations (adapted names: fixtures
# use NATION_<k>).  The classic shape: supplier-nation x customer-
# nation revenue by ship year, with the symmetric two-nation OR
# predicate pushed below the join.
_Q7_BODY = f"""
SELECT supp_nation, cust_nation, l_year,
       {sql_dsum('volume')} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

# Q8: national market share within a region (adapted: fixture p_type
# domain is single words; nation names NATION_<k>).  8-table join with
# the share ratio under the §5.4 floor-rounding formula.
_Q8_BODY = """
SELECT o_year,
       CAST(floor(
           CAST(sum(CAST(CASE WHEN nation = 'NATION_1'
                    THEN volume ELSE 0 END AS DECIMAL(25,8))) AS DOUBLE)
           / CAST(sum(CAST(volume AS DECIMAL(25,8))) AS DOUBLE)
           * 10000.0 + 0.5
       ) AS DOUBLE) / 1.0e4 AS mkt_share
FROM (
    SELECT year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
"""

# Q9: product-type profit by nation and year (adapted: fixtures carry
# no partsupp/ps_supplycost, so profit is gross discounted revenue —
# the LIKE-driven part filter and 6-way join shape are the point).
_Q9_BODY = f"""
SELECT nation, o_year,
       {sql_dsum('amount')} AS sum_profit
FROM (
    SELECT n_name AS nation,
           year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""

# Q15: top supplier — a quarter's revenue per supplier (CTE reused
# twice), keeping the supplier(s) at the exact max.  The max compare
# stays in exact DECIMAL on both engines; double cast only at output.
_Q15_BODY = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,8))) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_revenue AS DOUBLE), 4) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

# Q19: discounted revenue across OR'd brand/quantity/size windows
# (adapted: fixtures lack l_shipmode/l_shipinstruct; the disjunctive
# join predicate that must still push the part filters is the point).
_Q19_BODY = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""

# Q22: global sales opportunity (adapted: fixtures carry no c_phone,
# so the country-code substring becomes c_nationkey membership; every
# fixture customer has *some* order, so "order-less" becomes "no order
# since 2001" to keep the anti-join selective but non-empty).  The avg
# threshold is computed as exact-decimal-sum / count cast to DOUBLE so
# the single division is bit-identical on both engines (a raw
# avg(DOUBLE) would be sum-order dependent).
_Q22_BODY = f"""
SELECT cntrycode,
       count(*) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM (
    SELECT c_nationkey AS cntrycode, c_acctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9)
      AND c_acctbal > (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(25,8))) AS DOUBLE)
                 / count(*)
          FROM customer
          WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9)
      )
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
      )
) custsale
GROUP BY cntrycode
"""

# Q18: large-volume customers — HAVING over a grouped fact, joined
# back to the dimension chain.
_Q18_BODY = f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       round(CAST(o_totalprice AS DOUBLE), 4) AS o_totalprice,
       {sql_dsum('l_quantity')} AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(25,8))) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""

# Q2: minimum-cost supplier (adapted: fixtures carry no partsupp /
# ps_supplycost, so "supply cost" becomes the supplier's account
# balance and the part-supplier relationship is derived from lineitem
# shipments).  The point is the CORRELATED scalar subquery over a
# multi-table join — Catalyst decorrelates it into a min-aggregate
# joined back on p_partkey, not a per-row re-execution.
_Q2_BODY = """
SELECT round(CAST(s_acctbal AS DOUBLE), 4) AS s_acctbal,
       s_name, n_name, p_partkey, p_type
FROM part, supplier, lineitem, nation, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND p_size < 10 AND r_name = 'EUROPE'
  AND s_acctbal = (
      SELECT min(s2.s_acctbal)
      FROM supplier s2, lineitem l2, nation n2, region r2
      WHERE p_partkey = l2.l_partkey AND s2.s_suppkey = l2.l_suppkey
        AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        AND r2.r_name = 'EUROPE')
GROUP BY s_acctbal, s_name, n_name, p_partkey, p_type
"""

# Q11: important stock identification (adapted: inventory value is the
# shipped value sum from lineitem instead of ps_supplycost*ps_availqty).
# HAVING compares an exact-decimal group sum against an uncorrelated
# scalar subquery — both engines compare exact decimals, no float drift.
_Q11_BODY = f"""
SELECT l_partkey,
       {sql_dsum('l_extendedprice * l_quantity')} AS value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_regionkey = 2
GROUP BY l_partkey
HAVING sum(CAST(l_extendedprice * l_quantity AS DECIMAL(25,8))) > (
    SELECT sum(CAST(l_extendedprice * l_quantity AS DECIMAL(25,8))) * 0.001
    FROM lineitem, supplier, nation
    WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_regionkey = 2)
"""

# Q12: shipping-mode priority counts (adapted: fixtures carry no
# l_shipmode/commitdate/receiptdate — the returnflag plays the mode
# dimension; the conditional-count pivot shape is the point).
_Q12_BODY = """
SELECT l_returnflag AS shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('R', 'A')
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""

# Q16: supplier-count by part attributes (adapted: the part-supplier
# relation comes from lineitem; the "complaints" NOT-IN exclusion keys
# on negative account balance).  count(DISTINCT) + NOT IN anti-join.
_Q16_BODY = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""

# Q20: potential part promotion (adapted: "excess availability" is
# shipping more than 1.5x the average per-supplier quantity of
# LIKE-matched parts).  Nested IN-subqueries with a HAVING threshold;
# the avg compare is multiplied through (2*cnt*sum_s > 3*total) so it
# stays in exact BIGINT arithmetic — quantities are whole numbers, so
# no float/decimal division can drift between engines.  Scale-free:
# the threshold is relative, so the result is non-empty at every sf.
_Q20_BODY = """
SELECT s_name, s_suppkey
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING sum(CAST(l_quantity AS BIGINT)) * 2 * (
        SELECT count(DISTINCT l_suppkey)
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    ) > (
        SELECT sum(CAST(l_quantity AS BIGINT)) * 3
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
  AND s_nationkey = n_nationkey AND n_regionkey = 0
"""

# Q21: suppliers who kept orders waiting (adapted: "late" is the
# returnflag; the supplier is the sole R-flagged line on a
# multi-supplier finished order).  EXISTS + NOT EXISTS against the
# same fact — two decorrelated semi/anti joins on l_orderkey.
_Q21_BODY = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
  AND s_nationkey = n_nationkey
GROUP BY s_name
"""

_TABLES_NEEDED = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)


def _sql_op(body: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, *_TABLES_NEEDED)
        return spark.sql(body)

    return build


for _name, _body in [
    ("sql_tpch_q1", _Q1_BODY),
    ("sql_tpch_q3", _Q3_BODY),
    ("sql_tpch_q4", _Q4_BODY),
    ("sql_tpch_q5", _Q5_BODY),
    ("sql_tpch_q6", _Q6_BODY),
    ("sql_tpch_q10", _Q10_BODY),
    ("sql_tpch_q13", _Q13_BODY),
    ("sql_tpch_q14", _Q14_BODY),
    ("sql_tpch_q7", _Q7_BODY),
    ("sql_tpch_q8", _Q8_BODY),
    ("sql_tpch_q9", _Q9_BODY),
    ("sql_tpch_q15", _Q15_BODY),
    ("sql_tpch_q17", _Q17_BODY),
    ("sql_tpch_q18", _Q18_BODY),
    ("sql_tpch_q19", _Q19_BODY),
    ("sql_tpch_q22", _Q22_BODY),
    ("sql_tpch_q2", _Q2_BODY),
    ("sql_tpch_q11", _Q11_BODY),
    ("sql_tpch_q12", _Q12_BODY),
    ("sql_tpch_q16", _Q16_BODY),
    ("sql_tpch_q20", _Q20_BODY),
    ("sql_tpch_q21", _Q21_BODY),
]:
    _fn = _sql_op(_body)
    _fn.__name__ = _name
    _fn.__doc__ = (
        "TPC-H-shaped query through the spark.sql entry point "
        "(SURVEY.md §3.3); identical text is the DuckDB oracle."
    )
    op(_name, oracle=_body)(_fn)


# --- Modern-SQL surface beyond TPC-H -----------------------------------

#: Recursive CTE: ancestor chain over the implicit binary-tree key
#: hierarchy (parent(k) = k DIV 2).  The recursion DEPTH is data-driven
#: (log2 of the key domain) — precisely what non-recursive SQL cannot
#: express without hardcoding the unroll count; both engines implement
#: standard UNION ALL breadth-first semantics.
_RECURSIVE_BODY = """
WITH RECURSIVE chain AS (
    SELECT c_custkey AS root, CAST(c_custkey AS BIGINT) AS node,
           0 AS depth
    FROM customer
    UNION ALL
    SELECT root, CAST(floor(node / 2.0) AS BIGINT) AS node, depth + 1 AS depth
    FROM chain WHERE node > 1
)
SELECT CAST(depth AS INTEGER) AS depth,
       count(*) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM chain GROUP BY depth
"""

def _recursive_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, *_TABLES_NEEDED)
    return spark.sql(_RECURSIVE_BODY)


_fn = _recursive_build
_fn.__name__ = "sql_recursive_cte"
_fn.__doc__ = (
    "WITH RECURSIVE through spark.sql (Spark 4) — hierarchy walk with "
    "data-driven depth: each customer key climbs its binary-tree "
    "ancestor chain (k -> k DIV 2) to the root; per-depth census. "
    "Identical text runs on DuckDB.  At scale each recursion step is "
    "one self-join round — the engine-managed form of the unrolled "
    "BFS/PageRank rounds elsewhere in the registry."
)
op("sql_recursive_cte", oracle=_RECURSIVE_BODY)(_fn)


#: LATERAL correlated subquery: per-nation top-2 customers by balance.
#: Spark decorrelates this to a window under the hood (DuckDB executes
#: it as a dependent join) — one declarative text, two different
#: physical strategies, hash-equal results.
_LATERAL_BODY = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n,
     LATERAL (
         SELECT c_custkey, c_acctbal
         FROM customer
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey
         LIMIT 2
     ) t
"""

_fn = _sql_op(_LATERAL_BODY)
_fn.__name__ = "sql_lateral_topk"
_fn.__doc__ = (
    "LATERAL correlated subquery (top-2 customers per nation) through "
    "spark.sql; identical text on DuckDB.  Spark plans the correlated "
    "LIMIT as a decorrelated window (rank <= 2) — the per-group-top-k "
    "rewrite test_plans pins for topk_per_group — while DuckDB runs a "
    "dependent join; the hash compare proves the semantics equal."
)
op("sql_lateral_topk", oracle=_LATERAL_BODY)(_fn)


#: SQL PIVOT clause (parser surface distinct from DataFrame .pivot()):
#: order counts per priority pivoted across order-status columns.
_PIVOT_BODY = """
SELECT * FROM (
    SELECT o_orderpriority, o_orderstatus FROM orders
)
PIVOT (
    count(*) FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p)
)
"""

_PIVOT_ORACLE = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS st_o,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS st_f,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS st_p
FROM orders GROUP BY o_orderpriority
"""

_fn = _sql_op(_PIVOT_BODY)
_fn.__name__ = "sql_pivot_clause"
_fn.__doc__ = (
    "SQL PIVOT clause through spark.sql — the parser-level pivot "
    "(vs the DataFrame .pivot() covered by agg_pivot); the oracle is "
    "the equivalent conditional aggregation (DuckDB's PIVOT spells "
    "differently, and conditional agg is the portable core both "
    "compile to)."
)
op("sql_pivot_clause", oracle=_PIVOT_ORACLE)(_fn)


#: GROUP BY ALL — modern-SQL sugar both engines accept verbatim.
_GBALL_BODY = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS qty_cents
FROM lineitem
GROUP BY ALL
"""

_fn = _sql_op(_GBALL_BODY)
_fn.__name__ = "sql_group_by_all"
_fn.__doc__ = (
    "GROUP BY ALL (Spark 3.4+/DuckDB, identical text): the engine "
    "derives the grouping keys from the non-aggregate projections — "
    "the analyst-ergonomics sugar that removes the classic "
    "forgot-to-update-GROUP-BY bug."
)
op("sql_group_by_all", oracle=_GBALL_BODY)(_fn)


#: SELECT * EXCEPT — projection-by-exclusion (Spark EXCEPT vs DuckDB
#: EXCLUDE keyword; one semantic, two spellings).
_STAR_EXCEPT_BODY = """
SELECT * EXCEPT (n_comment_placeholder) FROM (
    SELECT n_nationkey, n_name, n_regionkey,
           'x' AS n_comment_placeholder
    FROM nation
)
"""

_STAR_EXCEPT_ORACLE = """
SELECT * EXCLUDE (n_comment_placeholder) FROM (
    SELECT n_nationkey, n_name, n_regionkey,
           'x' AS n_comment_placeholder
    FROM nation
)
"""

_fn = _sql_op(_STAR_EXCEPT_BODY)
_fn.__name__ = "sql_star_except"
_fn.__doc__ = (
    "SELECT * EXCEPT(...) through spark.sql — projection by exclusion "
    "for wide tables (drop the blob/comment columns without naming "
    "the other 200).  DuckDB spells the same semantic EXCLUDE; the "
    "hash compare pins the two keywords equal."
)
op("sql_star_except", oracle=_STAR_EXCEPT_ORACLE)(_fn)


#: Correlated scalar subqueries — the third classic subquery shape
#: after EXISTS (join_mark_exists) and IN (q18/q20's semi forms): an
#: aggregate subquery in the SELECT list correlated on the outer row,
#: plus a correlated EXISTS gate in WHERE.  Catalyst decorrelates the
#: scalar aggregate into a left outer join on the equality key (one
#: shuffle, no per-row re-execution) — the plan a hand-written join
#: would produce, which is the point of the declarative spelling.
#: All-integer cents/ppm arithmetic; {div} abstracts Spark DIV vs
#: DuckDB // (truncating integer division on both, parity.py rule).
_SCALAR_SUBQ_TEMPLATE = """
SELECT o.o_orderkey,
       o.o_custkey,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
       (SELECT CAST(sum(CAST(floor(o2.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
           AS cust_total_cents,
       CAST(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 1000000
            {div} (SELECT CAST(sum(CAST(floor(o2.o_totalprice * 100 + 0.5)
                                        AS BIGINT)) AS BIGINT)
                   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
            AS BIGINT) AS share_of_customer_ppm
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
"""

_fn = _sql_op(_SCALAR_SUBQ_TEMPLATE.replace("{div}", "DIV"))
_fn.__name__ = "sql_scalar_subquery"
_fn.__doc__ = (
    "Correlated scalar subquery in SELECT (customer total, order "
    "share-of-customer in ppm) gated by a correlated EXISTS — "
    "decorrelated by Catalyst into outer-join + semi-join; integer "
    "cents keep the division hash-exact."
)
op("sql_scalar_subquery", oracle=_SCALAR_SUBQ_TEMPLATE.replace("{div}", "//"))(
    _fn
)


#: DISTINCT ON — latest order per customer: DuckDB spells the pick
#: natively (DISTINCT ON (key) ... ORDER BY key, sort), Spark spells
#: it as a row_number window; one semantic, two idioms, hash-pinned
#: equal (the star_except pattern).  Deterministic tie-break on
#: o_orderkey after o_orderdate.
_DISTINCT_ON_SPARK = """
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
FROM (
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS rn
    FROM orders
) WHERE rn = 1
"""

_DISTINCT_ON_ORACLE = """
SELECT DISTINCT ON (o_custkey)
       o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
FROM orders
ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
"""

_fn = _sql_op(_DISTINCT_ON_SPARK)
_fn.__name__ = "sql_distinct_on"
_fn.__doc__ = (
    "Latest-order-per-customer through spark.sql's row_number idiom, "
    "hash-pinned against DuckDB's native DISTINCT ON — the top-1-per-"
    "group semantic in its two standard spellings."
)
op("sql_distinct_on", oracle=_DISTINCT_ON_ORACLE)(_fn)
