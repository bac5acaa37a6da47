"""Layer-B SQL keys (``sql_*``): the same SQL text runs on Catalyst and
on DuckDB (SURVEY.md §2 layer B; the reference delegates full SQL to
DuckDB, we delegate to Catalyst). The ``sql_q*`` keys are the
TPC-H-shaped queries the warehouse_query benchmark times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.registry import register, register_sql
from build_datawarehouse_demo_spark.registry_common import (
    _t,
)


# exact decimal building blocks
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
_QTY = "CAST(l_quantity AS DECIMAL(18,2))"


# TPC-H Q1: the canonical scan→hash-agg shape. Catalyst splits the
# aggregate into partial (map-side) + final automatically.
register_sql(
    "sql_q1_pricing_summary",
    f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum({_QTY}) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum({_REV}) AS DOUBLE) AS sum_disc_price,
               CAST(sum({_REV} * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               CAST(sum({_QTY}) AS DOUBLE) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
)

# TPC-H Q3 shape: selective join + agg + top-k with a unique
# tiebreak so LIMIT is deterministic.
register_sql(
    "sql_q3_shipping_priority",
    f"""
        SELECT o.o_orderkey,
               CAST(sum({_REV}) AS DOUBLE) AS revenue,
               o.o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
        """,
)

# TPC-H Q5 shape: five-way join through the dimension chain.
# nation/region are broadcast-size; AQE converts at runtime.
register_sql(
    "sql_q5_local_supplier_volume",
    f"""
        SELECT n.n_name,
               CAST(sum({_REV}) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
        """,
)

# TPC-H Q6 shape: pure filter + single-row aggregate — the
# pushdown showcase (all three predicates reach the parquet scan).
register_sql(
    "sql_q6_forecast_revenue",
    """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
        """,
)

# window: rank-per-group top-k (no equivalent in the reference ETL;
# part of the delivered DuckDB-SQL capability).
register_sql(
    "sql_window_rank_topk",
    """
        SELECT c_mktsegment, c_custkey, c_acctbal, rk FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 CAST(row_number() OVER (
                     PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk
          FROM customer
        ) ranked
        WHERE rk <= 5
        """,
)

# window: running total over an ordered frame.
register_sql(
    "sql_window_running_total",
    f"""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sum({_QTY}) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        FROM lineitem
        WHERE l_suppkey <= 5
        """,
)

# window: lag-based sessionization (30-minute inactivity gap).
register_sql(
    "sql_window_sessionize",
    """
        SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions
        FROM (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        ) flagged
        GROUP BY user_id
        """,
)

# time-bucketed aggregation over the event stream (batch form of
# the streaming tumbling window in streaming/windows.py).
register_sql(
    "sql_agg_events_hourly",
    """
        SELECT date_trunc('hour', ts) AS hour_ts, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        """,
)

# grouping sets via ROLLUP (subtotals + grand total).
register_sql(
    "sql_agg_rollup",
    f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum({_QTY}) AS DOUBLE) AS sum_qty,
               count(*) AS n_items
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
)

# pivot expressed portably as conditional aggregation.
register_sql(
    "sql_agg_pivot_conditional",
    f"""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN {_QTY} ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN {_QTY} ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_finished
        FROM lineitem
        GROUP BY l_returnflag
        """,
)

# semi join (EXISTS) / anti join (NOT EXISTS): Catalyst plans these
# as LeftSemi/LeftAnti — no row duplication, no wide shuffle of the
# probe side's payload.
register_sql(
    "sql_join_semi_exists",
    """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        """,
)

register_sql(
    "sql_join_anti_not_exists",
    """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
)

# set ops beyond UNION ALL.
register_sql(
    "sql_setop_intersect",
    """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        """,
)

register_sql(
    "sql_setop_except",
    """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        """,
)

# scalar subquery against an exact-decimal average.
register_sql(
    "sql_scalar_subquery",
    """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 2 * (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            FROM orders)
        """,
)

# CASE/conditional projection + IN-list predicate.
register_sql(
    "sql_case_in_predicate",
    """
        SELECT o_orderkey,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
                    ELSE 'cold' END AS heat
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
        """,
)

# full outer join: both dangling sides survive. Nulls are COALESCEd
# to sentinels so the output columns stay non-null BIGINT — a
# nullable int column round-trips to pandas as float64 from Spark
# but nullable Int64 from DuckDB, which would desync the value hash
# (5.0 vs 5) even though the data matches.
register_sql(
    "sql_join_full_outer",
    """
        SELECT coalesce(f.o_custkey, CAST(-1 AS BIGINT)) AS custkey_f,
               coalesce(o.o_custkey, CAST(-1 AS BIGINT)) AS custkey_o,
               coalesce(f.n_f, CAST(0 AS BIGINT)) AS n_f,
               coalesce(o.n_o, CAST(0 AS BIGINT)) AS n_o
        FROM (SELECT o_custkey, count(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
        FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
          ON f.o_custkey = o.o_custkey
        """,
)

# cross join (small × small — the only place a cartesian is sane).
register_sql(
    "sql_join_cross",
    """
        SELECT r.r_name, n.n_name
        FROM region r CROSS JOIN nation n
        """,
)

# CUBE: all grouping-set combinations.
register_sql(
    "sql_agg_cube",
    f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum({_QTY}) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
)

# explicit GROUPING SETS with grouping() disambiguation of
# produced-null vs data-null.
register_sql(
    "sql_agg_grouping_sets",
    f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
               CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
)

# HAVING over an exact-decimal aggregate.
register_sql(
    "sql_agg_having",
    f"""
        SELECT l_suppkey, CAST(sum({_QTY}) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY l_suppkey
        HAVING sum({_QTY}) > 15000
        """,
)

# TPC-H Q2 shape: correlated scalar subquery (min per correlated
# group) — Catalyst decorrelates this into a join + aggregate.
register_sql(
    "sql_correlated_subquery",
    """
        SELECT p.p_partkey, p.p_retailprice
        FROM part p
        WHERE p.p_retailprice = (
            SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        """,
)

# string predicates: LIKE / regexp filter on part names
# (regexp_like in Spark, regexp_matches in DuckDB — same regex).
register_sql(
    "sql_string_predicates",
    """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_name LIKE '%red%' OR regexp_like(p_name, '^(small|large) ')
        """,
    oracle="""
        SELECT p_partkey, p_name
        FROM part
        WHERE p_name LIKE '%red%' OR regexp_matches(p_name, '^(small|large) ')
        """,
)

# deterministic ordered pagination (ORDER BY unique key + LIMIT/OFFSET).
register_sql(
    "sql_order_limit_offset",
    """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20 OFFSET 40
        """,
)

# UNION (distinct) — dedup across branches.
register_sql(
    "sql_setop_union_distinct",
    """
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        """,
)

# value windows: rank with gaps, dense_rank, percent_rank, ntile
# over a total order.
register_sql(
    "sql_window_rank_family",
    """
        SELECT s_suppkey,
               CAST(rank()         OVER w AS INTEGER) AS rnk,
               CAST(dense_rank()   OVER w AS INTEGER) AS drnk,
               percent_rank()      OVER w AS prnk,
               CAST(ntile(4)       OVER w AS INTEGER) AS quartile
        FROM supplier
        WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
        """,
)

# lead/lag navigation with defaults.
register_sql(
    "sql_window_lead_lag",
    """
        SELECT o_custkey, o_orderkey,
               lag(o_orderkey, 1, CAST(-1 AS BIGINT)) OVER w AS prev_order,
               lead(o_orderkey, 1, CAST(-1 AS BIGINT)) OVER w AS next_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
)

# IN-subquery (planned as a semi join).
register_sql(
    "sql_in_subquery",
    """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        """,
)

# TPC-H Q4 shape: order-priority count gated by a correlated EXISTS.
register_sql(
    "sql_q4_order_priority",
    """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        """,
)

# TPC-H Q12 shape: priority-class buckets via conditional agg over
# a fact/dim join.
register_sql(
    "sql_q12_priority_classes",
    """
        SELECT l.l_linestatus,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_linestatus
        """,
)

# TPC-H Q10 shape: returned-item revenue per customer, top-20.
register_sql(
    "sql_q10_returned_items",
    f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(sum({_REV}) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
        """,
)

# TPC-H Q14 shape: ratio of a conditional aggregate to the total —
# one pass, two exact-decimal sums.
register_sql(
    "sql_q14_promo_ratio",
    f"""
        SELECT CAST(100.0 * sum(CASE WHEN p.p_type = 'ECONOMY' THEN {_REV}
                                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum({_REV}) AS DOUBLE) AS promo_revenue_pct,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
        """,
)

# ------------------------------------------------------------------
# Round-2 widening: the remaining TPC-H shapes expressible on the
# driver's table subset (no partsupp; no o_comment/l_receiptdate/
# p_container columns — those predicates are adapted, the JOIN/
# subquery/aggregation SHAPES are faithful).
# ------------------------------------------------------------------

# TPC-H Q7 shape: bidirectional nation-pair revenue by year —
# 5-way join with a disjunctive pair predicate + year extraction.
register_sql(
    "sql_q7_volume_shipping",
    f"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(sum(volume) AS DOUBLE) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
                 {_REV} AS volume
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        """,
)

# TPC-H Q8 shape: market share — conditional share of a global
# aggregate per year over a 6-way join.
register_sql(
    "sql_q8_market_share",
    f"""
        SELECT o_year,
               CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum(volume) AS DOUBLE) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
                 {_REV} AS volume,
                 n2.n_name AS nation
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
          WHERE p.p_type = 'STANDARD'
        ) all_nations
        GROUP BY o_year
        """,
)

# TPC-H Q13 shape: distribution of orders-per-customer — left join
# + double aggregation (the histogram-of-group-sizes pattern).
register_sql(
    "sql_q13_customer_distribution",
    """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        ) c_orders
        GROUP BY c_count
        """,
)

# TPC-H Q15 shape: CTE revenue view + scalar-max subquery (top
# supplier); exact decimal sums make the max-equality portable.
register_sql(
    "sql_q15_top_supplier",
    f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(sum({_REV}) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
)

# TPC-H Q17 shape: correlated scalar subquery (per-part average)
# gating a join+aggregate. Quantities are integer-valued doubles,
# so the 0.2*avg threshold is bit-identical across engines.
register_sql(
    "sql_q17_small_quantity_revenue",
    """
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """,
)

# TPC-H Q18 shape: IN over a HAVING subquery + re-aggregation
# (large-volume orders).
register_sql(
    "sql_q18_large_volume_customer",
    f"""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(sum({_QTY}) AS DOUBLE) AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        """,
)

# TPC-H Q21 shape (adapted: no l_receiptdate — "multi-supplier
# orders where this supplier shipped last by ship date"): EXISTS +
# NOT EXISTS correlated anti-semantics over the same fact.
register_sql(
    "sql_q21_last_shipper",
    """
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s.s_name
        """,
)

# TPC-H Q22 shape (adapted: balance threshold via exact integer
# cents cross-multiplication — no float-boundary flakiness — and
# "no RECENT orders" since every customer here has some order):
# scalar aggregate subqueries + NOT EXISTS + group-by.
register_sql(
    "sql_q22_global_sales_opportunity",
    """
        SELECT c_nationkey AS cntry, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT)
              * (SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
              > (SELECT sum(CAST(round(c3.c_acctbal * 100) AS BIGINT))
                 FROM customer c3 WHERE c3.c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY c_nationkey
        """,
)

# TPC-H Q19 shape (adapted to this testdata's part columns: the
# container/shipmode attributes don't exist here, so the OR'd
# multi-bracket predicate ranges over brand × size × quantity).
# The point of the shape survives: a join whose pushable part is
# only the disjunction's common support, with per-branch residual
# conjuncts evaluated post-join.
register_sql(
    "sql_q19_discounted_revenue",
    f"""
        SELECT CAST(sum({_REV}) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
        """,
)

# explicit window FRAME specification: a trailing moving sum/count
# over ROWS BETWEEN — the frame-clause surface the rank/lag
# entries don't touch. Exact DECIMAL sum; count exposes the ragged
# leading frames.
register_sql(
    "sql_window_frame_spec",
    """
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER w AS DOUBLE) AS trailing_sum,
               count(*) OVER w AS frame_n
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        """,
)

# TPC-H Q2 shape (minimum-cost supplier). This testdata has no
# partsupp table, so lineitem is the part↔supplier bridge and the
# "supply cost" is the observed unit price l_extendedprice /
# l_quantity. The shape survives intact: a correlated scalar-min
# subquery over the same multi-dim join (part→supplier→nation→
# region) that the outer query runs, answered per outer part.
# Catalyst rewrites it to an aggregate + join; the min is
# order-independent and IEEE division is deterministic, so the
# double equality matches DuckDB exactly.
register_sql(
    "sql_q2_min_cost_supplier",
    """
        SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name,
               p.p_partkey, p.p_name
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE p.p_size = 30 AND p.p_type = 'LARGE'
          AND r.r_name = 'EUROPE'
          AND l.l_extendedprice / l.l_quantity = (
              SELECT min(l2.l_extendedprice / l2.l_quantity)
              FROM lineitem l2
              JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
              WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        LIMIT 100
        """,
)

# TPC-H Q9 shape (product-type profit by nation and year). Without
# ps_supplycost, cost is proxied by 60% of the part's retail price
# per unit — the aggregate-over-5-way-join-with-LIKE shape is what
# matters. Exact DECIMAL profit; EXTRACT(YEAR ...) parses in both
# engines.
register_sql(
    "sql_q9_product_type_profit",
    f"""
        SELECT nation, o_year,
               CAST(sum(amount) AS DOUBLE) AS sum_profit
        FROM (
            SELECT n.n_name AS nation,
                   EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
                   {_REV}
                     - CAST(p.p_retailprice AS DECIMAL(18,2))
                       * CAST(0.6 AS DECIMAL(2,1)) * {_QTY} AS amount
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            WHERE p.p_name LIKE '%widget%'
        ) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
        """,
)

# TPC-H Q11 shape (important stock): per-part inventory value for
# suppliers in a nation group, kept only when it exceeds a
# fraction of the group total — an uncorrelated scalar subquery in
# HAVING that re-runs the same join+agg. Value = extendedprice ×
# quantity in exact DECIMAL.
register_sql(
    "sql_q11_important_stock",
    f"""
        SELECT l.l_partkey AS ps_partkey,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * {_QTY})
                    AS DOUBLE) AS value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
        GROUP BY l.l_partkey
        HAVING sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * {_QTY}) > (
            SELECT sum(CAST(l2.l_extendedprice AS DECIMAL(18,2))
                       * CAST(l2.l_quantity AS DECIMAL(18,2)))
                   * CAST(0.001 AS DECIMAL(4,3))
            FROM lineitem l2
            JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
            JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
            WHERE n2.n_name IN ('NATION_3', 'NATION_7'))
        ORDER BY value DESC, ps_partkey
        """,
)

# TPC-H Q16 shape (supplier-part relationship count): distinct
# suppliers per (brand, type, size) bucket with a NOT IN
# blacklist subquery. The reference excludes complaint suppliers
# via s_comment LIKE; this testdata has no comments, so the
# blacklist is negative-balance suppliers (6 exist at sf0.01).
register_sql(
    "sql_q16_supplier_part_count",
    """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#15'
          AND p.p_type NOT LIKE 'MEDIUM%'
          AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        """,
)

# TPC-H Q20 shape (potential part promotion): nested IN
# subqueries — the inner one a LIKE scan over part, the middle one
# a grouped HAVING over a year of lineitem — feeding a supplier
# semi-join, then a nation filter. Threshold 40 keeps ~226
# (supplier, part) groups at sf0.01.
register_sql(
    "sql_q20_promotion_suppliers",
    """
        SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l
            WHERE l.l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING sum(l.l_quantity) > 40)
          AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
        ORDER BY s.s_name
        """,
)

# Recursive CTE (Spark 4.x WITH RECURSIVE): generate the month
# spine recursively, LEFT JOIN facts onto it — the gaps-preserving
# calendar aggregation a pandas reference does with reindex().
# Identical text runs on DuckDB (its recursive CTE dialect
# matches), so the oracle IS the query.
register_sql(
    "sql_recursive_cte_months",
    """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01' AS m
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-12-01'
        )
        SELECT m AS month_ts, count(l_orderkey) AS n_items
        FROM months LEFT JOIN lineitem ON date_trunc('month', l_shipdate) = m
        GROUP BY m
        """,
)

# Correlated LATERAL subquery with ORDER BY + LIMIT: top-1 line
# item per order. Catalyst must decorrelate this to a window/join
# (no per-row re-execution); same text runs on DuckDB.
register_sql(
    "sql_lateral_topk_per_group",
    """
        SELECT o.o_orderkey, x.l_linenumber, x.l_extendedprice
        FROM orders o,
        LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
                 WHERE l.l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) x
        """,
)

# Native PIVOT syntax (vs the portable conditional-agg form
# registered as sql_agg_pivot_conditional). DuckDB's PIVOT dialect
# differs, so the oracle is the conditional-agg equivalent.
register_sql(
    "sql_pivot_native",
    """
        SELECT * FROM (SELECT l_returnflag, l_linestatus,
                              CAST(l_quantity AS DECIMAL(18,2)) AS q FROM lineitem)
        PIVOT (CAST(sum(q) AS DOUBLE) FOR l_linestatus IN ('O' AS qty_o, 'F' AS qty_f))
        """,
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f
        FROM lineitem GROUP BY l_returnflag
        """,
)

# Native UNPIVOT (wide -> long): nulls excluded by default, which
# these non-null columns make moot. Oracle is the UNION ALL
# equivalent.
register_sql(
    "sql_unpivot_native",
    """
        SELECT p_partkey, metric, val FROM
        (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_v, p_retailprice AS price_v FROM part)
        UNPIVOT (val FOR metric IN (size_v AS size, price_v AS price))
        """,
    oracle="""
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'price' AS metric, p_retailprice AS val FROM part
        """,
)


@register(
    "sql_variant_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4): parse_json once at scan time,
    then typed variant_get extraction — the open-schema semi-
    structured path that replaces repeated string JSON parsing.
    At 100 TB the parse happens once per row in the scan project,
    and the binary variant encoding is far cheaper to re-read than
    re-parsing JSON text per access."""
    ev = _t(spark, sf_dir, "events", rebalance=False)
    # try_parse_json: malformed rows become NULL instead of failing
    # the scan (the oracle's input is well-formed, so parity holds).
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint").alias("k")
    return (
        ev.select("event_type", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "sql_window_navigation_kit",
    oracle="""
    SELECT s_suppkey,
           cume_dist() OVER w AS cdist,
           first_value(s_suppkey) OVER w AS first_k,
           last_value(s_suppkey) OVER (
             ORDER BY s_acctbal DESC, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_k,
           nth_value(s_suppkey, 3) OVER w AS third_k
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-window completeness: cume_dist, first/last/nth
    value (last_value over the full frame — the default running
    frame is the classic footgun both engines share). Identical
    SQL text runs on Catalyst and DuckDB."""
    from build_datawarehouse_demo_spark.sources.readers import register_star_views

    register_star_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey,
               cume_dist() OVER w AS cdist,
               first_value(s_suppkey) OVER w AS first_k,
               last_value(s_suppkey) OVER (
                 ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS last_k,
               nth_value(s_suppkey, 3) OVER w AS third_k
        FROM supplier
        WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
        """
    )


# ------------------------------------------------------------------
# statistics family, windowed distinct, incremental-ingest dedup
# ------------------------------------------------------------------

@register(
    "sql_agg_stats_family",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(median(l_quantity), 6) AS med_qty,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + sample stddev/variance per group. Both
    engines compute incremental moments in doubles; at these
    magnitudes the cross-engine drift sits orders below the 6dp
    rounding (probed before registration)."""
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
    )


@register(
    "sql_window_distinct_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           count(DISTINCT o_orderpriority) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS n_priorities
    FROM orders
    """,
)
def q_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over a window. Spark has no
    count(DISTINCT) OVER — size(collect_set() OVER) is the
    idiomatic equivalent (set state is per distinct value, fine
    for low-cardinality payloads like priorities; for high-card
    columns use the HLL sketch entry instead)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders", rebalance=False).select(
        "o_custkey",
        "o_orderkey",
        F.size(F.collect_set("o_orderpriority").over(w))
        .cast("bigint")
        .alias("n_priorities"),
    )
